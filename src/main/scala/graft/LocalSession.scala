package graft

import org.apache.spark.sql.SparkSession

/** The session every CLI main runs in: `local[cores]` with one shuffle
  * partition per core, UTC session time, the nanos-as-long parquet flag
  * set for the whole session ([[graft.engine.Tables.NanosFlag]] — the
  * `events` table is unreadable without it, also through
  * `Tables.read`), no UI, and WARN logging. */
object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.engine.Tables.NanosFlag, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
