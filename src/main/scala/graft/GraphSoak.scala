package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Deep-chain soak for the two connected-components variants: the
  * default min-label + pointer-jumping loop vs the star-contraction
  * fallback ([[graft.ext.Graph.connectedComponentsStar]]). The scaladoc
  * guidance ("star for edges >> nodes or unknown diameter") was until
  * now argued from the papers, not measured — this harness builds the
  * adversarial shape for label propagation (long chains: diameter =
  * depth, so naive propagation is O(depth) rounds and only pointer
  * jumping / star contraction make it logarithmic) and reports
  * wall-clock, Spark job counts, and the correctness invariants
  * (component count == chains, every component exactly depth nodes).
  *
  * Usage: runMain graft.GraphSoak [chains] [depth]  (default 100 x 10k
  * = 1M nodes, ~1M edges — the 10x-soak order of magnitude).
  * Dev harness — not part of the driver contract surface.
  */
object GraphSoak {

  def main(args: Array[String]): Unit = {
    val chains = if (args.nonEmpty) args(0).toInt else 100
    val depth = if (args.length > 1) args(1).toInt else 10000
    val spark = LocalSession(32)
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    // the listener bus delivers asynchronously; without a quiesce a
    // run's last job-start events can be counted against the NEXT run.
    // waitUntilEmpty is private[spark], so poll until the count holds
    // still — job submission has stopped by the time this is called.
    def settledJobs(): Long = {
      var prev = jobs.get()
      Thread.sleep(200)
      var cur = jobs.get()
      while (cur != prev) { prev = cur; Thread.sleep(200); cur = jobs.get() }
      cur
    }
    // node ids 0 .. chains*depth-1; chain c owns [c*depth, (c+1)*depth);
    // an edge links consecutive ids within a chain -> diameter = depth
    val n = chains.toLong * depth
    val edges = spark.range(n)
      .where((col("id") + 1) % depth =!= 0)
      .select(col("id").as("a"), (col("id") + 1).as("b"))

    def run(name: String, star: Boolean): Unit = {
      // quiesce BEFORE t0: settledJobs' drain sleep must not count
      // against the run it precedes
      val j0 = settledJobs()
      val t0 = System.nanoTime()
      val comp = graft.ext.Graph.connectedComponents(
        edges, "a", "b", maxIter = 100, starContraction = star)
      val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_comp")).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      require(sizes.length == 1 && sizes(0).getLong(0) == depth &&
        sizes(0).getLong(1) == chains,
        s"$name wrong components: ${sizes.mkString(", ")}")
      println(f"GRAPHSOAK $name%-14s chains=$chains depth=$depth " +
        f"wall=$dt%7.2f s jobs=${settledJobs() - j0}")
      spark.catalog.clearCache()
    }
    // untimed warmup on a tiny graph: JIT + codegen out of the timings
    graft.ext.Graph.connectedComponents(
      edges.limit(1000), "a", "b", maxIter = 100).count()
    run("default", star = false)
    run("star", star = true)
    run("default", star = false)
    run("star", star = true)

    // ---- PageRank fixpoint sweep count vs graph DENSITY (the r16
    // verdict's q103 question: corpus replication provably leaves the
    // host graph invariant — the edge set is distinct()ed — so density
    // has to be varied HERE, on synthetic graphs). Deterministic
    // d-regular-ish digraphs on nn nodes: node i points at
    // (i·37 + j·17 + 1) mod nn for j < d (coprime strides spread
    // targets; self-loops are dropped by pageRankConverge itself).
    // Reported: exact-fixpoint sweep count and wall per density — the
    // evidence for whether a denser crawl graph moves q103's
    // driver-barrier bill.
    val nn = 50L
    Seq(2, 8, 25).foreach { d =>
      val dense = spark.range(nn).select(col("id").as("src"),
          explode(org.apache.spark.sql.functions.sequence(lit(0), lit(d - 1))).as("j"))
        .select(col("src"), ((col("src") * 37 + col("j") * 17 + 1) % nn).as("dst"))
      val t0 = System.nanoTime()
      val r = graft.ext.Graph.pageRankConverge(dense, 1000000000000L,
        maxIters = 200, tol = 0L, checkEvery = 4)
      r.ranks.count()
      println(f"GRAPHSOAK pagerank-density n=$nn d=$d%-3d iters=${r.iters}%-4d " +
        f"delta=${r.delta} wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
