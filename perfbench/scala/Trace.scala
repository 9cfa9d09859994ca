package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans around the harness's calls into the engine. A span sets the
  * thread's Spark job group to its own id, so every job (and through the
  * job, every stage and task) is attributed to the innermost span that
  * caused it. Spans live in memory until the run ends. When `on` is
  * false every method is a pass-through, which is how the timed runs
  * use it. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer[Span]()
  /** (unit, bytes written, files written, bytes after) per store write. */
  val writes = mutable.ArrayBuffer[(Int, Long, Long, Long)]()
  /** (unit, storage MB, cached RDDs) still held after a step. */
  val residuals = mutable.ArrayBuffer[(Int, Double, Int)]()
  /** (unit, storage MB) sampled at every span end. */
  val storage = mutable.ArrayBuffer[(Int, Double)]()
  var unit = 0
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), unit,
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L, Jvm.gcMs(), Jvm.jitMs(), 0L, 0L)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.t1 = System.nanoTime(); s.ms1 = System.currentTimeMillis()
        s.gc = Jvm.gcMs() - s.gc0; s.jit = Jvm.jitMs() - s.jit0
        storage += ((unit, Tracer.storageMb(spark)._1))
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def storeWrite(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Unit =
    if (on) {
      val (b, f) = Disk.written(before, after)
      writes += ((unit, b, f, after.values.map(_._1).sum))
    }

  def cacheResidual(spark: SparkSession): Unit =
    if (on) {
      val (mb, n) = Tracer.storageMb(spark)
      residuals += ((unit, mb, n))
    }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, unit: Int,
                        t0: Long, var t1: Long, ms0: Long, var ms1: Long,
                        gc0: Long, jit0: Long, var gc: Long, var jit: Long)

  private val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id

  /** The span that caused each job: the span whose job group the job
    * carries, else (jobs that run under a group of their own, such as a
    * streaming query's micro-batches) the innermost span open when the
    * job started. Only one client thread runs, so that span caused it. */
  def owners(spans: Seq[Span], jobs: Seq[SparkCounters#Job]): Map[Int, Seq[SparkCounters#Job]] =
    jobs.flatMap { j =>
      val id =
        if (j.group.startsWith(Prefix)) Some(j.group.stripPrefix(Prefix).toInt)
        else spans.filter(s => s.ms0 <= j.start && j.start <= s.ms1).maxByOption(_.t0).map(_.id)
      id.map(_ -> j)
    }.groupMap(_._1)(_._2)

  /** Storage memory held by cached RDDs (memory plus disk), and how many. */
  def storageMb(spark: SparkSession): (Double, Int) = {
    val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (rdds.map(r => r.memSize + r.diskSize).sum / 1048576.0, rdds.length)
  }
}

/** Per-job counters: the job's group and interval, its submitted
  * stages, and the task metrics of those stages. */
final class SparkCounters extends SparkListener {
  final class Job(val group: String, val start: Long) {
    var end = 0L
    var stages, tasks, failed = 0L
    var runMs, cpuNs, schedMs, shufW, shufR, spill = 0L
  }
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private var started, ended = 0L
  @volatile private var lastEvent = System.currentTimeMillis()

  def all: Seq[Job] = synchronized(jobs.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val j = new Job(g, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
    started += 1
    lastEvent = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    ended += 1
    lastEvent = System.currentTimeMillis()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.shufW += m.shuffleWriteMetrics.bytesWritten
        j.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.spill += m.diskBytesSpilled
      }
    }
    lastEvent = System.currentTimeMillis()
  }

  /** Wait until the listener bus has delivered every job's end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (synchronized(started != ended) || System.currentTimeMillis() - lastEvent < 200))
      Thread.sleep(20)
  }
}

/** Streaming progress as Spark reports it, one entry per trigger. */
final class StreamCounters extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private var started, terminated = 0

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized(started += 1)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized(terminated += 1)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  /** Wait until every started query has reported termination; returns
    * all progress received so far. */
  def drain(): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline && synchronized(started != terminated))
      Thread.sleep(20)
    synchronized(progress.toSeq)
  }
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
}

/** Directory listings, so store writes are measured from the outside. */
object Disk {
  def listing(path: String): Map[String, (Long, Long)] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .flatMap(p => Try(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toOption)
        .toMap
      finally s.close()
    }
  }

  def bytes(path: String): Long = listing(path).values.map(_._1).sum

  /** Bytes and files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val fresh = after.filter { case (p, v) => !before.get(p).contains(v) }
    (fresh.values.map(_._1).sum, fresh.size.toLong)
  }
}

/** Contention on the box during the timed window: this JVM's run-queue
  * delay (`/proc/self/task/<tid>/schedstat`, second field), the CPU
  * time other processes held (`/proc/stat` busy time, steal included,
  * minus this process's `/proc/self/stat` utime+stime), and the steal
  * part alone (time a hypervisor gave this machine's CPUs to others).
  * A value that cannot be read is None (null in the output), never 0. */
object Contention {
  private val UserHz = 100.0 // USER_HZ, the /proc tick unit on Linux

  def runQueueNs(): Option[Long] = Try {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    val vals = tasks.toSeq.flatMap(t =>
      Try(Files.readString(Paths.get(t.getPath, "schedstat")).trim.split("\\s+")(1).toLong).toOption)
    if (vals.isEmpty) None else Some(vals.sum)
  }.toOption.flatten

  /** (busy, steal, this process's utime+stime), in ticks. */
  def busyJiffies(): Option[(Long, Long, Long)] = Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    val busy = f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 && i < 8 => v }.sum
    val self = Files.readString(Paths.get("/proc/self/stat"))
    val fields = self.substring(self.lastIndexOf(')') + 2).trim.split("\\s+")
    (busy, f(7), fields(11).toLong + fields(12).toLong) // utime, stime
  }.toOption

  final class Window(rq0: Option[Long], cpu0: Option[(Long, Long, Long)], t0: Long) {
    def stop(): Map[String, Any] = {
      val rq = for (a <- rq0; b <- runQueueNs()) yield (b - a).max(0L) / 1e9
      val cpu1 = busyJiffies()
      val other = for ((b0, _, s0) <- cpu0; (b1, _, s1) <- cpu1)
        yield ((b1 - b0) - (s1 - s0)).max(0L) / UserHz
      val steal = for ((_, st0, _) <- cpu0; (_, st1, _) <- cpu1) yield (st1 - st0) / UserHz
      Map("runq_delay_s" -> rq, "other_cpu_s" -> other, "steal_s" -> steal,
        "window_s" -> (System.nanoTime() - t0) / 1e9)
    }
  }

  def start(): Window = new Window(runQueueNs(), busyJiffies(), System.nanoTime())

  /** Peak resident set (VmHWM) and its current anonymous and
    * file-backed parts, in MB, from /proc/self/status; absent if
    * unreadable. */
  def memoryMb(): Map[String, Double] = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.flatMap { l =>
      val f = l.split("\\s+")
      if (Set("VmHWM:", "RssAnon:", "RssFile:").contains(f(0))) Some(f(0).dropRight(1) -> f(1).toDouble / 1024.0)
      else None
    }.toMap
  }.getOrElse(Map.empty)
}
