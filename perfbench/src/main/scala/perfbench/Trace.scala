package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters seen by a `SparkListener` registered from the
  * benchmark: jobs, tasks, shuffle and spill bytes, and the wall-clock
  * interval of every job (to split an action's wall time into time inside
  * Spark jobs and the driver-side gap around them).
  */
final class EngineCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val open = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    open(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobBusyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }

  def snapshot(): Counts =
    Counts(jobs.get, tasks.get, shuffleWriteBytes.get, spillBytes.get)
}

final case class Counts(jobs: Long, tasks: Long, shuffleBytes: Long, spillBytes: Long) {
  def -(o: Counts): Counts =
    Counts(jobs - o.jobs, tasks - o.tasks, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  def +(o: Counts): Counts =
    Counts(jobs + o.jobs, tasks + o.tasks, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}

/** One timed call into a module's public function. */
final case class Span(layer: String, seconds: Double, counts: Counts, busyMs: Long)

/** The traced run's recorder: spans kept in memory, counters from the
  * listener, both written as JSON when the run ends. Nothing in the
  * engine is instrumented; every span is taken around a public call from
  * the benchmark's own code.
  */
final class Tracer(spark: SparkSession) {
  val counters = new EngineCounters
  spark.sparkContext.addSparkListener(counters)
  val spans = mutable.ArrayBuffer[Span]()

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  def span[T](layer: String)(body: => T): T = {
    drain()
    val before = counters.snapshot()
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val secs = (System.nanoTime() - t0) / 1e9
    val toMs = System.currentTimeMillis()
    drain()
    spans += Span(layer, secs, counters.snapshot() - before, counters.jobBusyMs(fromMs, toMs))
    out
  }

  def of(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq

  def close(): Unit = spark.sparkContext.removeSparkListener(counters)

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "layer" -> s.layer, "seconds" -> s.seconds, "jobs" -> s.counts.jobs,
    "tasks" -> s.counts.tasks, "shuffle_bytes" -> s.counts.shuffleBytes,
    "spill_bytes" -> s.counts.spillBytes, "job_busy_ms" -> s.busyMs))
}

object Stats {
  /** The midpoint median (the engine's `BenchUtil.median` is private to
    * its package). */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** CPU seconds used by this process so far (all threads). */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(dirBytes).sum

  def dirFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(dirFiles)

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteTree)
    f.delete()
    ()
  }
}
