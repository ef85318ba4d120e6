package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What one section of a run hands back to the runner: raw samples per
  * metric, the set-up samples and warm-up time, the operations it
  * attempted (each with the artifacts the runner's checkers read) and,
  * when traced, per-layer figures.
  */
final class Section(val name: String) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val setup = mutable.ArrayBuffer[Double]()
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  /** Untimed warm-up before the measured rounds; part of set-up. */
  var warmup = 0.0

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer[Double]()) += v

  def toMap: Map[String, Any] = Map(
    "samples" -> samples.map { case (k, v) => k -> v.toSeq },
    "setup" -> setup.toSeq, "warmup" -> warmup, "ops" -> ops.toSeq, "layers" -> layers, "info" -> info)
}

/** Entry point of the benchmark JVM:
  *
  *   perfbench.Main <workload> <seconds> <trace 0|1> <workDir> <dataDir> <seed>
  *
  * Untraced runs measure one workload (`machine_day` or `catalog_queries`)
  * in a closed loop for `seconds`. Traced runs measure the layers of those
  * two and of the corpus ingest loops once (see each workload's `traced`). Results go to `<workDir>/result.json`.
  */
object Main {
  /** Set-up is repeated this many times per run; its median is reported. */
  val SetupReps = 3
  /** A round runs the workload's operations this many times, so one round
    * already holds several samples of each. */
  val Repeats = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, workArg, dataArg, seedArg) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(4, "perfbench")
    spark.range(1).count()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val work = new File(workArg)
    val data = new File(dataArg)
    val seconds = secondsArg.toDouble
    val seed = seedArg.toLong
    val out = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
    try {
      if (traceArg == "1") {
        val tracer = new Tracer(spark)
        val sections = Seq(
          MachineDay.traced(spark, tracer, new File(work, "machine_day"), seed),
          CatalogMix.traced(spark, tracer, new File(work, "catalog"), data),
          CorpusIngest.traced(spark, tracer, new File(work, "corpus"), new File(data, "corpus")))
        tracer.close()
        out("sections") = sections.map(s => s.name -> s.toMap).toMap
        out("spans") = tracer.spansJson
      } else {
        val section = workload match {
          case "machine_day" => MachineDay.run(spark, new File(work, "machine_day"), seed, seconds)
          case "catalog_queries" => CatalogMix.run(spark, new File(work, "catalog"), data, seconds)
          case other => sys.error(s"unknown workload: $other")
        }
        out("sections") = Map(section.name -> section.toMap)
      }
    } finally {
      val f = new File(work, "result.json")
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(f, out)
      spark.stop()
    }
  }

  /** Runs `round` until `seconds` have passed, always finishing a started
    * round, so every run attempts whole rounds of the same operations.
    */
  def closedLoop(seconds: Double)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      round(i)
      i += 1
    }
  }

  def clearCaches(spark: SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()
}
