package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.queries.{Catalog, Q}

/** The analyst/dashboard read path: a fixed mix of catalog queries over
  * the seeded star-schema corpus, run one after another, each result
  * materialized as parquet (one directory per execution, which the runner
  * compares with the query's DuckDB oracle).
  */
object CatalogMix {
  /** One pass, in order: TPC-H shapes, SURVEY §2 rows and light extension
    * queries, each a handful of short Spark jobs. */
  val Mix: Seq[String] = Seq(
    "q1_pricing_summary", "a3_group_stats", "q3_shipping_priority",
    "ext_dedup_exact", "q6_forecast_revenue", "j1_left_join_enrich",
    "ext_sketch_hll", "w2_sessionize", "q18_large_orders")
  /** A floor-bound extension query of dozens of jobs, 7-11 s on 4 cores:
    * three executions per untraced run do not fit the run budget, so only
    * the traced run measures it (once, after the traced pass). */
  val Heavy: Seq[String] = Seq("ext_ann_ivf_pq")

  private def byName(names: Seq[String]): Seq[Q] = {
    val all = Catalog.all.map(q => q.name -> q).toMap
    names.map(n => all.getOrElse(n, sys.error(s"catalog has no query $n")))
  }

  def queries: Seq[Q] = byName(Mix)

  private def execute(spark: SparkSession, q: Q, data: File, out: File): Unit =
    q.run(spark, data.getPath).write.mode("overwrite").parquet(out.getPath)

  private def describe(s: Section): Unit =
    s.info("oracle") = byName(Mix ++ Heavy).map(q => q.name -> q.oracle.orNull).toMap

  /** One pass over the mix; returns per-query wall seconds. Round -1 is
    * the warm-up pass, whose outputs are not checked. */
  private def pass(spark: SparkSession, s: Section, data: File, dir: File, round: Int): Seq[Double] =
    queries.map { q =>
      val out = new File(dir, q.name)
      val (_, secs) = Stats.time(execute(spark, q, data, out))
      if (round >= 0)
        s.ops += Map("kind" -> "query", "round" -> round, "name" -> q.name, "out" -> out.getPath)
      Main.clearCaches(spark)
      secs
    }

  def run(spark: SparkSession, work: File, data: File, seconds: Double): Section = {
    val s = new Section("catalog_queries")
    describe(s)
    s.warmup = pass(spark, s, data, new File(work, "round_warm"), -1).sum
    Main.closedLoop(seconds) { round =>
      (0 until Main.Repeats).foreach { rep =>
        val step = round * Main.Repeats + rep
        val dir = new File(work, s"round_$step")
        val cpu0 = Stats.cpuS()
        val secs = pass(spark, s, data, dir, step)
        s.add("cpu_s", Stats.cpuS() - cpu0)
        secs.foreach(x => s.add("step_ms", x * 1000))
        s.add("batch_s", secs.sum)
        s.add("items_per_s", secs.size / secs.sum)
        s.add("output_bytes", Stats.dirBytes(dir).toDouble)
      }
    }
    s
  }

  /** Traced form: the per-action floor, one pass with each query's
    * planning, execution and engine counts split out, then one untraced
    * pass, then the heavy queries, traced the same way. The traced pass
    * runs first, as the pass of an untraced run does, so its layers are
    * measured in the same (cold) state; the overhead figure (traced minus
    * the warmer untraced pass) is an upper bound. */
  def traced(spark: SparkSession, tracer: Tracer, work: File, data: File): Section = {
    val s = new Section("catalog_queries")
    describe(s)
    val floor = (1 to 12).map(_ => Stats.time(spark.range(1).count())._2 * 1000).drop(2)
    s.layers("core.action_floor_ms") = Stats.median(floor)
    val dir = new File(work, "round_traced")
    def tracedQuery(layer: String)(q: Q): Double = {
      var planMs = 0.0
      tracer.span(layer) {
        val df = q.run(spark, data.getPath)
        planMs = Stats.time(df.queryExecution.executedPlan)._2 * 1000
        df.write.mode("overwrite").parquet(new File(dir, q.name).getPath)
      }
      s.ops += Map("kind" -> "query", "round" -> -1, "name" -> q.name,
        "out" -> new File(dir, q.name).getPath)
      Main.clearCaches(spark)
      planMs
    }
    val plans = queries.map(tracedQuery("queries.query"))
    val untracedMs = pass(spark, s, data, new File(work, "round_0"), 0).map(_ * 1000)
    val untraced = untracedMs.sum / 1000
    val spans = tracer.of("queries.query")
    val wallMs = spans.map(_.seconds * 1000)
    s.layers("queries.plan_ms") = Stats.median(plans)
    s.layers("queries.exec_ms") = Stats.median(wallMs.zip(plans).map { case (w, p) => w - p })
    s.layers("spark.jobs_per_query") = spans.map(_.counts.jobs).sum.toDouble / spans.size
    s.layers("spark.tasks_per_query") = spans.map(_.counts.tasks).sum.toDouble / spans.size
    s.layers("spark.sched_gap_ms") =
      Stats.median(spans.map(sp => sp.seconds * 1000 - sp.busyMs))
    s.layers("spark.shuffle_bytes_per_pass") = spans.map(_.counts.shuffleBytes).sum.toDouble
    s.layers("queries.pass_untraced_s") = untraced
    s.layers("queries.query_p50_ms") = Stats.median(untracedMs)
    s.layers("queries.query_p90_ms") = Stats.quantile(untracedMs, 0.9)
    s.layers("queries.per_s") = untracedMs.size / untraced
    s.layers("trace.query_overhead_ms") = (wallMs.sum / 1000 - untraced) * 1000 / spans.size

    byName(Heavy).foreach(tracedQuery("queries.heavy"))
    val heavy = tracer.of("queries.heavy")
    s.layers("queries.heavy_ms") = Stats.median(heavy.map(_.seconds * 1000))
    s.layers("spark.jobs_per_heavy_query") = Stats.median(heavy.map(_.counts.jobs.toDouble))
    s.layers("spark.heavy_sched_gap_ms") =
      Stats.median(heavy.map(sp => sp.seconds * 1000 - sp.busyMs))
    s
  }
}
