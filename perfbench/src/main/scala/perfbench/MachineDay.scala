package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.fixtures.FixtureGen
import graft.io.JdbcSinks
import graft.model.Rules
import graft.ops.{CycleDetection, ErrorRules, HourlyRollup}
import graft.pipeline.DailyAggregatorJob
import graft.streaming.StreamingPipeline

/** The paper's own workload: a machine-day generated from the run's seed
  * goes through the batch job (enriched events written as parquet, hourly
  * summary upserted into in-memory Derby twice: insert pass, then re-run
  * update pass), then the same day is replayed as chunked CSV files
  * through the streaming hourly summary.
  */
object MachineDay {
  val Machines: Seq[String] = Seq("DieBonder_01", "DieBonder_02")
  val Minutes = 40
  val Chunks = 12
  val FilesPerTrigger = 3
  /** 23:40 start: the day crosses midnight, so two summary dates. */
  val StartIso = "2024-10-16T23:40:00Z"
  val Url = "jdbc:derby:memory:perfbench;create=true"
  val Table = "HOURLY_SUMMARY"
  val Keys: Seq[String] = Seq("summary_date", "hour_of_day", "machine_id")

  final case class Inputs(csv: File, streamDir: File, dataRows: Long)

  /** One seeded machine-day as a single CSV and as `Chunks` time-ordered
    * replay files (the file source lists paths in name order). */
  def generate(dir: File, seed: Long, minutes: Int = Minutes): Inputs = {
    Stats.deleteTree(dir)
    val streamDir = new File(dir, "stream")
    streamDir.mkdirs()
    val start = java.time.Instant.parse(StartIso).toEpochMilli
    val g = FixtureGen.generate(Machines, start, start + minutes * 60L * 1000,
      idleGapMs = (0, 0), errorRate = 0.02, seed = seed, withEdgeCases = false)
    val header = g.csvLines.head
    // the generator emits machine by machine; a stable sort on the
    // fixed-width ISO prefix makes the file chronological
    val data = g.csvLines.tail.sortBy(_.take(24))
    val csv = new File(dir, "machine_day.csv")
    FixtureGen.writeCsv(csv.getPath, header +: data)
    val per = (data.length + Chunks - 1) / Chunks
    data.grouped(per).zipWithIndex.foreach { case (block, i) =>
      FixtureGen.writeCsv(new File(streamDir, f"part_$i%03d.csv").getPath, header +: block)
    }
    Inputs(csv, streamDir, data.length.toLong)
  }

  private def jdbc[T](body: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(Url)
    try body(c) finally c.close()
  }

  def resetTable(): Unit = jdbc { c =>
    val st = c.createStatement()
    try {
      try st.executeUpdate(s"DROP TABLE $Table")
      catch { case _: java.sql.SQLException => () }
      st.executeUpdate(
        s"""CREATE TABLE $Table (
           |  summary_date DATE NOT NULL, hour_of_day INT NOT NULL,
           |  machine_id VARCHAR(50) NOT NULL,
           |  avg_pick_force DOUBLE, max_pick_force FLOAT, min_pick_force FLOAT,
           |  avg_place_force DOUBLE, max_place_force FLOAT, min_place_force FLOAT,
           |  as_vacuum_error_count BIGINT, pp_vacuum_error_count BIGINT,
           |  as_release_error_count BIGINT, pp_release_error_count BIGINT,
           |  pick_force_error_count BIGINT, place_force_error_count BIGINT,
           |  cycle_count BIGINT,
           |  min_cycle_time_seconds FLOAT, max_cycle_time_seconds FLOAT,
           |  avg_cycle_time_seconds DOUBLE,
           |  PRIMARY KEY (summary_date, hour_of_day, machine_id))""".stripMargin)
    } finally st.close()
    ()
  }

  def tableRows(): Long = jdbc { c =>
    val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $Table")
    rs.next()
    rs.getLong(1)
  }

  private def upsert(summary: DataFrame): Unit =
    JdbcSinks.upsert(summary, Url, Table, Keys, JdbcSinks.dialectFor(Url))

  private def writeCheck(df: DataFrame, dir: File): String = {
    df.coalesce(1).write.mode("overwrite").parquet(dir.getPath)
    dir.getPath
  }

  /** Set-up: generate the day and (re)create the sink table, `SetupReps`
    * times (the median is the set-up figure); the last inputs are used. */
  private def setup(dir: File, seed: Long, section: Section): Inputs =
    (1 to Main.SetupReps).map { _ =>
      val (inputs, secs) = Stats.time { val in = generate(dir, seed); resetTable(); in }
      section.setup += secs
      inputs
    }.last

  /** The untraced batch day; returns its wall seconds and check entry.
    * With `counted`, the day runs inside that one span, so its job count
    * and the time outside any Spark job are known; nothing inside the day
    * is traced. */
  private def batchDay(spark: SparkSession, in: Inputs, dir: File, round: Int,
      counted: Option[Tracer] = None): (Double, Map[String, Any]) = {
    val enrichedDir = new File(dir, "enriched")
    var pass1 = 0L
    def day[T](body: => T): T = counted.fold(body)(_.span("pipeline.batch_day")(body))
    val (out, secs) = day(Stats.time {
      val out = DailyAggregatorJob.run(spark, in.csv.getPath, Rules.referenceDefaults)
      out.enrichedEvents.write.mode("overwrite").parquet(enrichedDir.getPath)
      upsert(out.hourlySummary)
      pass1 = tableRows()
      upsert(out.hourlySummary)
      out
    })
    val op = Map[String, Any](
      "kind" -> "batch", "round" -> round, "csv" -> in.csv.getPath,
      "data_rows" -> in.dataRows, "enriched" -> enrichedDir.getPath,
      "enriched_bytes" -> Stats.dirBytes(enrichedDir),
      "summary" -> writeCheck(out.hourlySummary, new File(dir, "check_summary")),
      "derby" -> writeCheck(JdbcSinks.read(spark, Url, Table), new File(dir, "check_derby")),
      "derby_rows_pass1" -> pass1, "derby_rows_pass2" -> tableRows())
    out.unpersist()
    (secs, op)
  }

  final case class Replay(seconds: Double, rows: Long, progress: Seq[StreamingQueryProgress])

  private def replay(spark: SparkSession, in: Inputs, dir: File, round: Int): (Replay, Map[String, Any]) = {
    val latest = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    @volatile var schema: StructType = null
    val ckpt = new File(dir, "stream_ckpt")
    Stats.deleteTree(ckpt)
    val (q, secs) = Stats.time {
      val q = StreamingPipeline.withStateSizing(spark) {
        val clean = StreamingPipeline.cleanse(
          StreamingPipeline.readCsvStream(spark, in.streamDir.getPath, FilesPerTrigger))
        StreamingPipeline.hourlySummaryStream(clean, Rules.referenceDefaults)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt.getPath)
          .foreachBatch { (df: DataFrame, _: Long) =>
            schema = df.schema
            df.collect().foreach(r => latest.put(Keys.map(k => String.valueOf(r.getAs[Any](k))).mkString("|"), r))
          }
          .start()
      }
      try q.processAllAvailable() finally q.stop()
      q
    }
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val rows = progress.map(_.numInputRows).sum
    val finalRows = spark.createDataFrame(latest.values().asScala.toSeq.asJava, schema)
    val op = Map[String, Any](
      "kind" -> "stream", "round" -> round, "rows" -> rows, "triggers" -> progress.size,
      "stream_summary" -> writeCheck(finalRows, new File(dir, "check_stream")))
    (Replay(secs, rows, progress), op)
  }

  private def triggerMs(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(Double.NaN)

  /** Warm-up: the batch day and the replay on a 6-minute day, so the
    * measured rounds run on compiled plans and a warmed JIT. */
  private def warmUp(spark: SparkSession, work: File, seed: Long, s: Section): Unit = {
    val dir = new File(work, "round_warm")
    s.warmup = Stats.time {
      val tiny = generate(new File(dir, "input"), seed, minutes = 6)
      resetTable()
      batchDay(spark, tiny, dir, -1)
      replay(spark, tiny, dir, -1)
      Main.clearCaches(spark)
    }._2
  }

  def run(spark: SparkSession, work: File, seed: Long, seconds: Double): Section = {
    val s = new Section("machine_day")
    val in = setup(new File(work, "input"), seed, s)
    warmUp(spark, work, seed, s)
    Main.closedLoop(seconds) { round =>
      (0 until Main.Repeats).foreach { rep =>
        val step = round * Main.Repeats + rep
        val dir = new File(work, s"round_$step")
        resetTable()
        val cpu0 = Stats.cpuS()
        val (batchS, batchOp) = batchDay(spark, in, dir, step)
        s.add("batch_s", batchS)
        s.add("output_bytes", batchOp("enriched_bytes").asInstanceOf[Long].toDouble)
        s.ops += batchOp
        val (r, streamOp) = replay(spark, in, dir, step)
        s.add("cpu_s", Stats.cpuS() - cpu0)
        r.progress.foreach(p => s.add("step_ms", triggerMs(p)))
        s.add("items_per_s", r.rows / r.seconds)
        s.ops += streamOp
        Main.clearCaches(spark)
      }
    }
    s
  }

  /** Traced form: the warm-up, the batch day with every layer
    * called separately and materialized before the next, then the
    * untraced batch day the traced one is compared with, and one replay
    * whose per-trigger progress the engine reports itself. */
  def traced(spark: SparkSession, tracer: Tracer, work: File, seed: Long): Section = {
    val s = new Section("machine_day")
    val in = setup(new File(work, "input"), seed, s)
    warmUp(spark, work, seed, s)

    val tdir = new File(work, "round_traced")
    Stats.deleteTree(tdir)
    resetTable()
    var cachePeak = 0L
    def cacheBytes(): Unit = cachePeak = math.max(cachePeak,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    val rules = Rules.referenceDefaults
    val clean = tracer.span("pipeline.read_cleanse_s") {
      val c = DailyAggregatorJob.cleanse(DailyAggregatorJob.readRawCsv(spark, in.csv.getPath))
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    cacheBytes()
    val (events, cycles) = tracer.span("ops.cycle_detection_s") {
      val (e, c) = CycleDetection.detect(clean)
      val ep = e.persist(StorageLevel.MEMORY_AND_DISK)
      val cp = c.persist(StorageLevel.MEMORY_AND_DISK)
      ep.count()
      cp.count()
      (ep, cp)
    }
    cacheBytes()
    val flagged = tracer.span("ops.error_rules_s") {
      val f = ErrorRules.flag(events, rules).persist(StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    }
    cacheBytes()
    tracer.span("pipeline.enrich_write_s") {
      // the enrichment join exactly as DailyAggregatorJob.process builds it
      flagged
        .join(cycles.select("machine_id", "cycle_seq", "cycle_time_seconds"),
          Seq("machine_id", "cycle_seq"), "left")
        .withColumn("cycle_time_seconds", round(col("cycle_time_seconds"), 3))
        .select("event_timestamp", "machine_id", "event_name", "parameter_name",
          "value", "is_error", "cycle_seq", "cycle_time_seconds")
        .write.mode("overwrite").parquet(new File(tdir, "enriched").getPath)
    }
    val summary = tracer.span("ops.hourly_rollup_s") {
      val h = HourlyRollup.hourlySummary(flagged, cycles).persist(StorageLevel.MEMORY_AND_DISK)
      h.count()
      h
    }
    cacheBytes()
    tracer.span("io.jdbc_upsert_s") { upsert(summary); upsert(summary) }
    Seq(clean, events, cycles, flagged, summary).foreach(_.unpersist())
    Main.clearCaches(spark)

    val dir = new File(work, "round_0")
    resetTable()
    val (untracedS, batchOp) = batchDay(spark, in, dir, 0, Some(tracer))
    s.ops += batchOp
    val (r, streamOp) = replay(spark, in, dir, 0)
    s.ops += streamOp
    Main.clearCaches(spark)

    val batchLayers = Seq("pipeline.read_cleanse_s", "ops.cycle_detection_s",
      "ops.error_rules_s", "pipeline.enrich_write_s", "ops.hourly_rollup_s", "io.jdbc_upsert_s")
    val spans = batchLayers.flatMap(tracer.of)
    batchLayers.foreach(l => s.layers(l) = tracer.of(l).map(_.seconds).sum)
    val counts = spans.map(_.counts).reduce(_ + _)
    val tracedS = spans.map(_.seconds).sum
    s.layers("spark.batch_jobs") = counts.jobs.toDouble
    s.layers("spark.batch_tasks") = counts.tasks.toDouble
    s.layers("spark.batch_shuffle_bytes") = counts.shuffleBytes.toDouble
    s.layers("spark.batch_spill_bytes") = counts.spillBytes.toDouble
    s.layers("spark.cache_peak_bytes") = cachePeak.toDouble
    s.layers("pipeline.batch_day_untraced_s") = untracedS
    s.layers("pipeline.batch_day_traced_s") = tracedS
    s.layers("trace.batch_overhead_s") = tracedS - untracedS
    val day = tracer.of("pipeline.batch_day").head
    s.layers("spark.batch_untraced_jobs") = day.counts.jobs.toDouble
    s.layers("spark.batch_sched_gap_s") = day.seconds - day.busyMs / 1000.0

    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    s.layers("streaming.add_batch_ms") = Stats.median(r.progress.map(dur(_, "addBatch")))
    s.layers("streaming.state_commit_ms") =
      Stats.median(r.progress.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum))
    s.layers("streaming.log_commit_ms") =
      Stats.median(r.progress.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")))
    s.layers("streaming.state_rows") =
      r.progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
    s.layers("streaming.trigger_p50_ms") = Stats.median(r.progress.map(triggerMs))
    s.layers("streaming.rows_per_s") = r.rows / r.seconds
    s
  }
}
