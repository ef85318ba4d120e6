package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.core.FsPaths
import graft.ops.{Similarity, TextDedup}
import graft.streaming.{DedupStream, EmbedIngest}

/** The growing-index ingest loops, measured in the traced run only: the
  * `foreachBatch` body of `DedupStream.incrementalIngest` and then of
  * `EmbedIngest.incrementalIngest`, each over a file-stream replay of
  * seeded tick files, each starting from a freshly written seed index,
  * with `maxSlices` compaction firing during the loop.
  */
object CorpusIngest {
  val K = 2
  val Tau = 0.8
  val MaxSlices = 0
  val NProbe = 2
  val CentroidStride = 50L

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  final case class Loop(seconds: Double, progress: Seq[StreamingQueryProgress])

  private def replay(spark: SparkSession, dir: File, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir.getPath)

  private def drive(start: => StreamingQuery): Loop = {
    val (q, secs) = Stats.time {
      val q = start
      try q.processAllAvailable() finally q.stop()
      q
    }
    Loop(secs, q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  private def tickMs(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(Double.NaN)

  final case class Dirs(root: File) {
    val textIdx = new File(root, "text_index")
    val ivfIdx = new File(root, "ivf_index")
    val textOut = new File(root, "text_out")
    val embedOut = new File(root, "embed_out")
    val textCkpt = new File(root, "text_ckpt")
    val embedCkpt = new File(root, "embed_ckpt")
  }

  private def seedIndexes(spark: SparkSession, tracer: Tracer, data: File, d: Dirs): Unit = {
    tracer.span("ops.text_index_seed_s")(
      TextDedup.writeIncrementalIndex(
        spark.read.parquet(new File(data, "docs_seed.parquet").getPath), d.textIdx.getPath, k = K))
    tracer.span("ops.ivf_index_seed_s")(
      Similarity.writeIvfIndex(
        spark.read.parquet(new File(data, "vecs_seed.parquet").getPath), d.ivfIdx.getPath,
        centroidStride = CentroidStride))
  }

  private def items(l: Loop): Long = l.progress.map(_.numInputRows).sum

  /** Traced form: one round whose loops run the same `foreachBatch` body
    * as `incrementalIngest` with each call timed: crashed-tag cleanup,
    * `compactIfNeeded` (with the index's file listing before and after, to
    * count the bytes a compaction rewrote) and `ingestTick`. */
  def traced(spark: SparkSession, tracer: Tracer, work: File, data: File): Section = {
    val s = new Section("corpus_ingest")
    val d = Dirs(new File(work, "round_traced"))
    Stats.deleteTree(d.root)
    seedIndexes(spark, tracer, data, d)
    var rewritten = 0L
    def compact(layer: String, idx: File)(body: => Boolean): Unit = {
      val before = Stats.dirFiles(idx).map(_.getPath).toSet
      if (tracer.span(layer)(body))
        rewritten += Stats.dirFiles(idx).filterNot(f => before(f.getPath)).map(_.length).sum
    }
    val text = drive(replay(spark, new File(data, "docs_ticks"), DocSchema).writeStream
      .outputMode("append").option("checkpointLocation", d.textCkpt.getPath)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val tag = s"b$id"
        FsPaths.dropCrashedTag(df.sparkSession, d.textIdx.getPath, Seq("hashes", "shingles", "df"), tag)
        compact("streaming.text_compact_s", d.textIdx)(
          DedupStream.compactIfNeeded(df.sparkSession, d.textIdx.getPath, MaxSlices, tag))
        tracer.span("streaming.text_tick_s")(DedupStream.ingestTick(df.sparkSession, df,
          d.textIdx.getPath, d.textOut.getPath, tag, k = K, tau = Tau, maxShingleDf = Long.MaxValue))
        ()
      }.start())
    val embed = drive(replay(spark, new File(data, "vecs_ticks"), VecSchema).writeStream
      .outputMode("append").option("checkpointLocation", d.embedCkpt.getPath)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val tag = s"b$id"
        FsPaths.dropCrashedTag(df.sparkSession, d.ivfIdx.getPath, Seq("lists", "codes"), tag)
        compact("streaming.embed_compact_s", d.ivfIdx)(
          EmbedIngest.compactIfNeeded(df.sparkSession, d.ivfIdx.getPath, MaxSlices, tag))
        tracer.span("streaming.embed_tick_s")(EmbedIngest.ingestTick(df.sparkSession, df,
          d.ivfIdx.getPath, d.embedOut.getPath, tag, tau = Tau, nProbe = NProbe,
          centroidStride = CentroidStride))
        ()
      }.start())
    Main.clearCaches(spark)

    def med(layer: String) = Stats.median(tracer.of(layer).map(_.seconds))
    def total(layer: String) = tracer.of(layer).map(_.seconds).sum
    s.layers("ops.text_index_seed_s") = total("ops.text_index_seed_s")
    s.layers("ops.ivf_index_seed_s") = total("ops.ivf_index_seed_s")
    s.layers("streaming.text_tick_s") = med("streaming.text_tick_s")
    s.layers("streaming.text_compact_s") = total("streaming.text_compact_s")
    s.layers("streaming.embed_tick_s") = med("streaming.embed_tick_s")
    s.layers("streaming.embed_compact_s") = total("streaming.embed_compact_s")
    val ticks = tracer.of("streaming.text_tick_s") ++ tracer.of("streaming.embed_tick_s")
    s.layers("spark.jobs_per_tick") = ticks.map(_.counts.jobs).sum.toDouble / ticks.size
    s.layers("core.compact_bytes_rewritten") = rewritten.toDouble
    s.layers("streaming.index_files") = (Stats.dirFiles(d.textIdx) ++ Stats.dirFiles(d.ivfIdx)).size.toDouble
    s.layers("streaming.text_trigger_p50_ms") = Stats.median(text.progress.map(tickMs))
    s.layers("streaming.embed_trigger_p50_ms") = Stats.median(embed.progress.map(tickMs))
    s.layers("streaming.loops_traced_s") = text.seconds + embed.seconds
    s.layers("streaming.ingest_items_per_s") =
      (items(text) + items(embed)) / (text.seconds + embed.seconds)
    s.layers("streaming.index_bytes") = (Stats.dirBytes(d.textIdx) + Stats.dirBytes(d.ivfIdx)).toDouble
    s.ops += Map("kind" -> "text_loop", "round" -> -1, "out" -> d.textOut.getPath,
      "ticks" -> text.progress.size)
    s.ops += Map("kind" -> "embed_loop", "round" -> -1, "out" -> d.embedOut.getPath,
      "ticks" -> embed.progress.size)
    s
  }
}
