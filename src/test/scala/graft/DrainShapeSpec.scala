package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Streaming
import graft.tables.Tables

/** The no-data-batch invariant of `Streaming.streamSession`: it turns
  * trailing no-data micro-batches off, which is only sound while no drain
  * needs one. Every `def drain*` in Streaming.scala, and every query
  * registration in SparkEntry.scala that drains a stream, is classified
  * by what makes its result independent of a trailing batch, and each
  * class is checked by draining a representative with the trailing batch
  * on and off. A drain nobody classified fails the listing; a drain that
  * needs a trailing batch fails the on/off comparison.
  */
class DrainShapeSpec extends SparkSpec {
  import DrainShapeSpec._

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  private def drainsIn(src: String): Seq[String] =
    """def (drain\w+)""".r.findAllMatchIn(src).map(_.group(1)).toSeq.distinct

  private def unclassified(src: String): Seq[String] =
    drainsIn(src).filterNot(shapes.contains)

  /** The text of `def name` up to the next definition in `src`. */
  private def body(src: String, name: String): String = {
    val from = src.indexOf(s"def $name(")
    val next = """\n  (private )?def |\n  /\*\*""".r
      .findFirstMatchIn(src.substring(from + 4)).map(_.start + from + 4)
    src.substring(from, next.getOrElse(src.length))
  }

  test("every def drain* in Streaming.scala is classified, and only those") {
    val src = read("src/main/scala/graft/streaming/Streaming.scala")
    assert(drainsIn(src).size >= 20)
    assert(unclassified(src).isEmpty,
      s"classify these drains in DrainShapeSpec.shapes: ${unclassified(src)}")
    assert(shapes.keySet == drainsIn(src).toSet,
      s"stale entries: ${shapes.keySet -- drainsIn(src)}")
    // a new drain nobody classified fails the listing
    val toy = src + "\n  def drainToyTrailing(stream: DataFrame): DataFrame = ???\n"
    assert(unclassified(toy) == Seq("drainToyTrailing"))
    // the class matches the sink's output mode
    shapes.foreach { case (name, shape) =>
      val complete = body(src, name).contains("OutputMode.Complete()")
      assert(complete == (shape == CompleteMode), s"$name is classified $shape")
    }
    // every drain runs through the one micro-batch runner: a drain that
    // forks its own runner fails the listing
    Seq(".writeStream", "Trigger.AvailableNow()").foreach { call =>
      assert(src.split(java.util.regex.Pattern.quote(call), -1).length - 1 == 1,
        s"$call must appear exactly once in Streaming.scala (its runner)")
    }
  }

  /** (query name, its registration's text) for every registration in
    * `src` whose body drains a stream.
    */
  private def drainingQueries(src: String): Seq[(String, String)] = {
    val regs = """(?m)^\s*"(q_\w+)"\s*->""".r.findAllMatchIn(src).toSeq
    regs.zipWithIndex.map { case (m, i) =>
      m.group(1) -> src.substring(m.start,
        if (i + 1 < regs.size) regs(i + 1).start else src.length)
    }.filter(_._2.contains("Streaming.drain"))
  }

  test("every query registration that drains a stream is classified, " +
      "consistently with its drains and its source") {
    val src = read("src/main/scala/graft/SparkEntry.scala")
    val qs = drainingQueries(src)
    assert(qs.size >= 30)
    assert(qs.map(_._1).filterNot(queryShapes.contains).isEmpty,
      s"classify in DrainShapeSpec.queryShapes: ${qs.map(_._1).filterNot(queryShapes.contains)}")
    assert(queryShapes.keySet == qs.map(_._1).toSet,
      s"stale entries: ${queryShapes.keySet -- qs.map(_._1)}")
    val toy = src + "\n    \"q_stream_toy\" -> ((s, dir) => Streaming.drainAppendToParquet(???, \"t\")),\n"
    assert(drainingQueries(toy).map(_._1).filterNot(queryShapes.contains) ==
      Seq("q_stream_toy"))
    qs.foreach { case (q, text) =>
      val drains = """Streaming\.(drain\w+)""".r.findAllMatchIn(text).map(_.group(1)).toSet
      val shape = queryShapes(q)
      assert(text.contains("stageSplitSourceWithFlush") == (shape == SentinelFlushed),
        s"$q is classified $shape")
      val drainShape = if (shape == CompleteMode) CompleteMode else DataBatch
      assert(drains.forall(shapes(_) == drainShape), s"$q is classified $shape: $drains")
    }
  }

  /** (trailing batch off, trailing batch on) drained rows of `drain`,
    * each run on its own streamSession.
    */
  private def offAndOn(tag: String)(drain: (SparkSession, String) => DataFrame)
      : (Seq[String], Seq[String]) = {
    def rows(noData: Boolean): Seq[String] = {
      val s = Streaming.streamSession(spark)
      if (noData) s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      drain(s, s"drainshape_${tag}_$noData").collect().map(_.toString).toSeq.sorted
    }
    (rows(noData = false), rows(noData = true))
  }

  /** The sf0.001 events as a 3-file ts-ordered stream on `s`, with event
    * time as a TIMESTAMP `ts_t`.
    */
  private def events(s: SparkSession, staged: String): DataFrame =
    s.readStream.schema(Tables.events(s, sf0001).schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))

  /** Hourly event counts, emitted in append mode as the watermark closes
    * each window.
    */
  private def hourly(ev: DataFrame): DataFrame =
    ev.withWatermark("ts_t", "30 minutes")
      .groupBy(window(col("ts_t"), "1 hour")).agg(count(lit(1)).as("n"))

  test("a toy drain that relies on a trailing batch to close its last " +
      "windows changes its result when the trailing batch is off") {
    val staged = Streaming.stageSplitSource(spark, sf0001, "events", "ts")
    val (off, on) = offAndOn("toy") { (s, name) =>
      Streaming.drainAppendToParquet(hourly(events(s, staged)), name)
    }
    assert(on.size > off.size,
      s"the trailing batch closes more windows: off ${off.size}, on ${on.size}")
  }

  test("Complete-mode: a Complete drain's last data batch holds the " +
      "converged state") {
    val staged = Streaming.stageSplitSource(spark, sf0001, "events", "ts")
    val (off, on) = offAndOn("complete") { (s, name) =>
      Streaming.drainToParquet(events(s, staged)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n")), name)
    }
    assert(off.nonEmpty && off == on)
  }

  test("sentinel-flushed: flush files close every window without a " +
      "trailing batch") {
    val staged = Streaming.stageSplitSourceWithFlush(spark, sf0001, "events",
      "ts", "drainshape",
      (df, mx) => df.limit(1).withColumn("ts", lit(mx + 365L * 24 * 3600 * 1000000000L))
        .withColumn("event_id", lit(-1L)))
    val (off, on) = offAndOn("sentinel") { (s, name) =>
      // real rows only: the sentinels' own windows are not part of the result
      Streaming.drainAppendToParquet(events(s, staged)
          .withWatermark("ts_t", "30 minutes")
          .groupBy(window(col("ts_t"), "1 hour"))
          .agg(sum(when(col("event_id") === -1L, 0L).otherwise(1L)).as("n")), name)
        .filter(col("n") > 0)
    }
    assert(off.nonEmpty && off == on)
  }

  test("data-batch-emitting: watermarked dedup emits each id on arrival") {
    val staged = Streaming.stageSplitSource(spark, sf0001, "events", "ts")
    val (off, on) = offAndOn("databatch") { (s, name) =>
      Streaming.drainAppendToParquet(events(s, staged)
        .withWatermark("ts_t", "30 minutes")
        .dropDuplicatesWithinWatermark("user_id")
        .select(col("user_id")), name)
    }
    assert(off.nonEmpty && off == on)
  }
}

object DrainShapeSpec {
  sealed trait Shape
  /** Complete-mode sink: every data batch re-emits the whole state, so the
    * last data batch leaves the converged result.
    */
  case object CompleteMode extends Shape
  /** Append/update sink whose rows come from data batches only: stateless
    * per-batch work, or operators that emit on arrival. A caller whose
    * operator emits on watermark passage (outer joins, append-mode
    * windows) brings sentinel batches (`stageSplitSourceWithFlush`) or
    * defines its result as what the data batches emitted.
    */
  case object DataBatch extends Shape
  /** A query whose operator emits on watermark passage and whose source
    * ends in sentinel batches (`stageSplitSourceWithFlush`) that push the
    * watermark past every real row inside the data batches.
    */
  case object SentinelFlushed extends Shape

  val shapes: Map[String, Shape] = Map(
    "drainToParquet" -> CompleteMode,
    "drainTopK" -> CompleteMode,
    "drainWithRestart" -> CompleteMode,
    "drainAppendToParquet" -> DataBatch,
    "drainUpdateToParquet" -> DataBatch,
    "drainAccumulating" -> DataBatch,
    "drainAppendWithRestart" -> DataBatch,
    "drainRetrieveFromStage" -> DataBatch,
    "drainBatchAudit" -> DataBatch,
    "drainDedupGate" -> DataBatch,
    "drainDedupGateGrowing" -> DataBatch,
    "drainToVectorStore" -> DataBatch,
    "drainToGraphAnnIndex" -> DataBatch,
    "drainToIvfIndex" -> DataBatch,
    "drainToPostingsStage" -> DataBatch,
    "drainToWindowsStage" -> DataBatch,
    "drainServeFromStore" -> DataBatch,
    "drainServeFromWindows" -> DataBatch,
    "drainServeFromGraphAnn" -> DataBatch,
    "drainServeFromIvf" -> DataBatch,
    "drainMergeSnapshot" -> DataBatch)

  /** The query registrations of SparkEntry.scala that drain a stream. */
  val queryShapes: Map[String, Shape] = Map(
    "q_stream_static_join" -> CompleteMode,
    "q_stream_quantiles" -> CompleteMode,
    "q_stream_hourly" -> CompleteMode,
    "q_stream_restart" -> CompleteMode,
    "q_stream_sessions" -> CompleteMode,
    "q_stream_sliding" -> CompleteMode,
    "q_stream_topk" -> CompleteMode,
    "q_stream_left_join" -> SentinelFlushed,
    // its result is defined as the windows the data batches close (the
    // trailing windows inside the delay must not emit), and its last
    // file is all late rows, which leaves the watermark where it was
    "q_stream_late" -> DataBatch,
    "q_stream_join" -> DataBatch, // inner join: emits on match
    "q_stream_dedup_wm" -> DataBatch, // emits each id on first arrival
    "q_stream_restart_dedup" -> DataBatch,
    "q_stream_dedup" -> DataBatch,
    "q_stream_user_stats" -> DataBatch, // update mode, no timeout
    "q_stream_conversation" -> DataBatch,
    "q_stream_conversation_rag" -> DataBatch,
    "q_stream_embed" -> DataBatch,
    "q_stream_clean" -> DataBatch,
    "q_stream_dq" -> DataBatch,
    "q_stream_merge" -> DataBatch,
    "q_stream_dedup_gate" -> DataBatch,
    "q_stream_dedup_absorb" -> DataBatch,
    "q_stream_vector_ingest" -> DataBatch,
    "q_stream_postings_ingest" -> DataBatch,
    "q_stream_windows_ingest" -> DataBatch,
    "q_stream_graph_ann" -> DataBatch,
    "q_stream_ivf_ingest" -> DataBatch,
    "q_stream_ivf_serve" -> DataBatch,
    "q_stream_maxsim_serve" -> DataBatch,
    "q_stream_graph_serve" -> DataBatch,
    "q_stream_store_serve" -> DataBatch)
}
