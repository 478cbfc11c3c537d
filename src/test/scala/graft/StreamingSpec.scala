package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {

  private def ts(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("windowed counts with watermark close windows in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val sdf = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedCounts(sdf, "ts", "event_type",
      windowLen = "1 hour", watermarkDelay = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData((ts(1, 10), "view", 1.0), (ts(1, 20), "view", 2.0), (ts(1, 30), "click", 5.0))
      q.processAllAvailable()
      // watermark still inside hour 1 — nothing emitted yet
      assert(spark.table("win_out").count() == 0)
      // an event far past hour 1 advances the watermark and closes it
      input.addData((ts(4, 0), "view", 9.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select($"window_start", $"event_type", $"n", $"sum_value")
        .orderBy($"event_type").collect()
      assert(rows.map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq ==
        Seq(("click", 1L, 5.0), ("view", 2L, 3.0)))
      // a late event behind the watermark is dropped, not re-emitted
      input.addData((ts(1, 40), "view", 100.0))
      q.processAllAvailable()
      assert(spark.table("win_out").count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches rows within the window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = Streaming.intervalJoin(
      clicks.toDF().toDF("uid", "click_ts"),
      buys.toDF().toDF("uid", "buy_ts"),
      "uid", "click_ts", "buy_ts", within = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts(1, 0)), (2L, ts(1, 0)))
      buys.addData((1L, ts(1, 30)), (2L, ts(3, 0))) // 2's buy outside window
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user stats across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    val out = Streaming.runningUserStats(input.toDS())
    val q = out.writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    try {
      input.addData(Streaming.UserEvent(1, "view", 2.0), Streaming.UserEvent(1, "click", 3.0))
      q.processAllAvailable()
      input.addData(Streaming.UserEvent(1, "buy", 5.0), Streaming.UserEvent(2, "view", 1.0))
      q.processAllAvailable()
      val last = spark.table("state_out").groupBy($"user_id")
        .agg(max($"n_events").as("n"), max($"sum_value").as("s"))
        .orderBy($"user_id").collect()
      assert(last.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq((1L, 3L, 10.0), (2L, 1L, 1.0)))
    } finally q.stop()
  }

  test("file-source stream: new files are picked up incrementally (E1 shape)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_in").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile.getAbsolutePath
    Seq((1L, "first message body")).toDF("id", "text")
      .write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streaming.embedStream(stream, "id", "text", dim = 8)
      .writeStream.format("memory").queryName("file_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_out").count() == 1)
      // a new file arrives → only the increment is processed
      Seq((2L, "second message body")).toDF("id", "text")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val rows = spark.table("file_out").orderBy($"id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(rows(1).getSeq[Double](2) ==
        graft.expressions.HashEmbed.embed("second message body", 8).toSeq)
    } finally q.stop()
  }

  private val gateSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  /** The growing-gate fixture: a reference stage holding only doc 1, and
    * a two-file source. Batch 1: a ref near-dup (must reject) + a novel
    * doc (must accept); batch 2: a near-dup OF THE NOVEL DOC — the fixed
    * gate would accept it (not in the reference); the growing gate must
    * reject it because batch 1's accepted doc was absorbed in between.
    * Distinct mtimes pin the file order, exactly like stageSplitSource.
    * Returns (source stream, reference stage path).
    */
  private def growingGateFixture(): (org.apache.spark.sql.DataFrame, String) = {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_gate_src")
      .toFile.getAbsolutePath
    val refDir = java.nio.file.Files.createTempDirectory("graft_gate_ref")
      .resolve("sigs").toString
    graft.operators.Dedup.stageMinhashSignatures(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("id", "text"),
      col("id"), col("text"), refDir)
    val f1 = new java.io.File(srcDir, "b1.parquet")
    val f2 = new java.io.File(srcDir, "b2.parquet")
    def writeOne(rows: Seq[(Long, String)], dst: java.io.File, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_gb").toString
      rows.toDF("id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val base = System.currentTimeMillis()
    writeOne(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (11L, "one two three four five six seven eight")), f1, base)
    writeOne(Seq(
      (20L, "one two three four five six seven eight nine")), f2, base + 4000)
    (spark.readStream.schema(gateSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir), refDir)
  }

  /** Asserts the fixture's verdicts; returns them as id -> (status, batch). */
  private def assertGrowingVerdicts(
      audit: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] = {
    val st = audit.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(st.keySet == Set(10L, 11L, 20L))
    assert(st(10L)._1 == "rejected", "ref near-dup must reject")
    assert(st(11L)._1 == "accepted", "novel doc must accept")
    assert(st(20L)._1 == "rejected",
      "near-dup of the absorbed batch-1 doc must reject — the growing property")
    assert(st(11L)._2 < st(20L)._2, "doc 20 arrived in a later micro-batch")
    st
  }

  test("growing gate rejects a near-dup of an ACCEPTED earlier-batch doc") {
    val (src, refDir) = growingGateFixture()
    assertGrowingVerdicts(
      Streaming.drainDedupGateGrowing(src, refDir, "spec_grow", 0.5))
  }

  test("growing gate reads the reference stage in place: byte-identical " +
      "after the drain, and the absorb writes no sb= partition") {
    import scala.jdk.CollectionConverters._
    val (src, refDir) = growingGateFixture()
    def listing(dir: String): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map { p =>
        root.relativize(p).toString -> (p.toFile.length, p.toFile.lastModified)
      }.toMap
      finally walk.close()
    }
    val before = listing(refDir)
    val st = assertGrowingVerdicts(
      Streaming.drainDedupGateGrowing(src, refDir, "spec_grow_ro", 0.5))
    assert(st.map { case (id, (status, _)) => id -> status } ==
      Map(10L -> "rejected", 11L -> "accepted", 20L -> "rejected"))
    assert(listing(refDir) == before,
      "the reference stage is the caller's read-only input")
    val run = sys.props("java.io.tmpdir") + "/graft_gate_grow_spec_grow_ro"
    val written = listing(run).keySet
    assert(written.exists(_.endsWith(".parquet")), "accepted doc 11 was absorbed")
    assert(!written.exists(_.split('/').exists(_.startsWith("sb="))),
      s"the absorb must not partition by id bucket: ${written.toSeq.sorted}")
  }

  /** Drains an empty source through `drain` (source, reference stage)
    * and asserts the empty (id, status, _batch_id) result.
    */
  private def assertEmptyGateDrain(
      drain: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.types._
    val (_, refDir) = growingGateFixture()
    val empty = java.nio.file.Files.createTempDirectory("graft_gate_empty")
      .toFile.getAbsolutePath
    val audit = drain(spark.readStream.schema(gateSchema)
      .option("maxFilesPerTrigger", "1").parquet(empty), refDir)
    assert(audit.schema.map(f => (f.name, f.dataType)) ==
      Seq(("id", LongType), ("status", StringType), ("_batch_id", LongType)))
    assert(audit.count() == 0)
  }

  test("fixed gate over an empty source returns an empty " +
      "(id, status, _batch_id) frame") {
    assertEmptyGateDrain(Streaming.drainDedupGate(_, _, "spec_gate_empty", 0.5))
  }

  test("growing gate over an empty source returns an empty " +
      "(id, status, _batch_id) frame") {
    assertEmptyGateDrain(
      Streaming.drainDedupGateGrowing(_, _, "spec_grow_empty", 0.5))
  }

  test("split source + maxFilesPerTrigger drives >=3 micro-batches; update drain converges") {
    import spark.implicits._
    // the staged split dir replays 3 ts-ordered files as 3 micro-batches;
    // the update drain must keep only each user's LAST update
    val sf = sf0001
    val srcDir = Streaming.stageSplitSource(spark, sf, "events", "ts", splits = 3)
    assert(new java.io.File(srcDir).listFiles()
      .count(_.getName.endsWith(".parquet")) == 3)
    val src = spark.readStream
      .schema(graft.tables.Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val ev = src.select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[Streaming.UserEventC]
    val stats = Streaming.runningUserStatsExact(ev).toDF()
    val out = Streaming.drainUpdateToParquet(stats, "spec_multibatch", Seq("user_id"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    // the RAW sink (pre-dedup) must show >= 3 distinct micro-batches, and
    // users spanning batches must appear more than once there
    val raw = spark.read.parquet(
      sys.props("java.io.tmpdir") + "/graft_stream_out_spec_multibatch")
    val nBatches = raw.select("_batch_id").distinct().count()
    assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
    assert(raw.count() > raw.select("user_id").distinct().count(),
      "some user must update in more than one batch for the merge to be exercised")

    // converged state equals the batch GROUP BY
    val batch = graft.tables.Tables.events(spark, sf)
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out == batch)
  }

  test("mid-stream kill + restart: stateful agg recovers state from the checkpoint") {
    // drainWithRestart kills the query on a planted failure after batch 0
    // commits, then restarts from the explicit checkpoint. The restarted
    // source skips batch 0's file (offset log), so equality with both the
    // uninterrupted drain AND the whole-table batch aggregation proves the
    // state store resumed batch 0's contribution — the durability half of
    // the streaming contract.
    val s = Streaming.streamSession(spark)
    val srcDir = Streaming.stageSplitSource(s, sf0001, "events", "ts")
    val schema = graft.tables.Tables.events(s, sf0001).schema
    def mk() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .select(timestamp_micros(expr("ts div 1000")).as("ts_t"),
        round(col("value") * 100).cast("long").as("cents"))
      .withWatermark("ts_t", "2 hours")
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("window.start").as("ws"), col("n"), col("sum_cents"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2))).toMap

    val recovered = asMap(Streaming.drainWithRestart(() => mk(), "spec_kill_restart"))
    val straight = asMap(Streaming.drainToParquet(mk(), "spec_kill_straight"))
    assert(recovered == straight,
      "killed-and-restarted drain must equal the uninterrupted run")

    val batch = graft.tables.Tables.events(s, sf0001)
      .select(timestamp_micros(expr("ts div 1000")).as("ts_t"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("window.start").as("ws"), col("n"), col("sum_cents"))
    assert(recovered == asMap(batch),
      "recovered stream state must equal the batch aggregation")
    assert(recovered.nonEmpty)

    // audit: run 1 committed only batch 0; run 2 committed the rest from
    // the same checkpoint (no renumbering — ids continue, never reset)
    val commits = new java.io.File(Streaming.checkpointDir("spec_kill_restart"),
      "commits").list().filter(_.forall(_.isDigit)).map(_.toLong).sorted
    assert(commits.head == 0L && commits.length >= 3,
      s"commit log must span both runs contiguously: ${commits.mkString(",")}")
  }

  test("checkpoint recovery: a restarted query resumes without reprocessing") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_dir").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_ckpt_sink").toString + "/out"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq(1L, 2L).toDF("id").coalesce(1).write.mode("append").parquet(src)
    run()
    assert(spark.read.parquet(sink).count() == 2)
    // new file arrives while the query is DOWN; the restart must process
    // exactly the increment — file1's offset is committed in the checkpoint
    Seq(3L).toDF("id").coalesce(1).write.mode("append").parquet(src)
    run()
    val ids = spark.read.parquet(sink).orderBy($"id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L, 3L), s"restart must not duplicate or drop: $ids")
  }

  test("RocksDB state store provider drives stateful aggregation correctly") {
    // the larger-than-heap state path for 100 TB streaming: state lives in
    // RocksDB instances per partition instead of the executor heap
    import spark.implicits._
    val s2 = Streaming.streamSession(spark, partitions = 2)
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streaming.windowedCounts(input.toDF().toDF("ts", "event_type", "value"),
      "ts", "event_type", windowLen = "1 hour", watermarkDelay = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("rocks_out")
      .outputMode("complete").start()
    try {
      input.addData((ts(1, 10), "view", 1.0), (ts(1, 20), "view", 2.0), (ts(2, 5), "click", 4.0))
      q.processAllAvailable()
      input.addData((ts(1, 40), "view", 3.0))
      q.processAllAvailable()
      val rows = s2.table("rocks_out")
        .select($"event_type", $"n", $"sum_value").orderBy($"event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("click", 1L, 4.0), ("view", 3L, 6.0)))
      assert(q.lastProgress.stateOperators.head.customMetrics
        .containsKey("rocksdbFilesCopied"),
        "state must actually run on the RocksDB provider")
    } finally q.stop()
  }

  test("embedStream runs the embed stage on a stream (stateless narrow)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val sdf = input.toDF().toDF("id", "text")
    val q = Streaming.embedStream(sdf, "id", "text", dim = 16)
      .writeStream.format("memory").queryName("emb_out").outputMode("append").start()
    try {
      input.addData((1L, "hello world"), (2L, ""))
      q.processAllAvailable()
      val rows = spark.table("emb_out").orderBy($"id").collect()
      assert(rows.length == 2)
      assert(rows(0).getSeq[Double](2) ==
        graft.expressions.HashEmbed.embed("hello world", 16).toSeq)
      assert(rows(1).getSeq[Double](2).forall(_ == 0.0))
    } finally q.stop()
  }

  test("every serve drain with zero query rows returns an empty result") {
    import graft.operators.{GraphAnnIndex, IvfIndex, Retrieval, VectorStore}
    val sf = sf0001
    val emb = graft.tables.Tables.embeddings(spark, sf)
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(tag).toString + "/idx"
    val store = tmp("graft_serve_none")
    VectorStore.write(emb, col("embedding"), store)
    val windows = tmp("graft_serve_none_win")
    Retrieval.stageWindows(graft.tables.Tables.documents(spark, sf),
      col("doc_id"), col("text"), windows)
    val graph = tmp("graft_serve_none_gann")
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), graph,
      sampleMod = 16, edgesPerBucket = 3)
    val ivf = tmp("graft_serve_none_ivf")
    IvfIndex.build(emb, "vec_id", "embedding", ivf, nlist = 8, dim = 64)
    // (drain, its query column beside q_id, served columns)
    val drains: Seq[(String, (DataFrame, String) => DataFrame, Column,
        Seq[String])] = Seq(
      ("drainServeFromStore",
        (q, n) => Streaming.drainServeFromStore(q, store, k = 5, n),
        col("embedding").as("q_vec"),
        Seq("q_id", "rn", "vec_id", "bucket", "distance")),
      ("drainServeFromWindows",
        (q, n) => Streaming.drainServeFromWindows(q, windows, k = 5, n),
        array(lit("order")).as("terms"),
        Seq("q_id", "rank", "doc_id", "n_qt", "maxsim_fp")),
      ("drainServeFromGraphAnn",
        (q, n) => Streaming.drainServeFromGraphAnn(q, graph, n),
        col("embedding").as("q_vec"), Seq("q_id", "id", "distance")),
      ("drainServeFromIvf",
        (q, n) => Streaming.drainServeFromIvf(q, ivf, k = 5, nprobe = 2, n),
        col("embedding").as("q_vec"),
        Seq("q_id", "rn", "vec_id", "cell", "distance")))
    // two sources with no query rows: micro-batches that all come out
    // empty (a predicate no row satisfies), and no micro-batch at all (an
    // empty landing directory), after which the sink does not exist
    val splitDir = Streaming.stageSplitSource(spark, sf, "embeddings", "vec_id")
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_serve_none_src")
    val sources = Seq(
      "empty batches" -> (() => spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(splitDir)
        .filter(col("vec_id") < 0)),
      "no batch" -> (() => spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(emptyDir.toString)))
    for ((name, drain, query, served) <- drains;
         (srcName, src) <- sources) {
      val queries = src().select(col("vec_id").as("q_id"), query)
      val out = drain(queries, s"spec_serve_none_${name}_${srcName.take(2)}")
      assert(out.columns.toSeq == served, s"$name, $srcName")
      assert(out.count() == 0, s"$name, $srcName")
    }
  }

  test("drainServeFromGraphAnn: micro-batched serving ≡ one-shot batched walk") {
    import spark.implicits._
    val emb = graft.tables.Tables.embeddings(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("graft_gann_srv").toString
    graft.operators.GraphAnnIndex.build(emb, col("vec_id"), col("embedding"),
      idx, sampleMod = 16, edgesPerBucket = 3)
    val qs = (0 until 6).map(b =>
      (b.toLong, graft.oracle.OracleGen.QueryVec.shiftedValues(b)))
    // 3 slices of 2 queries — each replays as its own micro-batch
    val slices = (0 until 3).map(g => qs.filter(_._1 % 3 == g)
      .toDF("q_id", "q_vec"))
    val srcDir = Streaming.stageSlicesSource(slices,
      java.nio.file.Files.createTempDirectory("graft_gann_srv_q").toString
        + "/src")
    val src = spark.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val drained = Streaming.drainServeFromGraphAnn(src, idx, "spec_gann_serve")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    // ≥3 micro-batches actually served (one output file set per batch)
    val oneShot = graft.operators.GraphAnnIndex.queryBatch(spark, idx,
        qs.toDF("q_id", "q_vec"), beam = 16, hops = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(drained.nonEmpty && drained == oneShot,
      "drained union must equal the one-shot batched walk")
  }

  test("drainToIvfIndex: drained ≡ one-shot build, and the per-batch " +
      "fragmentation policy keeps files-per-partition bounded") {
    import graft.operators.IvfIndex
    val emb = graft.tables.Tables.embeddings(spark, sf0001)
    // 4 disjoint slices — enough appends that WITHOUT the policy the
    // cells relation would sit at ~4 files/partition
    val slices = (0 until 4).map(g =>
      emb.filter(pmod(col("vec_id"), lit(4)) === g))
    val srcDir = Streaming.stageSlicesSource(slices,
      java.nio.file.Files.createTempDirectory("graft_ivf_ing").toString
        + "/src")
    val src = spark.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_ingi")
      .toString + "/idx"
    Streaming.drainToIvfIndex(src, idx, "vec_id", "embedding",
      nlist = 8, dim = 64)
    val full = java.nio.file.Files.createTempDirectory("graft_ivf_ingf")
      .toString
    IvfIndex.build(emb, "vec_id", "embedding", full, nlist = 8, dim = 64)
    def cells(p: String): Seq[String] =
      spark.read.parquet(s"$p/cells").collect().map(_.toString).sorted.toSeq
    assert(cells(idx) == cells(full),
      "drained index must hold exactly the one-shot build's rows")
    assert(IvfIndex.fragmentation(idx) <= 2.0,
      "the per-batch policy must have compacted — 4 appends without it " +
        "would leave ~4 files/partition")
  }

  test("drainRetrieveFromStage refuses a batch DataFrame: the declared " +
      "terms broadcast is only valid for request-sized micro-batches (r21)") {
    import spark.implicits._
    val batchDf = Seq((1L, 1L, false, "query text"))
      .toDF("conv_id", "turn_no", "is_followup", "resolved_query")
    val e = intercept[IllegalArgumentException] {
      Streaming.drainRetrieveFromStage(batchDf, "/nonexistent_stage",
        k = 5, maxPostings = 10L, name = "guard_test")
    }
    assert(e.getMessage.contains("STREAMING micro-batches"))
  }
}
