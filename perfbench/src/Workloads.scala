package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.expressions.HashEmbed
import graft.functions.TextFunctions
import graft.operators.{Dedup, IvfIndex, Rag, VectorStore}
import graft.streaming.Streaming

/** The two workloads, each stressing a different layer (see
  * perfbench/README.md for the layer → metric map):
  *
  *  - rag_serve: its set-up builds the serving corpus through the batch
  *    mailbox pipeline (MIME ingest → redact → chunk → embed → MinHash
  *    dedup → vector store + IVF index), where executor kernels and
  *    shuffles carry the work. Then one client in a closed loop sends
  *    single retrieval requests (vector store, IVF, RAG); each does little
  *    executor work, so driver construction, Catalyst and job scheduling
  *    dominate.
  *  - stream_ingest: a backlog of one-file micro-batches drained through
  *    the dedup gate into a growing IVF index while one reader thread
  *    probes it. Puts writes beside reads and exercises the fixed
  *    per-micro-batch cost.
  *
  * Both report the same end-to-end metrics, each defined on the
  * workload's own operation: a request; one backlog file's ingest (its
  * gate micro-batch plus its IVF micro-batch).
  */
object Workloads {
  val names = Seq("rag_serve", "stream_ingest")

  val StreamBaseDocs = 600
  val BacklogFiles = 4
  val BacklogFileDocs = 120
  /** Share of backlog messages that near-duplicate a base or earlier message. */
  val BacklogDupShare = 0.2
  /** Share of messages that are planted near-duplicates. */
  val DupShare = 0.08
  /** Share of requests that repeat a query text already sent. */
  val RepeatShare = 0.3
  val QueryFiles = 3
  val QueriesPerFile = 8
  val WarmRounds = 4
  val RecallQueries = 400

  private final class Ctx(val spark: SparkSession, val tr: Trace, val res: Result,
                          val seed: Long, val runDir: String, val root: String,
                          val traced: Boolean) {
    private var n = 0
    def fresh(tag: String): String = { n += 1; s"$runDir/work/$tag-$n" }
    val reqIds = new java.util.concurrent.atomic.AtomicLong(0)
    /** Run one operation, traced only if this is a traced run and `on`: a
      * traced run leaves some operations untraced, and they give the
      * tracing overhead. Returns whether the operation was traced.
      */
    def tracedOp[T](on: Boolean)(f: => T): (T, Boolean) =
      if (traced && on) (f, true) else (tr.untraced(f), false)
  }

  def run(workload: String, spark: SparkSession, tr: Trace, res: Result, seed: Long,
          seconds: Double, traced: Boolean, runDir: String, root: String, sessionS: Double): Unit = {
    val cx = new Ctx(spark, tr, res, seed, runDir, root, traced)
    if (traced) tr.start()
    val built = workload match {
      case "rag_serve" => ragServe(cx, seconds, sessionS)
      case "stream_ingest" => streamIngest(cx, seconds, sessionS)
    }
    // every layout the run served from was built by this run, inside its
    // own directory: nothing is reused from an earlier run
    built.foreach { p =>
      res.check(p.startsWith(runDir + "/work/") && java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        s"layout $p was not built in this run")
    }
    // twice, with a pause for the context cleaner to drop the blocks the
    // first collection released
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    res.e2e("live_heap_mb", heap / 1048576.0, "MB", 1)
  }

  // ---------------------------------------------------------------- helpers

  private def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def batchMs(recs: Seq[BatchRec]): Seq[Double] =
    recs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)

  private def reportReads(cx: Ctx, lat: Seq[Double]): Unit = {
    cx.res.info("read_p50_ms") = Stats.median(lat).toString
    cx.res.info("read_p90_ms") = Stats.percentile(lat, 90).map(_.toString).getOrElse("fewer than 100 reads")
    cx.res.info("reads") = lat.size.toString
  }

  /** Queries as one-file micro-batches of (q_id, q_vec). */
  private def queryStream(cx: Ctx, texts: Iterator[String]) = {
    val spark = cx.spark
    import spark.implicits._
    val files = (0 until QueryFiles).map { f =>
      (0 until QueriesPerFile).map(i => (f * 1000L + i, HashEmbed.embed(texts.next(), Pipeline.Dim).toSeq))
    }
    val src = Streaming.stageSlicesSource(files.map(_.toDF("q_id", "q_vec")), cx.fresh("queries"))
    val stream = cx.tr.streamSession.readStream.schema(files.head.toDF("q_id", "q_vec").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    (files.flatten, stream)
  }

  /** Checks a batched answer (q_id, rank, id, distance) query by query. */
  private def checkRanked(cx: Ctx, what: String, rows: Array[org.apache.spark.sql.Row],
                           queries: Seq[(Long, Seq[Double])],
                           want: Array[Double] => Seq[(Double, Long)]): Unit = {
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(1)).map(r => (r.getDouble(3), r.getLong(2))).toSeq
    }
    queries.foreach { case (id, v) =>
      cx.res.op(got.get(id).exists(Serve.sameRanking(_, want(v.toArray))),
        s"$what answer for query $id differs from brute force")
    }
  }

  // -------------------------------------------------------------- rag_serve

  private def ragServe(cx: Ctx, seconds: Double, sessionS: Double): Seq[String] = {
    val spark = cx.spark
    // set-up: the mailbox (every sf0.1 document, in seeded order, plus
    // planted near-duplicates) and the serving corpus built from it. Only
    // generation and the build count in setup_s; the build's output checks
    // and the driver-side reference are not timed.
    val path = cx.fresh("mailbox")
    val (mails, genS) = timeS {
      val docs = Gen.documents(cx.root)
      val mails = Gen.mailbox(cx.seed, docs, Gen.permutation(cx.seed, docs.size), DupShare, idBase = 1)
      Pipeline.writeTable(spark, mails.map(m => (m.id, m.raw)), ("id", "raw"), path)
      mails
    }
    val build = Pipeline.corpus(spark, cx.tr, mails, path, cx.fresh("corpus"))
    build.errors.foreach(cx.res.errors += _)
    cx.res.e2e("setup_s", sessionS + genS + build.wallS, "s", 1)
    val ref = new Reference(spark, build.layouts)
    Log("set-up done")
    cx.res.info("messages") = mails.size.toString
    cx.res.e2e("stored_bytes_per_input_byte", build.storedBytes.toDouble / build.inputBytes, "ratio", 1)
    cx.res.info("build_s") = build.wallS.toString
    cx.res.info("dedup_recall") = build.dedupRecall.toString
    cx.res.info("Dedup.candidate_pairs") = build.candidatePairs.toString
    cx.res.info("Dedup.pair_yield") = (build.truePairs.toDouble / build.candidatePairs.max(1L)).toString

    val pool = Gen.queryPool(cx.seed, mails, 400)
    val texts = Gen.queryStream(cx.seed, pool, RepeatShare)
    val rnd = new SplittableRandom(cx.seed)
    // untimed warm-up rounds
    cx.tr.untraced((0 until WarmRounds * Serve.Round.size).foreach { i =>
      Serve.request(spark, cx.tr, ref, Serve.Round(i % Serve.Round.size), texts.next(), -1)
    })
    Log("warm-up done")
    val answers = mutable.ArrayBuffer.empty[(String, Answer, Boolean)]
    val roundS = mutable.ArrayBuffer.empty[Double]
    val roundMeanMs = mutable.ArrayBuffer.empty[Double]
    /** Serve request rounds for `forS` seconds. */
    def serve(forS: Double): Unit = {
      val t0 = System.nanoTime()
      while (elapsedS(t0) < forS) {
        val order = Serve.Round.sortBy(_ => rnd.nextInt())
        val r0 = System.nanoTime()
        val (as, on) = cx.tracedOp(roundS.size % 2 == 0) {
          order.map { kind =>
            val a = Serve.request(spark, cx.tr, ref, kind, texts.next(), cx.reqIds.incrementAndGet())
            cx.res.op(a.ok, s"$kind: ${a.error}")
            (kind, a)
          }
        }
        roundS += elapsedS(r0)
        roundMeanMs += Stats.mean(as.map(_._2.latencyMs))
        answers ++= as.map { case (k, a) => (k, a, on) }
      }
    }
    // the loop runs in two halves, before and after the recall batch, so
    // its samples span more wall time than one stretch of `seconds`: the
    // host's speed drifts over tens of seconds
    serve(seconds / 2)

    // ANN quality: recall@10 of a batch of seeded queries served through
    // the batched store and IVF paths, each answer checked as well
    locally {
      import spark.implicits._
      val qs = pool.take(RecallQueries).zipWithIndex.map { case (t, i) => (i.toLong, HashEmbed.embed(t, Pipeline.Dim).toSeq) }
      val qdf = qs.toDF("q_id", "q_vec")
      val store = VectorStore.queryL2Batch(spark, ref.layouts.store, "embedding", "vec_id", qdf, Serve.K)
        .select(col("q_id"), col("rn"), col("vec_id"), col("distance")).collect()
      val ivf = IvfIndex.probeBatch(spark, ref.layouts.ivf, qdf, Serve.K, Serve.Nprobe)
        .select(col("q_id"), col("rn"), col("id"), col("distance")).collect()
      checkRanked(cx, "VectorStore.queryL2Batch", store, qs, ref.storeTopK(_, Serve.K))
      checkRanked(cx, "IvfIndex.probeBatch", ivf, qs, ref.ivfTopK(_, Serve.K, Serve.Nprobe))
      val exact = qs.map { case (id, v) => id -> ref.exactTopK(v.toArray, Serve.K).map(_._2) }.toMap
      val rec = Seq(store, ivf).flatMap(_.groupBy(_.getLong(0)).map { case (q, rs) =>
        Stats.recallAtK(rs.map(_.getLong(2)).toSeq, exact(q))
      })
      cx.res.e2e("quality", Stats.mean(rec), "ratio", rec.size)
    }
    Log("recall checked")
    serve(seconds / 2)
    Log(s"served ${answers.size} requests")
    cx.res.info("round_ms") = roundS.map(x => (x * 1000).toLong).mkString(" ")
    val lat = answers.map(_._2.latencyMs).toSeq
    // a round is one pass of the fixed request mix, so every round mean
    // carries the same mix; a median over single requests would fall
    // between the request types' latency clusters
    cx.res.e2e("op_p50_ms", Stats.median(roundMeanMs.toSeq), "ms", roundMeanMs.size)
    cx.res.e2e("work_per_s", answers.size / roundS.sum, "1/s", answers.size)
    answers.groupBy(_._1).foreach { case (k, as) =>
      cx.res.info(s"request_p50_ms.$k") = Stats.median(as.map(_._2.latencyMs).toSeq).toString
    }
    reportReads(cx, lat)

    if (cx.traced) {
      // the traced run also serves queries as micro-batches through the
      // IVF index, for the micro-batch machinery's per-layer split
      val (queries, stream) = queryStream(cx, texts)
      val out = cx.tr.drain("Streaming.drainServeFromIvf") {
        Streaming.drainServeFromIvf(stream, ref.layouts.ivf, Serve.K, Serve.Nprobe,
          cx.fresh("serve").split('/').last).select(col("q_id"), col("rn"), col("id"), col("distance")).collect()
      }
      checkRanked(cx, "drainServeFromIvf", out, queries, ref.ivfTopK(_, Serve.K, Serve.Nprobe))
      // even rounds are traced, odd rounds are not
      val (traced, plain) = roundMeanMs.toSeq.zipWithIndex.partition(_._2 % 2 == 0) match {
        case (t, p) => (t.map(_._1), p.map(_._1))
      }
      layers(cx, _.name.startsWith("request."), perBatch = false, traced, plain,
        build.storedBytes.toDouble / build.keptChunks)
    }
    Seq(ref.layouts.store, ref.layouts.ivf)
  }

  // ---------------------------------------------------------- stream_ingest

  private def streamIngest(cx: Ctx, seconds: Double, sessionS: Double): Seq[String] = {
    val spark = cx.spark
    import spark.implicits._
    // set-up: the base corpus's signatures (the gate's reference) and the
    // backlog of one-file micro-batches
    val ((sig, files, src, warmSrc), setupS) = timeS {
      val docs = Gen.documents(cx.root)
      val order = Gen.permutation(cx.seed, docs.size)
      val base = Gen.mailbox(cx.seed, docs, order.take(StreamBaseDocs), DupShare, idBase = 1)
      val basePath = cx.fresh("base")
      Pipeline.writeTable(spark, base.map(m => (m.id, m.body)), ("id", "text"), basePath)
      val sig = cx.fresh("refsig")
      cx.tr.span("setup")(cx.tr.span("Dedup.stageMinhashSignatures") {
        Dedup.stageMinhashSignatures(spark.read.parquet(basePath)
          .select(col("id"), TextFunctions.redactPii(col("text")).as("text")), col("id"), col("text"), sig)
      })
      // each file's near-duplicates copy the base or an earlier file, never
      // the same file: the gate screens a batch against what came before it
      val files = (0 until BacklogFiles).foldLeft(IndexedSeq.empty[IndexedSeq[Gen.Mail]]) { (done, i) =>
        done :+ Gen.mailbox(cx.seed + 1 + i, docs,
          order.slice(StreamBaseDocs + i * BacklogFileDocs, StreamBaseDocs + (i + 1) * BacklogFileDocs),
          BacklogDupShare, idBase = 1000000L * (i + 1), dupPool = base ++ done.flatten, selfDups = false)
      }
      def staged(fs: Seq[IndexedSeq[Gen.Mail]], tag: String) =
        Streaming.stageSlicesSource(fs.map(_.map(m => (m.id, m.body)).toDF("id", "text")), cx.fresh(tag))
      (sig, files, staged(files, "backlog"), staged(files.take(1), "warm-backlog"))
    }
    cx.res.e2e("setup_s", sessionS + setupS, "s", 1)
    Log("set-up done")
    val backlog = files.flatten
    val schema = Seq((0L, "")).toDF("id", "text").schema
    def stream(from: String) = cx.tr.streamSession.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(from)
      .select(col("id"), TextFunctions.redactPii(col("text")).as("text"))
    val texts = Gen.queryStream(cx.seed, Gen.queryPool(cx.seed, backlog, 400), RepeatShare)

    // the reader: back-to-back IVF probes against the index being drained.
    // A probe refused because an append is in flight is retried after
    // 5 ms; a read's latency runs from its first attempt to its answer.
    // Any other error fails the read and ends the reader.
    @volatile var growing: Option[String] = None
    @volatile var stop = false
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()
    val refusals = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      try while (!stop) growing match {
        case Some(path) if IvfIndex.exists(path) =>
          val q = HashEmbed.embed(texts.synchronized(texts.next()), Pipeline.Dim).toSeq
          val t0 = System.nanoTime()
          var got: Option[Seq[(Double, Long)]] = None
          val (_, on) = cx.tracedOp(reads.size % 2 == 0) {
            cx.tr.span("request.ivf", cx.reqIds.incrementAndGet()) {
              while (got.isEmpty && !stop) {
                try got = Some(cx.tr.span("IvfIndex.probe")(Serve.ivfQuery(spark, path, q, Serve.K)))
                catch {
                  case e: IllegalStateException if e.getMessage != null && e.getMessage.contains("unfinished") =>
                    refusals.incrementAndGet()
                    Thread.sleep(5)
                }
              }
            }
          }
          got.foreach { g =>
            reads.add(((System.nanoTime() - t0) / 1e6, on))
            cx.res.op(g.size <= Serve.K && g.map(_._1) == g.map(_._1).sorted,
              s"growing IVF probe returned ${g.size} unsorted rows")
          }
        case _ => Thread.sleep(5)
      } catch {
        case e: Throwable =>
          cx.res.op(false, s"reader probe failed: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
      }
    }, "perfbench-reader")

    /** One drain of a backlog: the dedup gate, then the admitted documents
      * into a fresh IVF index.
      */
    def cycle(from: String, mails: IndexedSeq[Gen.Mail]): (Double, Set[Long], String) = cx.tr.span("cycle") {
      val ivf = cx.fresh("ivf")
      val t0 = System.nanoTime()
      val verdict = cx.tr.drain("Streaming.drainDedupGateGrowing") {
        Streaming.drainDedupGateGrowing(stream(from), sig, cx.fresh("gate").split('/').last,
          Pipeline.DupThreshold).select(col("id"), col("status")).collect()
      }
      val accepted = verdict.filter(_.getString(1) == "accepted").map(_.getLong(0)).toSet
      growing = Some(ivf)
      cx.tr.drain("Streaming.drainToIvfIndex") {
        Streaming.drainToIvfIndex(
          Rag.embedCorpus(stream(from).join(accepted.toSeq.toDF("id"), "id"), col("text"), Pipeline.Dim)
            .select(col("id"), col("embedding")), ivf, "id", "embedding", Pipeline.Nlist, Pipeline.Dim)
      }
      cx.res.op(verdict.length == mails.size && verdict.map(_.getLong(0)).toSet == mails.map(_.id).toSet,
        s"gate returned ${verdict.length} verdicts for ${mails.size} documents")
      (elapsedS(t0), accepted, ivf)
    }

    // warm-up: one untimed drain of the first file
    cx.tr.untraced(cycle(warmSrc, files.head))
    Log("warm-up done")
    growing = None
    reader.start()
    val cycles = mutable.ArrayBuffer.empty[((Double, Set[Long], String), Boolean, Seq[BatchRec])]
    val t0 = System.nanoTime()
    try {
      while (cycles.isEmpty || elapsedS(t0) < seconds) {
        val before = cx.tr.batches.size
        val c = cx.tracedOp(on = true)(cycle(src, backlog))
        cx.tr.settle()
        cycles += ((c._1, c._2, cx.tr.batches.asScala.drop(before).toSeq))
      }
    } finally {
      stop = true
      reader.join()
    }
    val recs = cycles.flatMap(_._3).toSeq
    Log(s"drained ${cycles.size} cycles, ${reads.size} reads")
    // a cycle's records are the gate drain's batches, then the IVF drain's,
    // one per backlog file in file order; a file's ingest time is its gate
    // batch plus its IVF batch
    val (gate, ivfAppend) = cycles.map { c =>
      val runs = c._3.map(_.runId).distinct.map(r => c._3.filter(_.runId == r))
      cx.res.check(runs.size == 2 && runs.forall(_.size == BacklogFiles),
        s"a drain cycle recorded batches ${runs.map(_.size).mkString("+")}, expected $BacklogFiles+$BacklogFiles")
      (runs.headOption.toSeq.flatMap(batchMs), runs.drop(1).headOption.toSeq.flatMap(batchMs))
    }.unzip match { case (g, i) => (g.flatten.toSeq, i.flatten.toSeq) }
    val perFile = gate.zip(ivfAppend).map { case (g, i) => g + i }
    cx.res.check(perFile.nonEmpty, "no micro-batch progress was recorded")
    cx.res.info("gate_batch_ms") = gate.map(_.toLong).mkString(" ")
    cx.res.info("ivf_batch_ms") = ivfAppend.map(_.toLong).mkString(" ")
    cx.res.info("gate_batch_p50_ms") = Stats.median(gate).toString
    cx.res.info("ivf_batch_p50_ms") = Stats.median(ivfAppend).toString
    cx.res.e2e("op_p50_ms", Stats.median(perFile), "ms", perFile.size)
    cx.res.e2e("work_per_s", Stats.median(cycles.map { case ((w, acc, _), _, _) => acc.size / w }.toSeq),
      "1/s", cycles.size)
    reportReads(cx, reads.asScala.map(_._1).toSeq)
    cx.res.info("reader_refusals") = refusals.get.toString
    val ((_, accepted, ivf), _, _) = cycles.last
    val planted = backlog.filter(_.dupOf >= 0)
    cx.res.e2e("quality", planted.count(m => !accepted(m.id)).toDouble / planted.size, "ratio", planted.size)
    cx.res.e2e("stored_bytes_per_input_byte", Pipeline.dirBytes(ivf).toDouble / Pipeline.dirBytes(src),
      "ratio", 1)

    // append ≡ rebuild: a one-shot build over the admitted documents must
    // serve exactly what the drained index serves
    val rebuilt = cx.fresh("ivf-rebuild")
    IvfIndex.build(Rag.embedCorpus(spark.read.parquet(src).filter(col("id").isin(accepted.toSeq: _*))
      .select(col("id"), TextFunctions.redactPii(col("text")).as("text")), col("text"), Pipeline.Dim)
      .select(col("id"), col("embedding")), "id", "embedding", rebuilt, Pipeline.Nlist, Pipeline.Dim)
    (0 until 8).foreach { _ =>
      val t = texts.next()
      val q = HashEmbed.embed(t, Pipeline.Dim).toSeq
      cx.res.op(Serve.ivfQuery(spark, ivf, q, Serve.K) == Serve.ivfQuery(spark, rebuilt, q, Serve.K),
        s"drained IVF index serves differently from a rebuild for '$t'")
    }
    Log("append ≡ rebuild checked")

    if (cx.traced) {
      // the reader alternates traced and untraced probes: they give the
      // tracing overhead
      val rd = reads.asScala.toSeq
      layers(cx, s => s.name.startsWith("Streaming.drain"), perBatch = true, rd.filter(_._2).map(_._1),
        rd.filterNot(_._2).map(_._1), Pipeline.dirBytes(ivf).toDouble / accepted.size)
    }
    Seq(ivf, rebuilt)
  }

  // ------------------------------------------------------ per-layer metrics

  /** The engine split's figures, in report order, with their units. */
  val SplitUnits: Seq[(String, String)] = Seq(
    "op.wall_ms" -> "ms", "driver.construct_ms" -> "ms", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms", "sched.jobs" -> "count",
    "sched.stages" -> "count", "sched.tasks" -> "count", "sched.gap_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes", "io.bytes_read" -> "bytes", "io.bytes_written" -> "bytes")

  /** The engine split summed over `roots` and their subtrees, keyed as in
    * [[SplitUnits]], plus `exec.util` (run time / (wall × cores)).
    */
  private def engineSplit(tr: Trace, roots: Seq[Span], subtree: Span => Seq[Span]): Map[String, Double] = {
    def acc(s: Span) = Option(tr.engine.get(s.id))
    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots.foreach { r =>
      val sub = subtree(r)
      val accs = sub.flatMap(acc)
      sum("op.wall_ms") += r.wallMs
      // driver construction: time inside each layer call before its first
      // SQL execution starts
      sub.filter(s => s.name.head.isUpper).foreach { s =>
        val first = acc(s).map(_.firstExecStartMs).getOrElse(Long.MaxValue)
        sum("driver.construct_ms") += (math.min(first, s.t1Epoch) - s.t0Epoch).max(0L)
      }
      sum("sched.gap_ms") += Trace.uncoveredMs(r.t0Epoch, r.t1Epoch, accs.flatMap(_.jobIntervals))
      accs.foreach { a =>
        sum("catalyst.analysis_ms") += a.analysisMs
        sum("catalyst.optimization_ms") += a.optimizationMs
        sum("catalyst.planning_ms") += a.planningMs
        sum("exec.run_ms") += a.runMs
        sum("exec.cpu_ms") += a.cpuMs
        sum("sched.jobs") += a.jobs
        sum("sched.stages") += a.stages
        sum("sched.tasks") += a.tasks
        sum("shuffle.write_bytes") += a.shuffleWrite
        sum("shuffle.read_bytes") += a.shuffleRead
        sum("io.bytes_read") += a.bytesRead
        sum("io.bytes_written") += a.bytesWritten
      }
    }
    val cores = Runtime.getRuntime.availableProcessors()
    SplitUnits.map { case (k, _) => k -> sum(k) }.toMap +
      ("exec.util" -> sum("exec.run_ms") / (sum("op.wall_ms") * cores).max(1e-9))
  }

  /** Per-layer metrics from the traced operations. `isOp` picks the spans
    * that are the workload's operations; engine work is summed over
    * each one's subtree and reported per operation (per micro-batch when
    * `perBatch`). The set-up's split (the span named "build" or "setup")
    * goes to the report line as `setup.<metric>`, totals over the set-up.
    * `tracedMs`/`untracedMs` are operation latencies with and without
    * tracing.
    */
  private def layers(cx: Ctx, isOp: Span => Boolean, perBatch: Boolean, tracedMs: Seq[Double],
                     untracedMs: Seq[Double], storeBytesPerDoc: Double): Unit = {
    val tr = cx.tr
    tr.settle()
    val spans = tr.spans.asScala.filter(_.t1 > 0).toSeq
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    def acc(s: Span) = Option(tr.engine.get(s.id))
    val drains = spans.filter(_.name.startsWith("Streaming.drain"))
    val recs = drains.flatMap(s => tr.drainBatchesOf(s.id))
    val roots = spans.filter(isOp)
    val nOps = (if (perBatch) recs.size else roots.size).max(1)
    val res = cx.res
    val split = engineSplit(tr, roots, subtree)
    SplitUnits.foreach { case (k, u) => res.layer(k, split(k) / nOps, u) }
    res.layer("exec.util", split("exec.util"), "ratio")
    val setup = spans.filter(s => s.parent < 0 && (s.name == "build" || s.name == "setup"))
    res.check(setup.size == 1, s"expected one set-up span, found ${setup.size}")
    val setupSplit = engineSplit(tr, setup, subtree)
    (SplitUnits.map(_._1) :+ "exec.util").foreach(k => res.info(s"setup.$k") = setupSplit(k).toString)

    // micro-batch machinery, from the drains' progress records
    res.layer("stream.batches", recs.size.toDouble, "count")
    res.layer("stream.jobs_per_batch",
      drains.flatMap(subtree).flatMap(acc).map(_.jobs).sum.toDouble / recs.size.max(1), "count")
    (StreamParts :+ "triggerExecution").foreach { k =>
      res.layer(s"stream.${k}_ms", Stats.mean(recs.map(_.durations.getOrElse(k, 0L).toDouble)), "ms")
    }
    val coverage = recs.map { r =>
      StreamParts.map(k => r.durations.getOrElse(k, 0L)).sum.toDouble /
        r.durations.getOrElse("triggerExecution", 1L).max(1L)
    }
    res.layer("stream.parts_coverage", Stats.mean(coverage), "ratio")
    coverage.zip(recs).foreach { case (c, r) =>
      res.check(math.abs(c - 1) <= StreamTolerance || r.durations.getOrElse("triggerExecution", 0L) < 50,
        f"micro-batch parts cover $c%.3f of triggerExecution (tolerance $StreamTolerance)")
    }

    // useful work per attempt
    val reads = spans.filter(s => s.parent < 0 && s.name.startsWith("request.")) ++
      drains.filter(_.name.startsWith("Streaming.drainServe"))
    val results = reads.map(s => if (s.name.startsWith("request.")) Serve.K else QueryFiles * QueriesPerFile * Serve.K).sum
    val scanned = reads.flatMap(subtree).flatMap(acc).map(_.recordsRead).sum
    res.layer("serve.rows_scanned_per_result", scanned.toDouble / results.max(1), "ratio")
    res.layer("store.bytes_per_doc", storeBytesPerDoc, "bytes")

    // spans: self time, the children + self = wall check, overhead
    val self = Trace.selfMs(spans)
    // benchmark-side time inside the operations, outside every layer call
    val harness = spans.filter(s => s.name == "cycle" || s.name.startsWith("request."))
    res.layer("harness.self_ms", harness.map(s => self(s.id)).sum / nOps, "ms")
    val residual = Trace.residualMs(spans)
    res.check(residual <= SpanToleranceMs,
      f"span children + self differ from wall by $residual%.4f ms (tolerance $SpanToleranceMs ms)")
    res.info("span_residual_max_ms") = residual.toString
    res.layer("trace.overhead_ms",
      Stats.median(tracedMs) - (if (untracedMs.isEmpty) Stats.median(tracedMs) else Stats.median(untracedMs)),
      "ms")
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      res.info(s"span.$n") = f"n=${ss.size} wall_ms=${Stats.mean(ss.map(_.wallMs))}%.3f " +
        f"self_ms=${Stats.mean(ss.map(s => self(s.id)))}%.3f"
    }
    writeSpans(cx, spans)
  }

  /** Writes every span as one JSON line under `.bench_build/traces/`. */
  private def writeSpans(cx: Ctx, spans: Seq[Span]): Unit = {
    val dir = java.nio.file.Paths.get(cx.runDir).getParent.resolve("traces")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(s"${cx.res.info("workload")}-seed${cx.seed}.jsonl")
    val lines = spans.sortBy(_.id).map { s =>
      val e = Option(cx.tr.engine.get(s.id))
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ms":${s.t0Epoch},"end_ms":${s.t1Epoch},"wall_ms":${s.wallMs},""" +
        s""""jobs":${e.map(_.jobs).getOrElse(0L)},"exec_run_ms":${e.map(_.runMs).getOrElse(0.0)}}"""
    }
    java.nio.file.Files.write(f, lines.asJava)
    cx.res.info("trace_file") = s".bench_build/traces/${f.getFileName}"
  }

  val StreamParts: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  /** A span's children plus its self time must equal its wall time to this. */
  val SpanToleranceMs = 0.001
  /** Micro-batch parts must account for triggerExecution to this share. */
  val StreamTolerance = 0.10
}
