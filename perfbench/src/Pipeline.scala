package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Chunker, Dedup, IvfIndex, Rag, VectorStore}
import graft.sources.Mime

/** Paths of one built corpus: the embedded corpus (the RAG request type's
  * input) and the serving layouts built from it.
  */
final case class Layouts(dir: String) {
  val corpus = s"$dir/corpus"
  val store = s"$dir/store"
  val ivf = s"$dir/ivf"
}

/** What one corpus build produced and the checks it made. */
final case class BuildOut(layouts: Layouts, docs: Long, chunks: Long, keptChunks: Long,
                          candidatePairs: Long, truePairs: Long, dedupRecall: Double,
                          inputBytes: Long, storedBytes: Long, wallS: Double,
                          errors: Seq[String])

/** Corpus construction through the engine's public layer functions. Every
  * stage's result is materialized to parquet in the build directory, so a
  * call's span holds that layer's whole work.
  */
object Pipeline {
  val ChunkSize = 40
  val Stride = 32
  val Dim = 64
  val NumPlanes = 4
  val Nlist = 8
  /** Pairs at or above this estimated Jaccard are merged as near-duplicates. */
  val DupThreshold = 0.6

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally w.close()
    }
  }

  private def stage(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def step[T](tr: Trace, name: String)(f: => T): T = {
    val t = System.nanoTime()
    try tr.span(name)(f) finally Log(f"$name ${(System.nanoTime() - t) / 1e9}%.2fs")
  }

  /** Write `rows` as a two-column parquet table. */
  def writeTable(spark: SparkSession, rows: Seq[(Long, String)], cols: (String, String),
                 path: String): Unit = {
    import spark.implicits._
    rows.toDF(cols._1, cols._2).repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
  }

  /** The batch mailbox pipeline that builds rag_serve's serving corpus:
    * ingest → redact → chunk → embed → near-duplicate detection → vector
    * store and IVF index of the kept chunks. Checks that rows are conserved
    * through every stage and scores the planted near-duplicates.
    */
  def corpus(spark: SparkSession, tr: Trace, mails: IndexedSeq[Gen.Mail], mailPath: String,
             dir: String): BuildOut = {
    val t0 = System.nanoTime()
    val errors = Seq.newBuilder[String]
    def check(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg
    val L = Layouts(dir)
    val msgs = spark.read.parquet(mailPath)

    // the build span holds the build only; the checks below run outside it
    val (docs, red, chunks, emb, pairs, comps, nonKeepers, kept) = tr.span("build") {
      val docs = step(tr, "Mime.ingest") {
        stage(spark, Mime.ingest(msgs, col("id"), col("raw")), s"$dir/docs")
      }
      val red = step(tr, "TextFunctions.redactPii") {
        stage(spark, docs.select(col("id"), TextFunctions.redactPii(col("document")).as("text")),
          s"$dir/redacted")
      }
      val chunks = step(tr, "Chunker.chunk") {
        stage(spark, Chunker.chunk(red, col("id"), col("text"), ChunkSize, Stride)
          .select((col("id") * 1000 + col("chunk_idx")).as("id"), col("id").as("doc_id"),
            col("chunk").as("text")), s"$dir/chunks")
      }
      val emb = step(tr, "Rag.embedCorpus") {
        stage(spark, Rag.embedCorpus(chunks, col("text"), Dim), s"$dir/embedded")
      }
      val pairs = step(tr, "Dedup.minhashPairs") {
        stage(spark, Dedup.minhashPairs(red, col("id"), col("text"), maxBucket = 50),
          s"$dir/pairs")
      }
      val comps = step(tr, "Dedup.connectedComponents") {
        stage(spark, Dedup.connectedComponents(
          pairs.filter(col("est_jaccard") >= DupThreshold).select(col("a_id"), col("b_id"))),
          s"$dir/components")
      }
      val nonKeepers = comps.filter(col("comp") =!= col("id")).select(col("id").as("doc_id"))
      val kept = step(tr, "VectorStore.write") {
        val k = stage(spark, emb.join(nonKeepers, Seq("doc_id"), "left_anti"), L.corpus)
        VectorStore.write(k.select(col("id").as("vec_id"), col("embedding")), col("embedding"),
          L.store, NumPlanes, Dim)
        k
      }
      step(tr, "IvfIndex.build") {
        IvfIndex.build(kept.select(col("id"), col("embedding")), "id", "embedding", L.ivf, Nlist, Dim)
      }
      (docs, red, chunks, emb, pairs, comps, nonKeepers, kept)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Log(f"built ${mails.size} messages in ${wallS}%.2fs")

    // ---- output checks: rows are conserved through every stage ----
    val got = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    check(got.size == mails.size, s"ingest kept ${got.size} of ${mails.size} messages")
    val badDocs = mails.count(m => !got.get(m.id).exists(d =>
      graft.expressions.HashEmbed.tokens(d).sameElements(Gen.expectedTokens(m))))
    check(badDocs == 0, s"ingest returned wrong text for $badDocs messages")
    check(red.count() == got.size, "redaction changed the row count")
    check(red.filter(col("text").rlike(TextFunctions.EmailRe) ||
      col("text").rlike(TextFunctions.PhoneRe)).isEmpty, "PII survived redaction")
    val nChunks = chunks.count()
    val expChunks = red.select(TextFunctions.tokenCount(col("text")).as("n")).collect()
      .map(r => 1L + (r.getLong(0) - 1) / Stride).sum
    check(nChunks == expChunks, s"chunker made $nChunks chunks, expected $expChunks")
    check(emb.count() == nChunks, "embedding changed the row count")
    val label = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nKept = kept.count()
    val expKept = chunks.join(nonKeepers, Seq("doc_id"), "left_anti").count()
    check(nKept == expKept, s"dedup kept $nKept chunks, expected $expKept")
    check(label.count { case (i, c) => i != c } < got.size, "dedup dropped every document")
    val stored = spark.read.parquet(L.store).count()
    check(stored == nKept, s"vector store holds $stored rows, expected $nKept")
    val indexed = IvfIndex.probe(spark, L.ivf, Array.fill(Dim)(0.0).toSeq, Nlist).count()
    check(indexed == nKept, s"IVF index holds $indexed rows, expected $nKept")
    val planted = mails.filter(_.dupOf >= 0).map(m => (m.id, m.dupOf))
    val plantedSet = planted.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val candidates = pairs.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    BuildOut(L, got.size, nChunks, nKept, candidates.length, candidates.count(plantedSet),
      if (planted.isEmpty) 1.0 else Stats.dedupRecall(planted, id => label.getOrElse(id, id)),
      dirBytes(mailPath), dirBytes(L.store) + dirBytes(L.ivf), wallS, errors.result())
  }
}
