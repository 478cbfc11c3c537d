package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH banding, n-gram Jaccard, SimHash
  * (see graft.expressions.SimHash), embedding-cosine (see Ann).
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is one shuffle on the content hash; MinHash/LSH shuffles on
  * band keys so only same-bucket candidates meet (the 100 TB-safe shape;
  * hot buckets are the residual skew risk — salt or cap bucket size there);
  * SimHash groups on fingerprint prefixes. All hashing is md5-derived and
  * integer-exact, so every stage is oracle-checkable.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical content. One shuffle. */
  def exact(df: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    df.groupBy(contentCol)
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles of text; whole-text fallback below n tokens. */
  def shingles(text: Column, n: Int = 3): Column = {
    val t = TextFunctions.tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*)))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** Hex-rotation of an md5 hex digest — a cheap deterministic
    * "permutation" family: one md5 per shingle serves all signature slots
    * (shift formula shared with MinHashSig.shift; ≤ 32 distinct slots).
    */
  def rotHex(h: Column, i: Int): Column = {
    val s = graft.expressions.MinHashSig.shift(i)
    if (s == 0) h
    else concat(substring(h, s + 1, 32 - s), substring(h, 1, s))
  }

  /** MinHash signature from a per-shingle md5 list: slot i is the
    * lexicographic min of the 4·i-rotated digests. String min is an order
    * statistic identical in any engine (lowercase hex).
    */
  def minhashSignatureFromHashes(hs: Column, numHashes: Int = 8): Column =
    array((0 until numHashes).map(i => array_min(transform(hs, h => rotHex(h, i)))): _*)

  /** MinHash signature — single-pass native expression (see
    * graft.expressions.MinHashSig; same semantics as the composed
    * `minhashSignatureFromHashes(transform(shingles(...), md5))` form,
    * ~100x faster per row).
    */
  def minhashSignature(text: Column, numHashes: Int = 8, shingleN: Int = 3): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.MinHashSig(
        org.apache.spark.sql.GraftBridge.expression(text), numHashes, shingleN))

  /** LSH band keys from a signature: rowsPerBand consecutive minhashes
    * concatenated. Docs sharing any band key are candidate near-dups.
    */
  def bands(sig: Column, numHashes: Int, rowsPerBand: Int = 2): Column = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand ($rowsPerBand) — " +
        "trailing signature slots would silently drop out of banding")
    array((0 until numHashes / rowsPerBand).map { b =>
      concat((0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)
  }

  /** MinHash+LSH candidate pairs with estimated Jaccard.
    * Input: (idCol, textCol). Output: a_id < b_id, est_jaccard ∈ [0,1].
    * Shuffles: one on band key (the LSH bucket-join), one distinct. No O(n²).
    */
  def minhashPairs(df: DataFrame, idCol: Column, textCol: Column,
                   numHashes: Int = 8, rowsPerBand: Int = 2,
                   shingleN: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    // Materialize the signature projection once (eager localCheckpoint —
    // row-level RDD storage, NOT the columnar cache whose string-array
    // encoding measured ~20 ms/row here). Two problems solved at once:
    // Catalyst's projection collapse cannot inline the signature expression
    // into the 8 band references (measured 100x+ blowup), and the LSH
    // self-join's two sides read the same materialized partitions instead
    // of recomputing every signature twice (ReusedExchange does not dedupe
    // the identical subtrees under AQE). At cluster scale use
    // stageMinhashSignatures + minhashPairsFromStage, which land the
    // signatures in a table instead.
    val sigs = df.select(idCol.as("id"),
        minhashSignature(textCol, numHashes, shingleN).as("sig"))
      .localCheckpoint()
    pairsFromSignatures(sigs, numHashes, rowsPerBand, maxBucket)
  }

  /** Id-hash partition key of the signature stage (crc32 like the
    * Retrieval stages' db key): [[deleteSignatures]] rewrites only the
    * victims' partitions instead of the whole stage.
    */
  private val NumSigBuckets = 64
  private def sbCol(id: Column): Column =
    pmod(crc32(id.cast("string")), lit(NumSigBuckets.toLong)).cast("int")

  /** Land the (id, sig) signature projection in a parquet stage — the
    * cluster-scale alternative to localCheckpoint: lineage-free,
    * spillable, recoverable, and reusable across queries/jobs
    * (signatures are append-stable per document, so incremental corpora
    * only sign new rows). Partitioned by id hash (`sb`) so
    * [[deleteSignatures]] — the GDPR/corpus-refresh path — rewrites only
    * the victims' partitions.
    */
  def stageMinhashSignatures(df: DataFrame, idCol: Column, textCol: Column,
                             stagePath: String, numHashes: Int = 8,
                             shingleN: Int = 3): Unit =
    graft.tables.Staging.writePartitioned(
      sigRows(df, idCol, textCol, numHashes, shingleN), "sb", stagePath)

  /** The (id, sig, sb) rows of the signature stage; ids are stored as
    * LONG (numeric throughout the engine), so the stage reads with the
    * declared [[SigSchema]] instead of inferring it on every read.
    */
  private def sigRows(df: DataFrame, idCol: Column, textCol: Column,
                      numHashes: Int, shingleN: Int): DataFrame =
    df.select(idCol.cast("long").as("id"),
        minhashSignature(textCol, numHashes, shingleN).as("sig"))
      .withColumn("sb", sbCol(col("id")))

  private val SigSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("sig", ArrayType(StringType)),
      StructField("sb", IntegerType)))
  }

  /** Absorb a gated batch into the staged signature table: append the
    * accepted rows' signatures (the same hashing as
    * [[stageMinhashSignatures]]) so the NEXT [[incrementalPairs]] call
    * screens against them — the write half of the production ingest loop
    * the gate's docstring promises. Append-only; accepted rows are novel
    * by the gate's own verdict, so no id dedup is needed here.
    */
  def absorbSignatures(df: DataFrame, idCol: Column, textCol: Column,
                       stagePath: String, numHashes: Int = 8,
                       shingleN: Int = 3): Unit =
    graft.tables.Staging.writePartitioned(
      sigRows(df, idCol, textCol, numHashes, shingleN), "sb", stagePath,
      "append")

  /** DELETE documents from the staged signature table — the missing
    * twin of [[absorbSignatures]]: without it, GDPR-deleted or
    * re-indexed documents keep gating future ingests as phantom
    * near-dup origins forever (the reference's rebuild-everything
    * alternative is `rag.py:30-38`'s full restage). Only the victims'
    * id-hash partitions are rewritten (cost ∝ the deletion set's
    * buckets, never the stage); every other partition's files are
    * untouched. Delete-then-gate ≡ rebuild-on-remaining —
    * q_dedup_sig_delete hash-checks it.
    */
  def deleteSignatures(ids: DataFrame, stagePath: String,
                       idName: String = "id"): Unit =
    graft.tables.WriterLock.withLock(stagePath) {
      val spark = ids.sparkSession
      val idsB = ids.select(col(idName).as("id"))
        .withColumn("sb", sbCol(col("id")))
        .localCheckpoint() // feeds the bucket collect AND the victim join
      // metadata-sized collect: sb lives in [0, NumSigBuckets)
      val vsb = idsB.select(col("sb")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (vsb.nonEmpty) {
        val kept = readSigStage(spark, stagePath)
          .filter(col("sb").isin(vsb: _*))
          .join(idsB.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("sig"), col("sb"))
        // crash-safe staged swap (graft.tables.Commit): the victims'
        // partitions rewrite whole-or-not-at-all — a writer crash can no
        // longer leave half the victim buckets rewritten and the other
        // half still holding deleted docs' signatures for later gates to
        // silently resurrect; readers refuse the torn middle and
        // recoverSignatures rolls the logged commit forward
        graft.tables.Commit.commit(stagePath, Seq(
          graft.tables.Commit.Replace("", "sb", vsb, kept)))
      }
    }

  /** The signature-stage read every consumer goes through: refuses a
    * stage with an unfinished maintenance commit (writer crashed
    * mid-apply or still running) instead of silently serving a
    * half-deleted stage. Declared schema: no inference job per gate
    * micro-batch.
    */
  private def readSigStage(spark: org.apache.spark.sql.SparkSession,
                           stagePath: String): DataFrame = {
    if (graft.tables.Commit.pending(stagePath))
      throw new IllegalStateException(
        s"$stagePath has an unfinished maintenance commit (_COMMIT intent " +
          "present) — heal with Dedup.recoverSignatures()")
    graft.tables.Staging.readLayout(spark, stagePath, Some(SigSchema))
  }

  /** Heal the signature stage after a crashed writer — stale lock
    * cleared (pid-checked), a logged delete commit rolled forward.
    */
  def recoverSignatures(stagePath: String): Unit = {
    graft.tables.WriterLock.clearStale(stagePath)
    graft.tables.Commit.recover(stagePath)
  }

  /** Banding join against a previously staged signature table. */
  def minhashPairsFromStage(spark: org.apache.spark.sql.SparkSession,
                            stagePath: String, numHashes: Int = 8,
                            rowsPerBand: Int = 2,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    pairsFromSignatures(readSigStage(spark, stagePath), numHashes, rowsPerBand,
      maxBucket)

  /** Stage + join in one call (convenience; the stage is rewritten). */
  def minhashPairsStaged(df: DataFrame, idCol: Column, textCol: Column,
                         stagePath: String, numHashes: Int = 8,
                         rowsPerBand: Int = 2, shingleN: Int = 3,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    stageMinhashSignatures(df, idCol, textCol, stagePath, numHashes, shingleN)
    minhashPairsFromStage(df.sparkSession, stagePath, numHashes, rowsPerBand,
      maxBucket)
  }

  /** Incremental dedup: candidate near-dup pairs between a NEW batch of
    * documents and an existing corpus whose signatures are already staged
    * (stageMinhashSignatures). The new side is signed fresh and banded;
    * the corpus side reads the stage — so corpus text is never re-hashed
    * and, because the incoming batch is small, its banded relation
    * broadcasts: the join plan shuffles NEITHER side. This is the ingest
    * gate a production pipeline runs on every arriving batch; the staged
    * signatures then absorb the accepted rows via append.
    *
    * `maxBucket` caps ONLY the staged corpus side. The corpus is fixed, so
    * its bucket sizes — and therefore the verdict for any given incoming
    * document — do not depend on how the arriving stream is chopped into
    * batches (batch-boundary invariance). A cap on the fresh side would
    * depend on batch composition, and is unnecessary: candidate blow-up
    * comes from hot CORPUS buckets (s fresh rows x bucket_n corpus rows);
    * the fresh batch itself is small and broadcast.
    * Output: (corpus_id, new_id, est_jaccard).
    */
  def incrementalPairs(newDf: DataFrame, idCol: Column, textCol: Column,
                       stagePath: String, numHashes: Int = 8,
                       rowsPerBand: Int = 2, shingleN: Int = 3,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    def banded(sigs: DataFrame, cap: Int) = {
      val b = sigs.select(col("id"), col("sig"),
        posexplode(bands(col("sig"), numHashes, rowsPerBand)).as(Seq("band_idx", "band")))
      dropHotBuckets(b, Seq("band_idx", "band"), cap)
    }
    val corpus = banded(readSigStage(newDf.sparkSession, stagePath), maxBucket)
      .select(col("id").as("corpus_id"), col("sig").as("corpus_sig"),
        col("band_idx"), col("band"))
    val fresh = banded(newDf.select(idCol.as("id"),
        minhashSignature(textCol, numHashes, shingleN).as("sig")), Int.MaxValue)
      .select(col("id").as("new_id"), col("sig").as("new_sig"),
        col("band_idx").as("n_band_idx"), col("band").as("n_band"))
    val matchCount = aggregate(zip_with(col("corpus_sig"), col("new_sig"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    corpus.join(broadcast(fresh),
        col("band_idx") === col("n_band_idx") && col("band") === col("n_band"))
      .select(col("corpus_id"), col("new_id"),
        (matchCount.cast("double") / numHashes).as("est_jaccard"))
      .distinct()
  }

  /** Drop rows of `banded` falling in bucket-key groups larger than
    * `maxBucket` — the LSH hot-bucket guard. A bucket of size s yields
    * s(s-1)/2 candidate pairs, so one degenerate bucket (boilerplate
    * text, near-constant docs) turns the band join quadratic at corpus
    * scale; capping bucket size bounds per-key join fan-out at
    * maxBucket² while real near-dup clusters (small buckets) keep their
    * pairs. The hot-key set is tiny by construction (only buckets above
    * the cap), so the exclusion is a broadcast anti-join — narrow, no
    * extra shuffle of the banded relation beyond the df-style count
    * (whose Zipf head partial aggregation absorbs map-side).
    */
  private def dropHotBuckets(banded: DataFrame, keys: Seq[String],
                             maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val hot = banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") > maxBucket)
        .select(keys.map(col): _*)
      banded.join(broadcast(hot), keys, "left_anti")
    }

  /** Banding join over a materialized (id, sig) relation — shared by the
    * localCheckpoint and staged-table variants.
    */
  private def pairsFromSignatures(sigs: DataFrame, numHashes: Int,
                                  rowsPerBand: Int, maxBucket: Int): DataFrame = {
    val banded0 = sigs.select(col("id"), col("sig"),
        posexplode(bands(col("sig"), numHashes, rowsPerBand)).as(Seq("band_idx", "band")))
    val banded = dropHotBuckets(banded0, Seq("band_idx", "band"), maxBucket)
    val a = banded.select(col("id").as("a_id"), col("sig").as("a_sig"),
      col("band_idx"), col("band"))
    val b = banded.select(col("id").as("b_id"), col("sig").as("b_sig"),
      col("band_idx").as("b_band_idx"), col("band").as("b_band"))
    // count of agreeing signature components, exact integer
    val matchCount = aggregate(zip_with(col("a_sig"), col("b_sig"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    a.join(b, col("band_idx") === col("b_band_idx") && col("band") === col("b_band")
        && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (matchCount.cast("double") / numHashes).as("est_jaccard"))
      .distinct()
  }

  /** Generic SimHash near-dup miner: band the 32-bit fingerprint into
    * `numBands` equal bit segments; pairs agreeing on ANY segment are
    * candidates (pigeonhole: hamming ≤ numBands-1 guarantees a shared
    * band, so no pair inside `maxHamming` ≤ numBands-1 is ever missed),
    * then exact Hamming filter. One shuffle on the band key, one
    * distinct — candidates are found BY fingerprint, never by an
    * O(n²) comparison or planted-id knowledge.
    */
  def simhashPairs(df: DataFrame, idCol: Column, textCol: Column,
                   numBands: Int = 4, maxHamming: Int = 3,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    // materialized once for the same reason as minhashPairs: the self-join's
    // two sides must read the fingerprints, not recompute them per band
    val fps = df.select(idCol.as("id"), TextFunctions.simhash(textCol).as("fp"))
      .localCheckpoint()
    simhashPairsFromFingerprints(fps, numBands, maxHamming, maxBucket)
  }

  /** Land the (id, fp) fingerprint projection in a parquet stage — the
    * cluster-scale alternative to localCheckpoint (same rationale as
    * stageMinhashSignatures).
    */
  def stageSimhashFingerprints(df: DataFrame, idCol: Column, textCol: Column,
                               stagePath: String): Unit =
    df.select(idCol.as("id"), TextFunctions.simhash(textCol).as("fp"))
      .write.mode("overwrite").parquet(stagePath)

  /** Fingerprint banding join against a previously staged table. */
  def simhashPairsFromStage(spark: org.apache.spark.sql.SparkSession,
                            stagePath: String, numBands: Int = 4,
                            maxHamming: Int = 3,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    simhashPairsFromFingerprints(spark.read.parquet(stagePath), numBands,
      maxHamming, maxBucket)

  private def simhashPairsFromFingerprints(fps: DataFrame, numBands: Int,
                                           maxHamming: Int,
                                           maxBucket: Int): DataFrame =
    hammingPairsFromFingerprints(fps, graft.expressions.SimHash.Bits,
      numBands, maxHamming, maxBucket)

  /** Banded Hamming-distance pair miner over ANY `bits`-wide integer
    * fingerprint relation (id, fp) — the shared core of the SimHash text
    * miner (32-bit) and the dHash image miner (64-bit, see
    * [[dhashPairs]]). Band the fingerprint into `numBands` equal bit
    * segments; pairs agreeing on ANY segment are candidates (pigeonhole:
    * hamming ≤ numBands−1 guarantees a shared band — no pair inside
    * `maxHamming` is ever missed), then exact Hamming filter. One
    * shuffle on the band key, one distinct; `maxBucket` is the usual
    * hot-bucket skew guard (a degenerate band value — e.g. all-flat
    * images hashing to fp 0 — would otherwise re-create the quadratic).
    */
  def hammingPairsFromFingerprints(fps: DataFrame, bits: Int, numBands: Int,
                                   maxHamming: Int,
                                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bits % numBands == 0,
      s"numBands ($numBands) must divide $bits — ragged bands would drop trailing bits")
    require(maxHamming < numBands,
      s"maxHamming ($maxHamming) must be < numBands ($numBands) — the pigeonhole " +
        "completeness guarantee (some band agrees) only holds up to numBands-1 " +
        "differing bits; beyond that pairs are silently missed")
    val w = bits / numBands
    val mask = (1L << w) - 1
    val banded0 = fps.select(col("id"), col("fp"),
      posexplode(array((0 until numBands).map(j =>
        shiftright(col("fp"), j * w).bitwiseAND(lit(mask))): _*)).as(Seq("band_idx", "band")))
    val banded = dropHotBuckets(banded0, Seq("band_idx", "band"), maxBucket)
    val a = banded.select(col("id").as("a_id"), col("fp").as("a_fp"),
      col("band_idx"), col("band"))
    val b = banded.select(col("id").as("b_id"), col("fp").as("b_fp"),
      col("band_idx").as("b_band_idx"), col("band").as("b_band"))
    a.join(b, col("band_idx") === col("b_band_idx") && col("band") === col("b_band")
        && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** IMAGE near-dup candidate pairs over a materialized (id, fp) relation
    * of 64-bit dHash perceptual fingerprints (Multimodal.dhash — real
    * BMP pixel decode → 9×8 gradient hash): the multimodal × dedup
    * composition. Near-identical images (re-encodes, 1-pixel edits,
    * small brightness shifts) land within a few Hamming bits, so the
    * same banded equi-join that mines text SimHash pairs mines image
    * pairs — numBands 4 × 16 bits, pigeonhole-complete to hamming ≤ 3,
    * hot-bucket capped (flat images all hash near fp 0). `fps` must be
    * materialized (staged/localCheckpoint'd) like every self-joined
    * fingerprint relation.
    */
  def dhashPairs(fps: DataFrame, numBands: Int = 4, maxHamming: Int = 3,
                 maxBucket: Int = Int.MaxValue): DataFrame =
    hammingPairsFromFingerprints(fps, 64, numBands, maxHamming, maxBucket)

  /** Train/test contamination report (decontamination): for every test
    * doc, the train docs it shares at least `minShared` distinct word
    * shingles with. The join key is the shingle itself (explode +
    * equi-join + count) — one shuffle on shingle, no O(n²).
    *
    * `maxDf` is the Zipf-head skew guard: a shingle appearing in d docs
    * contributes up to d_test × d_train join rows, so one ubiquitous
    * shingle ("of the and" at web scale) makes the join quadratic.
    * Shingles whose document frequency across BOTH sides exceeds maxDf
    * are dropped before the join — they carry no contamination signal
    * (they match everything) and their exclusion bounds per-key join
    * fan-out at maxDf². The hot set is tiny by construction, so the
    * exclusion is a broadcast anti-join on each side; the df count
    * itself is one aggregation whose Zipf head partial aggregation
    * absorbs map-side.
    */
  def crossOverlap(train: DataFrame, test: DataFrame, idCol: Column,
                   textCol: Column, shingleN: Int = 3,
                   minShared: Int = 2, maxDf: Int = Int.MaxValue): DataFrame = {
    def sh(df: DataFrame, side: String) =
      df.select(idCol.as(side + "_id"),
        explode(TextFunctions.shingles(textCol, shingleN, distinct = true)).as("sh"))
    crossOverlapFromShingles(sh(train, "train"), sh(test, "test"),
      minShared, maxDf)
  }

  /** [[crossOverlap]] over PRE-BUILT exploded shingle relations —
    * `trainSh` = (train_id, sh), `testSh` = (test_id, sh) — so a staged
    * per-document shingle artifact (built once per corpus, cf.
    * SparkEntry's doc-shingle stage) feeds decontamination without
    * re-tokenizing the text. The document-frequency cap is still
    * computed HERE, over train∪test: df is a property of which corpus
    * slice participates, not of the documents, so it cannot ride in a
    * corpus-level artifact without changing the guard's semantics.
    */
  def crossOverlapFromShingles(trainSh: DataFrame, testSh: DataFrame,
                               minShared: Int = 2,
                               maxDf: Int = Int.MaxValue): DataFrame = {
    val (t, tr) =
      if (maxDf == Int.MaxValue) (testSh, trainSh)
      else {
        val hot = testSh.select(col("sh")).unionAll(trainSh.select(col("sh")))
          .groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select(col("sh"))
        (testSh.join(broadcast(hot), Seq("sh"), "left_anti"),
          trainSh.join(broadcast(hot), Seq("sh"), "left_anti"))
      }
    t.join(tr, "sh")
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bloom-prefiltered EXACT decontamination — answer-identical to
    * [[crossOverlap]], cheaper at corpus scale. The test split's shingle
    * set is folded into one Spark `BloomFilter` (distributed
    * `bloom_filter_agg` over `xxhash64(sh)`, partials OR-merged on
    * executors), the single serialized filter is collected and inlined
    * as a foldable `Literal`, and the train-side shingle stream is
    * gated by codegen'd `might_contain` BEFORE the shuffle join. Blooms
    * have no false negatives, and the exact equi-join that follows
    * removes every false positive — so the report matches
    * [[crossOverlap]] bit for bit while the join shuffle carries only
    * the matching shingles (plus an fpp-sized sliver) instead of the
    * whole corpus. At 100 TB this is the decisive shape: the test split
    * is small and fixed, so a megabyte-scale filter rides to every
    * corpus scan task and the corpus never shuffles un-pruned. The only
    * driver materialization is that one scalar filter (`sizeBits`/8
    * bytes), the same budget class as a broadcast dim.
    *
    * The `maxDf` Zipf-head guard applies before the bloom on both sides,
    * exactly as in [[crossOverlap]], so the pair set it prunes is
    * unchanged.
    */
  def crossOverlapBloom(train: DataFrame, test: DataFrame, idCol: Column,
                        textCol: Column, shingleN: Int = 3,
                        minShared: Int = 2, maxDf: Int = Int.MaxValue,
                        expectedShingles: Long = 0L,
                        sizeBits: Long = 0L): DataFrame = {
    def sh(df: DataFrame, side: String) =
      df.select(idCol.as(side + "_id"),
        explode(TextFunctions.shingles(textCol, shingleN, distinct = true)).as("sh"))
    crossOverlapBloomFromShingles(sh(train, "train"), sh(test, "test"),
      minShared, maxDf, expectedShingles, sizeBits)
  }

  /** [[crossOverlapBloom]] over pre-built exploded shingle relations —
    * same contract as [[crossOverlapFromShingles]] (staged-artifact
    * consumers skip re-tokenization; the df cap stays per-call).
    *
    * `expectedShingles`/`sizeBits` = 0 (default) AUTO-SIZES the filter
    * from the test side's measured distinct-shingle count (one extra
    * small aggregation over the SMALL side — the test split, fixed by
    * pipeline role), at ~10 bits per item (~1% fpp). A fixed-size
    * filter silently saturates when the test split outgrows it — fpp
    * goes to 1, the might_contain gate passes everything, and the
    * "pruned" join quietly carries the full corpus again (caught by the
    * 100× scale harness: 18 s → 67 s the moment the corpus overran the
    * old 2^18 default). Answers are identical either way (blooms have
    * no false negatives and the exact join removes false positives) —
    * sizing only decides whether the prune still prunes.
    */
  def crossOverlapBloomFromShingles(trainSh: DataFrame, testSh: DataFrame,
                                    minShared: Int = 2,
                                    maxDf: Int = Int.MaxValue,
                                    expectedShingles: Long = 0L,
                                    sizeBits: Long = 0L): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val (t, tr) =
      if (maxDf == Int.MaxValue) (testSh, trainSh)
      else {
        // pinned (localCheckpoint): the hot set feeds BOTH the bloom-build
        // action and the final join pipeline — without the cut, the
        // corpus-wide shingle-df aggregation (the one full-corpus shuffle
        // here) would run twice, once per job. The set itself is tiny by
        // construction (df > maxDf survivors of a Zipf head).
        val hot = testSh.select(col("sh")).unionAll(trainSh.select(col("sh")))
          .groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select(col("sh"))
          .localCheckpoint()
        (testSh.join(broadcast(hot), Seq("sh"), "left_anti"),
          trainSh.join(broadcast(hot), Seq("sh"), "left_anti"))
      }
    def hashed(c: Column) = GraftBridge.column(
      XxHash64(Seq(GraftBridge.expression(c)), 42L))
    val expected =
      if (expectedShingles > 0) expectedShingles
      else math.max(1L, t.select(col("sh")).distinct().count())
    val bits =
      if (sizeBits > 0) sizeBits
      else math.max(1L << 20, expected * 10)
    // BloomFilterAggregate silently clamps its sizing literals to the
    // session caps spark.sql.optimizer.runtime.bloomFilter.maxNumItems
    // (default 4M) / .maxNumBits (default 2^26 ≈ 67M bits): past ~6.7M
    // distinct test-side shingles the requested size would be cut and
    // the filter would saturate again — the exact silent failure the
    // auto-sizing exists to kill. Raise the caps to the requested size
    // (never lower them) so the built filter IS the sized filter at
    // every scale, and log the bump so it is loud.
    val conf = t.sparkSession.conf
    def raiseCap(key: String, need: Long): Unit = {
      val cur = scala.util.Try(conf.get(key).toLong).getOrElse(Long.MaxValue)
      if (cur < need) {
        conf.set(key, need.toString)
        System.err.println(s"[graft] raising $key $cur -> $need " +
          "(bloom would have been clamped into saturation)")
      }
    }
    raiseCap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", expected)
    raiseCap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", bits)
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(hashed(col("sh"))),
        Literal(expected), Literal(bits), 0, 0)
        .toAggregateExpression()).as("bf")
    // One serialized filter — bit-OR of executor partials, deterministic.
    val bf = t.agg(bloomAgg).head.getAs[Array[Byte]](0)
    val trPruned =
      if (bf == null) tr.filter(lit(false)) // empty test side: nothing can match
      else tr.filter(GraftBridge.column(BloomFilterMightContain(
        Literal(bf, BinaryType), GraftBridge.expression(hashed(col("sh"))))))
    t.join(trPruned, "sh")
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT all-pairs shingle-set similarity join at threshold `t`
    * (PPJoin-style prefix filtering) — the deterministic complement to
    * the MinHash/SimHash miners: no probabilistic recall loss, every
    * pair with Jaccard ≥ t is returned, and the plan is still never a
    * cartesian product. Elements are `shingleN`-gram shingles (the
    * discriminative unit the whole dedup family uses — raw tokens
    * degenerate on small vocabularies).
    *
    * Prefix-filtering theorem: order every document's distinct shingles
    * by global rarity (df asc, shingle asc); two sets with Jaccard ≥ t
    * must share an element within each one's first |d| − ⌈t·|d|⌉ + 1. So
    * candidates come from an equi-join on PREFIX elements only — and
    * because prefixes hold each document's RAREST shingles, Zipf-head
    * elements never become join keys (the skew guard falls out of the
    * ordering itself). A size filter (t·max ≤ min) prunes length-
    * incompatible pairs inside the join; survivors verify with the exact
    * intersection. Shuffles: one df count, one ordered-list build, one
    * prefix equi-join, one verify join — all keyed, all bounded.
    *
    * Deliberate shape: the prefix join stays SLIM (ids, sizes, positions)
    * and the candidate pairs re-join `toks` to fetch shingle arrays for
    * the verify. Folding those re-joins away by carrying each document's
    * full array through the prefix join would ship ~|prefix| copies of
    * every array through the join shuffle — at corpus scale that trade
    * (array-width × prefix-length shuffle volume for two fewer keyed
    * joins of one-array-per-doc) is strictly worse, so the re-fetch
    * shape is the one that survives 100 TB.
    * The shingle materialization goes through `stage` like every other
    * staged operator: [[Stage.Local]] (default) for local runs,
    * [[Stage.Parquet]] for the durable cluster path (DedupSpec asserts
    * both yield identical pairs).
    * Output: (a_id, b_id, inter, jaccard).
    */
  def prefixJaccardJoin(df: DataFrame, idCol: Column, textCol: Column,
                        threshold: Double, shingleN: Int = 3,
                        stage: Stage = Stage.Local): DataFrame = {
    // materialized once: three consumers (df count, prefix build, verify
    // join) would otherwise re-evaluate the shingle expression per use —
    // at corpus scale this is the staged-signature pattern's durable twin
    val toks = stage.cut(df.select(idCol.as("id"),
      TextFunctions.shingles(textCol, shingleN, distinct = true).as("tk")),
      "ppj_shingles")
    prefixJaccardJoinFromToks(toks, threshold)
  }

  /** [[prefixJaccardJoin]] over a PRE-MATERIALIZED (id, tk) relation of
    * per-document distinct shingle arrays. `toks` MUST already be staged
    * or lineage-cut (parquet stage, localCheckpoint) — it is consumed by
    * three separate pipelines (df count, prefix build, verify re-fetch),
    * and an unmaterialized input would re-run its derivation per
    * consumer, exactly the recomputation the staged-shingle artifact
    * exists to avoid.
    */
  def prefixJaccardJoinFromToks(toks: DataFrame, threshold: Double,
                                stage: Stage = Stage.Local): DataFrame =
    prefixJaccardJoinFromOrdered(toks,
      stage.cut(orderedPrefixes(toks), "ppj_ordered"), threshold)

  /** The per-document df-ordered shingle relation (id, otk, sz) — the
    * PREFIX INDEX the set-similarity join consumes twice. It is a
    * corpus-level artifact exactly like the postings stage or the
    * minhash signature stage (the global-df ordering makes it
    * per-corpus, so stage it keyed by corpus fingerprint): build once,
    * join from the stage. Callers that cannot stage pass it through
    * [[prefixJaccardJoinFromToks]]'s stage cut instead.
    */
  def orderedPrefixes(toks: DataFrame): DataFrame = {
    val ex = toks.select(col("id"), explode(col("tk")).as("tok"))
    val dfs = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    ex.join(dfs, "tok")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), s => s.getField("tok")).as("otk"),
        size(col("ord")).as("sz"))
  }

  /** The candidate-mine + verify core over a MATERIALIZED ordered-prefix
    * relation ([[orderedPrefixes]] — staged or lineage-cut; it feeds both
    * join sides, and an unmaterialized input would run the whole
    * df-count + per-doc sort-agg twice).
    *
    * ASYMMETRIC (PPJoin) indexing prefix: order each pair canonically by
    * (size, id); the smaller side needs only its MID-prefix. For a
    * qualifying pair with |x| <= |y|, overlap a = ceil(t/(1+t)*(|x|+|y|))
    * >= ceil(2t/(1+t)*|x|), and the prefix lemma (the first |A|-a+1
    * elements of each side must intersect) then needs only
    * |x| - ceil(2t/(1+t)*|x|) + 1 elements of x — at t = 0.6 that is
    * 0.25*|x| instead of 0.4*|x|, a ~1.6x cut in one join side's keyed
    * rows with ZERO recall loss (measured 2.8x wall-clock at 100x
    * scale). The 1e-9 slack makes the double ceil conservative (a longer
    * prefix is extra candidates, never a lost pair).
    */
  def prefixJaccardJoinFromOrdered(toks: DataFrame, ordered: DataFrame,
                                   threshold: Double): DataFrame = {
    // the 1e-9 slack on BOTH ceils: a threshold whose double rounds
    // above its rational value (0.1, 0.2, 0.4...) could otherwise ceil
    // one too high and SHORTEN the probe prefix — float rounding must
    // only ever lengthen a prefix (extra candidates), never drop an
    // exact-boundary qualifying pair
    val p = (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .cast("int")
    val beta = 2 * threshold / (1 + threshold)
    val pm = (col("sz") - ceil(lit(beta) * col("sz") - lit(1e-9)) + 1).cast("int")
    def prefOf(limit: Column): DataFrame =
      ordered.select(col("id"), col("sz"),
        posexplode(slice(col("otk"), lit(1), greatest(limit, lit(1)))))
        .select(col("id"), col("sz"), col("pos"), col("col").as("ptok"))
    // side a explodes only its mid-prefix; side b its full probe prefix
    val a = prefOf(pm).select(col("id").as("a_id"), col("sz").as("a_psz"),
      col("pos").as("a_pos"), col("ptok"))
    val b = prefOf(p).select(col("id").as("b_id"), col("sz").as("b_psz"),
      col("pos").as("b_pos"), col("ptok").as("b_ptok"))
    // positional filter (PPJoin): a pair's FIRST shared ordered token at
    // 0-based positions (pa, pb) bounds the overlap by the shorter suffix,
    // min(|a|-pa, |b|-pb); Jaccard >= t needs overlap >= t/(1+t)*(|a|+|b|),
    // so rows whose suffix bound cannot reach that bound are dropped in
    // the join itself. Valid per-row: a qualifying pair always passes on
    // its first-match row (all shared tokens live in those suffixes);
    // later-match rows may drop, which only removes duplicates the
    // distinct would eat anyway. The 1e-9 slack keeps the double bound
    // from rejecting an exact-boundary pair - extra candidates are
    // harmless (the verify filter is exact), dropped true pairs would
    // not be.
    val alpha = lit(threshold) / (lit(1.0) + lit(threshold)) *
      (col("a_psz") + col("b_psz"))
    // canonical order (size, id): side a is the indexed/smaller one
    val cand = a.join(b, col("ptok") === col("b_ptok") &&
        (col("a_psz") < col("b_psz") ||
          (col("a_psz") === col("b_psz") && col("a_id") < col("b_id"))) &&
        lit(threshold) * col("b_psz") <= col("a_psz") &&
        (least(col("a_psz") - col("a_pos"), col("b_psz") - col("b_pos"))
          .cast("double") + lit(1e-9)) >= alpha)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id")).distinct()
    val ta = toks.select(col("id").as("a_id"), col("tk").as("a_tk"),
      size(col("tk")).as("a_sz"))
    val tb = toks.select(col("id").as("b_id"), col("tk").as("b_tk"),
      size(col("tk")).as("b_sz"))
    cand.join(ta, "a_id").join(tb, "b_id")
      .withColumn("inter",
        size(array_intersect(col("a_tk"), col("b_tk"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("a_sz") + col("b_sz") - col("inter")))
      .filter(col("jaccard") >= lit(threshold))
      .select(col("a_id"), col("b_id"), col("inter"), col("jaccard"))
  }




  /** Connected components over an undirected near-dup pair list
    * (a_id, b_id) → (id, comp) with comp = the minimum id reachable from
    * the node. This resolves PAIRS into CLUSTERS — the step between
    * candidate mining (minhashPairs/simhashPairs) and the actual dedup
    * decision (keep comp, drop the rest): transitive near-dups
    * (a~b, b~c) collapse into one cluster even though (a,c) was never a
    * candidate pair.
    *
    * Algorithm: hash-min label propagation — every node repeatedly takes
    * the min label over itself and its neighbours until fixpoint. Each
    * round is one equi-join + one aggregation (both shuffle on id);
    * rounds needed = graph diameter, which for near-dup graphs is tiny
    * (clusters are cliques/short chains). At 100 TB scale with
    * adversarial diameters, alternating large-star/small-star converges
    * in O(log n) rounds with the same join-shape per round. Lineage is
    * truncated every round via `stage` — [[Stage.Local]] (executor-memory,
    * the local default) or [[Stage.Parquet]] (durable stage, the cluster
    * path: survives executor loss and restarts from the last round) — so
    * plans stay constant-size across iterations. Non-convergence within
    * maxIter throws — never silently wrong.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          stage: Stage = Stage.Local): DataFrame = {
    val edges = pairs.select(col("a_id").cast("long").as("src"),
      col("b_id").cast("long").as("dst"))
    // pre-partitioned on the join key once: every round's edge-side input
    // then satisfies the join's distribution from the checkpoint (the
    // Dataset checkpoint preserves outputPartitioning), so only the
    // label-propagation shuffle remains per round
    val sym = stage.cut(edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst")), "cc_edges")
    // seed with min(id, min neighbor) — one propagation round folded into
    // the init aggregation; for the common near-dup shape (cliques/stars
    // labeled by their minimum) this IS the fixpoint and the loop only
    // confirms it
    var labels = stage.cut(sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp")), "cc_labels_0")
    // every round can only DECREASE a node's label (min over a superset
    // that includes its own label), so the exact label sum is strictly
    // monotone until fixpoint — comparing sums detects convergence with
    // one cheap aggregate instead of a per-round join
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val viaNeighbor = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("comp"))
      val next = stage.cut(viaNeighbor.unionAll(labels)
        .groupBy("id").agg(min("comp").as("comp")), s"cc_labels_${iter + 1}")
      val nextSum = labelSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "graph diameter exceeds the round budget; raise maxIter or use " +
          "star-contraction for adversarial graphs")
    labels
  }

  /** Per-document duplicated-span report — exact substring-level dedup
    * (the complement of whole-doc near-dup): slide a `w`-token window at
    * `stride` over every document, hash each window, and count how many
    * of a doc's windows occur more than once in the corpus (across docs
    * OR repeated inside one doc — both are training-data duplication).
    * Docs shorter than `w` tokens contribute one whole-doc window.
    *
    * Output: (id, n_windows, n_dup_windows, dup_permille) per doc —
    * dup_permille = ⌊1000·n_dup/n⌋, exact integer.
    *
    * Scale shape: one narrow explode (corpus tokens × 1/stride windows),
    * one aggregation on the window hash (partial agg absorbs any hot
    * boilerplate hash map-side since the state is one long), one
    * equi-join back on the hash, one aggregation on doc id. No O(n²);
    * the window hash is md5 so collisions are negligible and the whole
    * report is engine-exact.
    */
  def spanDuplication(df: DataFrame, idCol: Column, textCol: Column,
                      w: Int = 20, stride: Int = 10): DataFrame = {
    val tk = TextFunctions.tokens(textCol)
    val winHashes = when(size(tk) >= w,
        transform(sequence(lit(0), size(tk) - w, lit(stride)),
          st => md5(concat_ws(" ", slice(tk, st + 1, lit(w))))))
      .otherwise(array(md5(concat_ws(" ", tk))))
    val wins = df.select(idCol.as("id"), explode(winHashes).as("wh"))
    val dupSet = wins.groupBy(col("wh")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    wins.join(dupSet, Seq("wh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        count(col("n_occ")).as("n_dup_windows"))
      .withColumn("dup_permille",
        expr("(1000L * n_dup_windows) DIV n_windows"))
  }

  /** Exact n-gram Jaccard for explicit candidate pairs.
    * `pairs`: (a_id, b_id). Computes |A∩B| / |A∪B| over distinct shingles.
    * Use LSH candidates (minhashPairs) upstream at scale — never all pairs.
    */
  def ngramJaccard(df: DataFrame, idCol: Column, textCol: Column,
                   pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = df.select(idCol.as("id"),
      array_distinct(shingles(textCol, shingleN)).as("sh"))
    pairs
      .join(sh.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sh.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          (size(col("a_sh")) + size(col("b_sh"))
            - size(array_intersect(col("a_sh"), col("b_sh"))))).as("jaccard"))
  }

  /** Semantic (embedding-space) dedup, the SemDeDup shape: k-means the
    * corpus (deterministic Lloyd — [[Clustering.lloyd]]), then compare
    * pairs ONLY within a cluster and drop any doc with a LOWER-ID
    * neighbour at cosine ≥ τ — SemDeDup's upper-triangular rule, a
    * deterministic proxy for the paper's keep-farthest-from-centroid
    * ordering. Note this is NOT greedy keep-first: on a similarity
    * chain a~b~c with a̸~c it drops both b and c (b's lower-id
    * neighbour a was itself kept, c's lower-id neighbour b was not —
    * the rule never re-checks), where greedy keep-first would keep c.
    * The published rule accepts that over-drop; the oracle replays it.
    *
    * Scale shape — this is the op's entire reason to exist: clustering
    * cuts candidate generation from O(n²) to Σ_c n_c², and the cluster
    * count k is the knob that bounds n_c (at 100 TB: k ~ n/⟨target
    * cluster size⟩, the paper's regime). The residual hazard is the
    * same hot-bucket skew the LSH band joins face: ONE degenerate
    * cluster (k-means collapsing mass onto a centroid) re-creates the
    * quadratic. `maxCluster` applies the maxBucket discipline:
    * over-cap clusters are excluded from pairing WHOLE and flagged
    * (`capped`), never silently truncated — a cluster that degenerate
    * needs a bigger k or the lexical miners, not a quiet sample. The
    * intra-cluster join is a cid-keyed equi-join; the assignment
    * relation is lineage-cut once (`stage`) so the self-join reads the
    * materialized assignment instead of re-running Lloyd twice.
    *
    * Output (one row per cluster, the audit a corpus-build consumes):
    * (cid, n, capped, n_dup, sum_kept_ids, sim_fp = Σ floor(cos·1e6)
    * over the counted dup pairs — pins every compared cosine).
    */
  def semanticDedup(emb: DataFrame, idCol: Column, vecCol: Column,
                    k: Int, iters: Int, dim: Int, tauFp: Long,
                    maxCluster: Long = 100000L,
                    stage: Stage = Stage.Local): DataFrame = {
    val (asg0, _) = Clustering.lloyd(emb, idCol, vecCol, k, iters, dim)
    val asg = stage.cut(asg0.select(col("id"), col("vec"), col("cid")),
      "semdedup_asg")
    val sizes = asg.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .withColumn("capped", col("n") > maxCluster)
    val scoped = asg.join(
      sizes.filter(!col("capped")).select(col("cid")), Seq("cid"), "left_semi")
    val pairs = scoped.as("x")
      .join(scoped.as("y"),
        col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
      .withColumn("cos_fp",
        floor(graft.functions.VectorFunctions.cosine(
          col("x.vec"), col("y.vec")) * lit(1000000.0)).cast("long"))
      .filter(col("cos_fp") >= tauFp)
    // a doc may exceed τ against several earlier keepers — count it once,
    // and pin its strongest cosine so sim_fp is order-independent
    val dups = pairs
      .groupBy(col("y.cid").as("cid"), col("y.id").as("dup_id"))
      .agg(max(col("cos_fp")).as("best_fp"))
    val dupAgg = dups.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_dup"), sum(col("best_fp")).as("sim_fp"))
    val keptAgg = asg.join(dups.select(col("dup_id")),
        asg("id") === col("dup_id"), "left_anti")
      .groupBy(col("cid")).agg(sum(col("id")).as("sum_kept_ids"))
    sizes
      .join(dupAgg, Seq("cid"), "left")
      .join(keptAgg, Seq("cid"), "left")
      .select(col("cid"), col("n"), col("capped"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("sum_kept_ids"), lit(0L)).as("sum_kept_ids"),
        coalesce(col("sim_fp"), lit(0L)).as("sim_fp"))
      .orderBy(col("cid"))
  }
}
