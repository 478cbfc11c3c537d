package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.{Staging, Tables}
import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.operators.{Ann, Bpe, Dedup, Knn, Multimodal, Pq, Quantize, Rag, TrainData}
import graft.oracle.OracleGen
import graft.oracle.OracleGen.QueryVec
import graft.sources.Mime

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with matching DuckDB oracle SQL in `oracleSql`.
  *
  * Oracle bit-exactness rules used throughout (see OracleGen):
  *  - never aggregate raw doubles (association order differs across
  *    engines/partitions): cast to DECIMAL first, aggregate exactly, cast
  *    the final result to DOUBLE;
  *  - per-row double arithmetic is fine when both sides evaluate the same
  *    left-associated expression tree;
  *  - every query output has a deterministic total order on unique keys.
  */
object SparkEntry {

  private val dec12: DecimalType = DecimalType(12, 2)
  private val dec4: DecimalType = DecimalType(4, 2)

  /** Staged-setup directory for one-time per-sf-dir layouts (partitioned
    * tables, vector stores). The tag carries a per-layout version (bump it
    * when that layout's derivation changes) and the path embeds a content
    * fingerprint of the source dir, so neither a logic change nor
    * regenerated testdata can silently reuse a stale cache (see Staging).
    */
  private def stagedPath(tag: String, dir: String): String =
    Staging.stagedPath(tag, dir)

  /** DECIMAL-exact discounted price: l_extendedprice * (1 - l_discount). */
  private def discPrice = {
    val price = col("l_extendedprice").cast(dec12)
    val disc  = col("l_discount").cast(dec4)
    price * (lit(1).cast(dec4) - disc)
  }
  private val discPriceSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"

  /** Fixed RAG query string for the E2E pipeline queries — product intent
    * (hits product words, no advice words) so the retrieval path runs.
    */
  private val RagQuery = "customer order for table part data"

  /** The batched lexical serving fixture: four term lists with heavy
    * vocabulary overlap (index 0 IS RagQuery), so the batch path's
    * shared-term pruning is exercised, not just four disjoint scans.
    */
  private val BatchLexQueries: Seq[String] = Seq(
    RagQuery,
    "customer part data",
    "order table data for",
    "part customer")

  /** Batched MaxSim fixture: each query needs ≥3 tokens (one 3-gram
    * window); the first two SHARE the window "customer part data"-style
    * overlap with RagQuery so the batch path's cross-query window
    * dedup is exercised.
    */
  private val BatchMaxSimQueries: Seq[String] = Seq(
    RagQuery,
    "for table part data",
    "order table data for",
    "data table customer order")

  /** Shared DuckDB CTE block computing the integer fixed-point BM25 term
    * scores of every (doc, query-term) pair — mirror of Retrieval.bm25
    * (k1 = 6/5, b = 3/4 folded into the exact integer ratio; `//` and
    * Spark's DIV agree on positive operands). Ends with `bm25_scored`
    * (doc_id, idf_fp, tfpart_fp) in scope.
    */
  /** Mirror of TextAnalysis.langId as a DuckDB CASE over a `tk` token-list
    * column in scope — shared by q_lang_id and the cleaning funnel.
    */
  private lazy val LangIdCaseSql: String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(tk, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"
    val hs = TextAnalysis.langWords.map { case (l, ws) => l -> hits(ws) }
    val cases = hs.zipWithIndex.map { case ((l, h), i) =>
      val later = hs.drop(i + 1).map(_._2)
      val ge = (Seq(s"$h > 0") ++ later.map(o => s"$h >= $o")).mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** Shared DuckDB CTE block deriving per-label centroid vectors from the
    * exact fixed-point sums (mirror of the VectorSumFp aggregation +
    * `sum_fp/1e12/n` per-element formula). Ends with `centlist`
    * (clabel, cvec DOUBLE[64]) in scope.
    */
  private lazy val CentroidListCtes: String =
    """cent AS (
      |  SELECT label AS clabel, i AS pos, count(*) AS n,
      |    CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
      |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS sum_fp
      |  FROM embeddings, range(1, 65) t(i)
      |  GROUP BY label, i),
      |centlist AS (
      |  SELECT clabel,
      |    list(CAST(sum_fp AS DOUBLE) / 1000000000000.0 / n ORDER BY pos) AS cvec
      |  FROM cent GROUP BY clabel)""".stripMargin

  /** Unrolled power-iteration CTE chain mirroring Graph.pagerank
    * (q_pagerank). Constants are emitted from the same Scala doubles the
    * Spark side computes with (e.g. 1−0.85 ≠ the literal 0.15 in the last
    * ulp), so both engines evaluate identical operand chains.
    */
  private def pagerankOracleSql(iters: Int, damping: Double = 0.85): String = {
    val scale = graft.operators.Graph.ContribScale
    val sb = new StringBuilder
    sb.append(
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem),
         |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n_nodes FROM nodes),
         |r0 AS (SELECT id, 1.0 / n_nodes AS r FROM nodes, nn)""".stripMargin)
    for (it <- 1 to iters) {
      sb.append(
        s""",
           |c$it AS (
           |  SELECT e.dst AS id,
           |    CAST(floor(r.r / d.odeg * $scale) AS BIGINT) AS c
           |  FROM edges e
           |  JOIN r${it - 1} r ON e.src = r.id
           |  JOIN deg d ON e.src = d.src),
           |r$it AS (
           |  SELECT n.id,
           |    ${1 - damping} / n_nodes +
           |      $damping * (CAST(coalesce(s.sum_c, 0) AS DOUBLE) / $scale) AS r
           |  FROM nodes n
           |  LEFT JOIN (SELECT id, sum(c) AS sum_c FROM c$it GROUP BY id) s
           |    ON n.id = s.id
           |  CROSS JOIN nn)""".stripMargin)
    }
    sb.append(s"\nSELECT id, r FROM r$iters ORDER BY r DESC, id ASC LIMIT 20")
    sb.toString
  }

  /** Unrolled replay of TrainData.lrQualityTrain: one CTE pair
    * (hard-sigmoid scores → gradient sums → weight row) per gradient
    * step, all integer fixed-point with every division dividend offset
    * to non-negative (truncation = floor in both engines — the same
    * identity the Scala side's Math.floorDiv satisfies).
    */
  /** fp3 hard-sigmoid probability of weight relation `$w` applied to
    * feature relation alias `f` — the SQL twin of TrainData's p
    * expression (shared by the training replay and downstream scoring).
    */
  private def lrPSql(w: String): String = {
    import graft.operators.TrainData.LrZOffset
    s"LEAST(GREATEST(($w.w0*1000 + $w.w1*f.f1 + $w.w2*f.f2 + $w.w3*f.f3 + " +
      s"$LrZOffset) // 4000 - ${LrZOffset / 4000} + 500, 0), 1000)"
  }

  /** CTE chain (no WITH keyword) replaying TrainData.lrQualityTrain's
    * full-batch gradient descent on the documents table — leaves
    * `f` (id, y, f1..f3) and `wt$steps` (w0..w3, the trained weights) in
    * scope. Shared by the q_lr_quality oracle and any oracle that SCORES
    * with the trained model (q_corpus_build's quality-filter stage).
    */
  private def lrWeightsCteSql(steps: Int, lrNum: Long = 1L,
                              lrDen: Long = 2L): String = {
    import graft.operators.TrainData.{LrWClamp, LrKOffset}
    val sb = new StringBuilder
    sb.append(
      s"""tok AS (
         |  SELECT doc_id AS id, lang, ${OracleGen.toksSql("text")} AS tk
         |  FROM documents),
         |fr AS (
         |  SELECT id,
         |    CAST(len(tk) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter(tk,
         |      t -> t IN ('the','a','of','and','to','in'))) AS BIGINT) AS stop,
         |    CAST(coalesce(list_sum(list_transform(tk, t -> len(t))), 0)
         |      AS BIGINT) AS sum_len,
         |    CASE WHEN lang = 'en' THEN CAST(1000 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS y
         |  FROM tok),
         |f AS (
         |  SELECT id, y,
         |    LEAST(n_tok, 200) * 5 AS f1,
         |    CASE WHEN n_tok > 0 THEN stop * 1000 // n_tok ELSE 0 END AS f2,
         |    LEAST(CASE WHEN n_tok > 0 THEN sum_len * 1000 // n_tok ELSE 0 END,
         |      20000) // 20 AS f3
         |  FROM fr),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         |wt0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         |               CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)""".stripMargin)
    def pExpr(w: String) = lrPSql(w)
    for (k <- 1 to steps) {
      val fs = Seq("1000", "f1", "f2", "f3")
      sb.append(
        s""",
           |p$k AS (
           |  SELECT f.y, f.f1, f.f2, f.f3, ${pExpr("w")} AS p
           |  FROM f, wt${k - 1} w),
           |g$k AS (
           |  SELECT ${fs.zipWithIndex.map { case (fx, j) =>
                 s"CAST(sum((p - y) * $fx) AS BIGINT) AS g$j" }.mkString(", ")}
           |  FROM p$k),
           |wt$k AS (
           |  SELECT ${(0 to 3).map { j =>
                 val b = s"(nn.n * ${1000L * lrDen})"
                 s"CAST(LEAST(GREATEST(w.w$j - ((g.g$j * $lrNum + $LrKOffset * $b) " +
                   s"// $b - $LrKOffset), -$LrWClamp), $LrWClamp) AS BIGINT) AS w$j"
               }.mkString(",\n    ")}
           |  FROM wt${k - 1} w, g$k g, nn)""".stripMargin)
    }
    sb.toString
  }

  private def lrQualityOracleSql(steps: Int, lrNum: Long = 1L,
                                 lrDen: Long = 2L): String =
    s"""WITH ${lrWeightsCteSql(steps, lrNum, lrDen)},
       |pf AS (
       |  SELECT f.y, ${lrPSql("w")} AS p
       |  FROM f, wt$steps w)
       |SELECT
       |  (SELECT w0 FROM wt$steps) AS w0_fp,
       |  (SELECT w1 FROM wt$steps) AS w1_fp,
       |  (SELECT w2 FROM wt$steps) AS w2_fp,
       |  (SELECT w3 FROM wt$steps) AS w3_fp,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN (p >= 500) = (y = 1000) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN (p >= 500) = (y = 1000) THEN 1 ELSE 0 END) * 1000
       |    // count(*) AS BIGINT) AS acc_fp
       |FROM pf""".stripMargin

  /** ann_join's probe IN-list: the query bucket XOR every mask of ≤2 of
    * 5 bits — generated from the same Ann.probeMasks the Spark side uses.
    */
  private def annJoinProbesSql: String =
    graft.operators.Ann.probeMasks(5, 2)
      .map(m => if (m == 0) "q.bucket" else s"xor(q.bucket, $m)")
      .mkString(", ")

  /** 1e-12 fixed-point DCG rank weights floor(1e12 / log2(rn+1)) for
    * rn = 1..k, computed ONCE in Scala and emitted to both engines as
    * integer literals — log2 is not correctly-rounded, so letting each
    * engine evaluate it would risk last-ulp divergence; identical
    * literals + exact integer sums keep nDCG bit-identical.
    */
  private def dcgWeightFp(k: Int): IndexedSeq[Long] =
    (1 to k).map(rn =>
      math.floor(1e12 / (math.log(rn + 1.0) / math.log(2.0))).toLong)

  /** Unrolled personalized-PageRank replay: identical to
    * pagerankOracleSql except the teleport term is a seed-membership CASE
    * over the same constants-from-Scala doubles.
    */
  private def pagerankPersonalizedOracleSql(iters: Int,
                                            damping: Double = 0.85): String = {
    val scale = graft.operators.Graph.ContribScale
    val sb = new StringBuilder
    sb.append(
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem),
         |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |nodes AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
         |sd AS (SELECT id FROM nodes WHERE id % 2 = 0 AND id < 20),
         |ns AS (SELECT count(*) AS n_seeds FROM sd),
         |r0 AS (
         |  SELECT n.id,
         |    CASE WHEN s.id IS NOT NULL THEN 1.0 / n_seeds ELSE 0.0 END AS r
         |  FROM nodes n LEFT JOIN sd s ON n.id = s.id CROSS JOIN ns)""".stripMargin)
    for (it <- 1 to iters) {
      sb.append(
        s""",
           |c$it AS (
           |  SELECT e.dst AS id,
           |    CAST(floor(r.r / d.odeg * $scale) AS BIGINT) AS c
           |  FROM edges e
           |  JOIN r${it - 1} r ON e.src = r.id
           |  JOIN deg d ON e.src = d.src),
           |r$it AS (
           |  SELECT n.id,
           |    CASE WHEN sd2.id IS NOT NULL THEN ${1 - damping} / ns.n_seeds
           |         ELSE 0.0 END +
           |      $damping * (CAST(coalesce(s.sum_c, 0) AS DOUBLE) / $scale) AS r
           |  FROM nodes n
           |  LEFT JOIN (SELECT id, sum(c) AS sum_c FROM c$it GROUP BY id) s
           |    ON n.id = s.id
           |  LEFT JOIN sd sd2 ON n.id = sd2.id
           |  CROSS JOIN ns)""".stripMargin)
    }
    sb.append(s"\nSELECT id, r FROM r$iters ORDER BY r DESC, id ASC LIMIT 20")
    sb.toString
  }

  /** Unrolled PageRank replay for the DIRECTED part→supplier graph, where
    * every supplier node is a sink: mirrors Graph.pagerank's dangling-mass
    * path — per round, the dangling nodes' ranks truncate to the same
    * 1e-15 fixed point, sum to one exact integer, and every node receives
    * d·(sum_d/scale)/N on top of its in-edge contributions. Operand
    * chains (division/addition order, coalesce placement) match the Spark
    * column expressions term for term.
    */
  private def pagerankDanglingOracleSql(iters: Int,
                                        damping: Double = 0.85): String = {
    val scale = graft.operators.Graph.ContribScale
    val sb = new StringBuilder
    sb.append(
      s"""WITH edges AS (
         |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem),
         |nodes AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
         |dang AS (
         |  SELECT n.id FROM nodes n
         |  LEFT JOIN deg d ON n.id = d.src WHERE d.src IS NULL),
         |nn AS (SELECT count(*) AS n_nodes FROM nodes),
         |r0 AS (SELECT id, 1.0 / n_nodes AS r FROM nodes, nn)""".stripMargin)
    for (it <- 1 to iters) {
      sb.append(
        s""",
           |c$it AS (
           |  SELECT e.dst AS id,
           |    CAST(floor(r.r / d.odeg * $scale) AS BIGINT) AS c
           |  FROM edges e
           |  JOIN r${it - 1} r ON e.src = r.id
           |  JOIN deg d ON e.src = d.src),
           |d$it AS (
           |  SELECT CAST(coalesce(sum(CAST(floor(r.r * $scale) AS BIGINT)), 0)
           |    AS BIGINT) AS sum_d
           |  FROM r${it - 1} r JOIN dang g ON r.id = g.id),
           |r$it AS (
           |  SELECT n.id,
           |    ${1 - damping} / n_nodes +
           |      $damping * (CAST(coalesce(s.sum_c, 0) AS DOUBLE) / $scale +
           |        (CAST(dd.sum_d AS DOUBLE) / $scale) / n_nodes) AS r
           |  FROM nodes n
           |  LEFT JOIN (SELECT id, sum(c) AS sum_c FROM c$it GROUP BY id) s
           |    ON n.id = s.id
           |  CROSS JOIN nn CROSS JOIN d$it dd)""".stripMargin)
    }
    sb.append(s"\nSELECT id, r FROM r$iters ORDER BY r DESC, id ASC LIMIT 20")
    sb.toString
  }

  /** Convergence-stopped PageRank replay (q_pagerank_converged): unrolls
    * `maxIters` rounds of the same CTE chain as pagerankOracleSql (on the
    * l_partkey ≤ 500 symmetrized subgraph), then — like the Spark side —
    * DECIDES the stop round from the data: per round, the exact
    * fixed-point L1 delta Σ|trunc(r_i·1e15) − trunc(r_{i-1}·1e15)| (an
    * integer in any order), and k = the first round whose delta ≤ tolFp
    * (maxIters if none). Output is round k's ranks plus iters_run = k, so
    * the stop decision itself is part of the hash-checked result.
    */
  private def pagerankConvergedOracleSql(maxIters: Int, tolFp: Long,
                                         damping: Double = 0.85): String = {
    val scale = graft.operators.Graph.ContribScale
    val sb = new StringBuilder
    sb.append(
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem WHERE l_partkey <= 500),
         |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n_nodes FROM nodes),
         |r0 AS (SELECT id, 1.0 / n_nodes AS r FROM nodes, nn)""".stripMargin)
    for (it <- 1 to maxIters) {
      sb.append(
        s""",
           |c$it AS (
           |  SELECT e.dst AS id,
           |    CAST(floor(r.r / d.odeg * $scale) AS BIGINT) AS c
           |  FROM edges e
           |  JOIN r${it - 1} r ON e.src = r.id
           |  JOIN deg d ON e.src = d.src),
           |r$it AS (
           |  SELECT n.id,
           |    ${1 - damping} / n_nodes +
           |      $damping * (CAST(coalesce(s.sum_c, 0) AS DOUBLE) / $scale) AS r
           |  FROM nodes n
           |  LEFT JOIN (SELECT id, sum(c) AS sum_c FROM c$it GROUP BY id) s
           |    ON n.id = s.id
           |  CROSS JOIN nn),
           |d$it AS (
           |  SELECT $it AS i,
           |    CAST(sum(abs(CAST(floor(a.r * $scale) AS BIGINT) -
           |      CAST(floor(b.r * $scale) AS BIGINT))) AS BIGINT) AS d
           |  FROM r$it a JOIN r${it - 1} b ON a.id = b.id)""".stripMargin)
    }
    val dUnion = (1 to maxIters).map(i => s"SELECT i, d FROM d$i")
      .mkString(" UNION ALL ")
    val rUnion = (1 to maxIters).map(i => s"SELECT $i AS i, id, r FROM r$i")
      .mkString(" UNION ALL ")
    sb.append(
      s""",
         |kk AS (SELECT CAST(coalesce(min(i), $maxIters) AS INTEGER) AS k
         |       FROM ($dUnion) WHERE d <= $tolFp),
         |allr AS ($rUnion)
         |SELECT allr.id, allr.r, kk.k AS iters_run
         |FROM allr, kk WHERE allr.i = kk.k
         |ORDER BY r DESC, id ASC LIMIT 20""".stripMargin)
    sb.toString
  }

  /** Unrolled Lloyd-iteration CTE chain mirroring Clustering.lloyd
    * (q_kmeans): seeds by lowest vec_id, per-iteration cross join against
    * the ≤ k centroids with the same left-associated L2 chain, argmin via
    * row_number ORDER BY (dist, cid), centroid update through the
    * identical 1e-12 fixed-point integer sums. Same doubles → same
    * comparisons → same memberships, iteration by iteration.
    */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH ")
    sb.append(kmeansCtesSql(k, iters))
    sb.append(
      s"""
         |SELECT CAST(a.cid AS INTEGER) AS cid, count(*) AS n,
         |  CAST(sum(a.vec_id) AS BIGINT) AS sum_ids, cf.cent_fp
         |FROM a$iters a JOIN (
         |  SELECT cid, CAST(list_sum(list_transform(cvec,
         |    x -> CAST(floor(x * 1000000.0) AS BIGINT))) AS BIGINT) AS cent_fp
         |  FROM c$iters) cf ON a.cid = cf.cid
         |GROUP BY a.cid, cf.cent_fp ORDER BY a.cid""".stripMargin)
    sb.toString
  }

  /** Per-order fan-out cap for the part co-occurrence pair build
    * (q_triangles / q_label_prop): an order carrying n distinct parts
    * emits C(n,2) pairs, so ONE degenerate container key (a 10⁴-part
    * bulk order) would turn the po⋈po self-join quadratic at scale —
    * the same hazard the LSH band joins kill with maxBucket. Orders
    * over the cap are dropped WHOLE (deterministic; the oracle replays
    * the cut with a HAVING clause) — a container that degenerate is
    * bulk noise, not co-occurrence signal. 64 is ~10× the largest real
    * order in the TPC-H-shaped data (≤ 7 lines), so at test scale the
    * cap drops nothing; GraphSpec plants a hot order to prove the cut.
    */
  private val CoOccurMaxOrderParts = 64

  /** Capped co-occurrence pairs (src < dst, one row per sharing order)
    * from a distinct (o, p) relation. Both consumers key every join on
    * o — no broadcast of the keep set needed, it rides the same
    * partitioning.
    */
  private def coOccurPairs(po: DataFrame): DataFrame = {
    val keep = po.groupBy(col("o")).agg(count(lit(1)).as("np"))
      .filter(col("np") <= CoOccurMaxOrderParts).select(col("o"))
    val capped = po.join(keep, Seq("o"), "left_semi")
    capped.as("x")
      .join(capped.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
  }

  /** Hierarchical graph-ANN replay (q_graph_ann_recall): BOTH navigable
    * graphs (coarse 1/sampleMod layer and base layer — per-(node,
    * adjacent-bucket) top-edgesPerBucket edges), the coarse walk from
    * per-bucket min-id seeds, the base walk seeded by the coarse
    * results ∪ the query's probe-bucket min-ids, every hop's frontier,
    * and the final top-k against the exact scan — all unrolled, so the
    * recall AND the distinct visited-set size (the sub-scan proof)
    * hash-replay.
    */
  private def graphAnnOracleSql(edgesPerBucket: Int, beam: Int, hops: Int,
                                k: Int, sampleMod: Int, floor: Double,
                                method: String = "graph_beam",
                                extraSelect: String = "",
                                corpusWhere: String = ""): String = {
    val l2q = OracleGen.l2ToQuery("embedding")
    val l2pair = OracleGen.l2FloatCols("x.embedding", "y.embedding")
    val masks = Ann.probeMasks(4, 2).mkString(", ")
    val entryProbes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
    // MATERIALIZED: each graph CTE is referenced 2×hops times (both
    // traversal directions per hop); without the hint DuckDB may
    // re-inline the whole O(n²/2^H) edge build per reference
    def graphCte(name: String, nodesCte: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT x.id AS src, y.id AS dst,
         |      row_number() OVER (PARTITION BY x.id, y.bucket
         |        ORDER BY $l2pair ASC, y.id ASC) AS rn
         |    FROM $nodesCte x JOIN $nodesCte y
         |      ON x.id <> y.id AND xor(x.bucket, y.bucket) IN ($masks))
         |  WHERE rn <= $edgesPerBucket)""".stripMargin
    // one walk layer: {p}_v0 → hops × (frontier, candidates, union)
    def walk(sb: StringBuilder, p: String, graph: String): Unit =
      for (t <- 1 to hops) {
        val (v0, v1, f0, c1) =
          (s"${p}_v${t - 1}", s"${p}_v$t", s"${p}_f${t - 1}", s"${p}_c$t")
        sb.append(
          s""",
             |$f0 AS MATERIALIZED (SELECT id FROM $v0
             |  ORDER BY distance ASC, id ASC LIMIT $beam),
             |$c1 AS MATERIALIZED (
             |  SELECT DISTINCT id FROM (
             |    SELECT g.dst AS id FROM $f0 f JOIN $graph g ON g.src = f.id
             |    UNION ALL
             |    SELECT g.src AS id FROM $f0 f JOIN $graph g ON g.dst = f.id)
             |  WHERE id NOT IN (SELECT id FROM $v0)),
             |$v1 AS MATERIALIZED (
             |  SELECT * FROM $v0
             |  UNION ALL
             |  SELECT vec_id AS id, $l2q AS distance FROM embeddings
             |  WHERE vec_id IN (SELECT id FROM $c1))""".stripMargin)
      }
    val sb = new StringBuilder
    sb.append(
      s"""WITH nodes AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding,
         |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket
         |  FROM embeddings$corpusWhere),
         |cnodes AS MATERIALIZED (SELECT * FROM nodes WHERE id % $sampleMod = 0),
         |${graphCte("cgraph", "cnodes")},
         |${graphCte("graph", "nodes")},
         |cseeds AS (SELECT min(id) AS id FROM cnodes GROUP BY bucket),
         |a_v0 AS MATERIALIZED (
         |  SELECT vec_id AS id, $l2q AS distance FROM embeddings
         |  WHERE vec_id IN (SELECT id FROM cseeds))""".stripMargin)
    walk(sb, "a", "cgraph")
    sb.append(
      s""",
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT id FROM (
         |    SELECT id FROM (SELECT id FROM a_v$hops
         |      ORDER BY distance ASC, id ASC LIMIT $beam)
         |    UNION ALL
         |    SELECT min(id) AS id FROM nodes
         |    WHERE bucket IN ($entryProbes) GROUP BY bucket)),
         |b_v0 AS MATERIALIZED (
         |  SELECT vec_id AS id, $l2q AS distance FROM embeddings
         |  WHERE vec_id IN (SELECT id FROM e0))""".stripMargin)
    walk(sb, "b", "graph")
    sb.append(
      s"""
         |, vis AS MATERIALIZED (SELECT DISTINCT id, distance FROM
         |    (SELECT * FROM a_v$hops UNION ALL SELECT * FROM b_v$hops)),
         |ann AS (SELECT id FROM vis ORDER BY distance ASC, id ASC LIMIT $k),
         |exact AS (SELECT vec_id AS id FROM embeddings$corpusWhere
         |          ORDER BY $l2q ASC, vec_id ASC LIMIT $k),
         |h AS (SELECT count(*) AS n_hits FROM ann
         |      WHERE id IN (SELECT id FROM exact))
         |SELECT '$method' AS method,
         |  CAST(n_hits AS DOUBLE) / $k AS recall_at_10,
         |  CAST($floor AS DOUBLE) AS min_recall,
         |  (CAST(n_hits AS DOUBLE) / $k >= $floor) AS recall_ok,
         |  CAST((SELECT count(*) FROM vis) AS BIGINT) AS n_scored$extraSelect
         |FROM h""".stripMargin)
    sb.toString
  }

  /** The batch-serving query ids: query b's vector is
    * OracleGen.QueryVec.shiftedValues(b) (b = 0 IS the canonical
    * QueryVec), so every member inlines into SQL as integer-literal
    * arithmetic.
    */
  private val BatchQueryIds: Seq[Int] = 0 until 8

  /** Multi-query replay (q_graph_ann_batch): the SAME build + walk
    * unroll as [[graphAnnOracleSql]], with the graph CTEs shared once
    * and one walk chain per batch query (its own l2 chain and probe
    * set), ending in per-query top-`k` rows — so the batched walk must
    * reproduce EVERY query's single-walk result to hash-match.
    */
  private def graphAnnBatchOracleSql(bs: Seq[Int], edgesPerBucket: Int,
                                     beam: Int, hops: Int, k: Int,
                                     sampleMod: Int): String = {
    val l2pair = OracleGen.l2FloatCols("x.embedding", "y.embedding")
    val masks = Ann.probeMasks(4, 2).mkString(", ")
    def graphCte(name: String, nodesCte: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT x.id AS src, y.id AS dst,
         |      row_number() OVER (PARTITION BY x.id, y.bucket
         |        ORDER BY $l2pair ASC, y.id ASC) AS rn
         |    FROM $nodesCte x JOIN $nodesCte y
         |      ON x.id <> y.id AND xor(x.bucket, y.bucket) IN ($masks))
         |  WHERE rn <= $edgesPerBucket)""".stripMargin
    def walk(sb: StringBuilder, p: String, graph: String, l2q: String): Unit =
      for (t <- 1 to hops) {
        val (v0, v1, f0, c1) =
          (s"${p}_v${t - 1}", s"${p}_v$t", s"${p}_f${t - 1}", s"${p}_c$t")
        sb.append(
          s""",
             |$f0 AS MATERIALIZED (SELECT id FROM $v0
             |  ORDER BY distance ASC, id ASC LIMIT $beam),
             |$c1 AS MATERIALIZED (
             |  SELECT DISTINCT id FROM (
             |    SELECT g.dst AS id FROM $f0 f JOIN $graph g ON g.src = f.id
             |    UNION ALL
             |    SELECT g.src AS id FROM $f0 f JOIN $graph g ON g.dst = f.id)
             |  WHERE id NOT IN (SELECT id FROM $v0)),
             |$v1 AS MATERIALIZED (
             |  SELECT * FROM $v0
             |  UNION ALL
             |  SELECT vec_id AS id, $l2q AS distance FROM embeddings
             |  WHERE vec_id IN (SELECT id FROM $c1))""".stripMargin)
      }
    val sb = new StringBuilder
    sb.append(
      s"""WITH nodes AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding,
         |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket
         |  FROM embeddings),
         |cnodes AS MATERIALIZED (SELECT * FROM nodes WHERE id % $sampleMod = 0),
         |${graphCte("cgraph", "cnodes")},
         |${graphCte("graph", "nodes")},
         |cseeds AS (SELECT min(id) AS id FROM cnodes GROUP BY bucket)""".stripMargin)
    for (b <- bs) {
      val l2q = OracleGen.l2ToQueryShifted("embedding", b)
      val probes = Ann.probesOf(OracleGen.QueryVec.shiftedValues(b), 4)
        .mkString(", ")
      sb.append(
        s""",
           |q${b}_a_v0 AS MATERIALIZED (
           |  SELECT vec_id AS id, $l2q AS distance FROM embeddings
           |  WHERE vec_id IN (SELECT id FROM cseeds))""".stripMargin)
      walk(sb, s"q${b}_a", "cgraph", l2q)
      sb.append(
        s""",
           |q${b}_e0 AS MATERIALIZED (
           |  SELECT DISTINCT id FROM (
           |    SELECT id FROM (SELECT id FROM q${b}_a_v$hops
           |      ORDER BY distance ASC, id ASC LIMIT $beam)
           |    UNION ALL
           |    SELECT min(id) AS id FROM nodes
           |    WHERE bucket IN ($probes) GROUP BY bucket)),
           |q${b}_b_v0 AS MATERIALIZED (
           |  SELECT vec_id AS id, $l2q AS distance FROM embeddings
           |  WHERE vec_id IN (SELECT id FROM q${b}_e0))""".stripMargin)
      walk(sb, s"q${b}_b", "graph", l2q)
      sb.append(
        s""",
           |q${b}_top AS (
           |  SELECT CAST($b AS BIGINT) AS q_id,
           |    CAST(row_number() OVER (ORDER BY distance ASC, id ASC) AS BIGINT) AS rn,
           |    id, distance
           |  FROM (SELECT DISTINCT id, distance FROM
           |    (SELECT * FROM q${b}_a_v$hops UNION ALL SELECT * FROM q${b}_b_v$hops))
           |  ORDER BY distance ASC, id ASC LIMIT $k)""".stripMargin)
    }
    sb.append("\n" +
      bs.map(b => s"SELECT q_id, rn, id, distance FROM q${b}_top")
        .mkString("", "\nUNION ALL\n", "\nORDER BY q_id, rn"))
    sb.toString
  }

  /** Label-propagation replay (q_label_prop): unrolls `iters` synchronous
    * rounds on the symmetrized part co-occurrence graph. Per round: the
    * vote multiset is every in-neighbor's label plus the node's own
    * (self-vote), the new label the row_number-1 winner under
    * (count DESC, label ASC) — the same integer argmax Spark computes as
    * max(struct(n, -lbl)). All-integer rounds replay exactly.
    */
  private def labelPropOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH po0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey <= 300),
        |keep AS (SELECT o FROM po0 GROUP BY o
        |         HAVING count(*) <= $CoOccurMaxOrderParts),
        |po AS (SELECT po0.o, po0.p FROM po0 JOIN keep ON keep.o = po0.o),
        |und AS (
        |  SELECT DISTINCT x.p AS src, y.p AS dst
        |  FROM po x JOIN po y ON x.o = y.o WHERE x.p < y.p),
        |edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
        |l0 AS (SELECT id, id AS lbl FROM (SELECT DISTINCT src AS id FROM edges))""".stripMargin)
    for (it <- 1 to iters) {
      sb.append(
        s""",
           |v$it AS (
           |  SELECT e.dst AS id, l.lbl FROM edges e JOIN l${it - 1} l ON l.id = e.src
           |  UNION ALL SELECT id, lbl FROM l${it - 1}),
           |c$it AS (SELECT id, lbl, count(*) AS n FROM v$it GROUP BY id, lbl),
           |l$it AS (
           |  SELECT id, lbl FROM (
           |    SELECT id, lbl,
           |      row_number() OVER (PARTITION BY id ORDER BY n DESC, lbl ASC) AS rn
           |    FROM c$it) WHERE rn = 1)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         |FROM l$iters GROUP BY lbl
         |ORDER BY n_members DESC, community ASC LIMIT 20""".stripMargin)
    sb.toString
  }

  /** Product-quantization replay (q_pq_knn): per subspace j, the same
    * unrolled Lloyd CTE chain as kmeansCtesSql but over embedding
    * positions [j·subDim+1, (j+1)·subDim] (seeds from the sliced lowest
    * ids, assignment via the offset L2 chain, updates through the
    * identical 1e-12 fixed-point sums), then the PQ pipeline: encode =
    * per-subspace argmin against the FINAL centroids ranked by squared
    * distance with cid tie-break (mirroring Pq.codeFor's struct-min),
    * qd = the ADC table (squared L2 from the query slice to each
    * centroid, the exact chain Pq.adcTables folds on the driver), adc =
    * the codes' table entries summed left-to-right in subspace order,
    * and the final recall check against the exact top-10.
    */
  /** The per-subspace PQ CTE block (training, final-centroid encode,
    * ADC tables) shared by q_pq_knn, q_ivf_pq and q_ivf_pq_batch.
    * `batchBs` empty → the single-query block (qd/adc against the
    * QueryVec); non-empty → one qd/adc chain per batch member b
    * (suffixed `qd$b` / `adc_$b`, against QueryVec.shiftedValues(b)) —
    * the expensive training + encode CTEs are emitted ONCE and shared
    * by every member's chain, exactly as the engine's staged codebooks
    * serve the whole batch.
    */
  private def pqCtesSql(m: Int, subDim: Int, k: Int, iters: Int,
                        src: String = "embeddings",
                        batchBs: Seq[Int] = Nil): String = {
    // In batch mode every per-query chain references the shared training
    // CTEs, and DuckDB's default CTE INLINING re-expands the whole Lloyd
    // chain (cross joins and all, recursively through d/a/c) at every
    // reference — measured >12 GB and an OOM at 8 batch members where
    // the materialized plan is a few MB. AS MATERIALIZED pins each
    // training CTE to one evaluation; single-query oracles keep the
    // default (they are reference-linear and already green).
    val asCte = if (batchBs.isEmpty) "AS (" else "AS MATERIALIZED ("
    val sb = new StringBuilder
    for (j <- 0 until m) {
      val lo = j * subDim
      val p = s"s$j"
      if (j > 0) sb.append(",\n")
      sb.append(
        s"""${p}seeds $asCte
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           |    list_transform(range(1, ${subDim + 1}),
           |      i -> CAST(embedding[CAST(i + $lo AS INTEGER)] AS DOUBLE)) AS cvec
           |  FROM $src ORDER BY vec_id LIMIT $k)""".stripMargin)
      var prev = s"${p}seeds"
      for (it <- 1 to iters) {
        sb.append(
          s""",
             |${p}d$it $asCte
             |  SELECT e.vec_id, e.embedding, c.cid,
             |    ${OracleGen.l2FloatColsOffset("e.embedding", "c.cvec", lo, subDim)} AS dist
             |  FROM $src e CROSS JOIN $prev c),
             |${p}a$it $asCte
             |  SELECT vec_id, embedding, cid FROM (
             |    SELECT vec_id, embedding, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |    FROM ${p}d$it) WHERE rn = 1),
             |${p}c${it}p $asCte
             |  SELECT cid, i AS pos, count(*) AS n,
             |    CAST(sum(CAST(floor(CAST(embedding[CAST(i + $lo AS INTEGER)] AS DOUBLE)
             |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS sum_fp
             |  FROM ${p}a$it, range(1, ${subDim + 1}) t(i)
             |  GROUP BY cid, i),
             |${p}c$it $asCte
             |  SELECT cid,
             |    list(CAST(sum_fp AS DOUBLE) / 1000000000000.0 / n ORDER BY pos) AS cvec
             |  FROM ${p}c${it}p GROUP BY cid)""".stripMargin)
        prev = s"${p}c$it"
      }
      sb.append(
        s""",
           |${p}enc $asCte
           |  SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${OracleGen.l2SqFloatColsOffset("e.embedding", "c.cvec", lo, subDim)}, c.cid) AS rn
           |    FROM $src e CROSS JOIN ${p}c$iters c) WHERE rn = 1)""".stripMargin)
      if (batchBs.isEmpty)
        sb.append(
          s""",
             |${p}qd AS (
             |  SELECT cid,
             |    ${OracleGen.l2SqToQueryOffset("cvec", lo, subDim)} AS d
             |  FROM ${p}c$iters)""".stripMargin)
      else batchBs.foreach { b =>
        sb.append(
          s""",
             |${p}qd$b AS MATERIALIZED (
             |  SELECT cid,
             |    ${OracleGen.l2SqToQueryOffsetShifted("cvec", lo, subDim, b)} AS d
             |  FROM ${p}c$iters)""".stripMargin)
      }
    }
    val encJoins = (1 until m)
      .map(j => s"JOIN s${j}enc e$j USING (vec_id)").mkString(" ")
    def adcCte(name: String, qdSuffix: String): String = {
      val qdJoins = (0 until m)
        .map(j => s"JOIN s${j}qd$qdSuffix q$j ON q$j.cid = e$j.cid").mkString(" ")
      val adcSum = (0 until m).map(j => s"q$j.d").mkString(" + ")
      s""",
         |$name AS (
         |  SELECT e0.vec_id, $adcSum AS adc
         |  FROM s0enc e0 $encJoins $qdJoins)""".stripMargin
    }
    if (batchBs.isEmpty) sb.append(adcCte("adc", ""))
    else batchBs.foreach(b => sb.append(adcCte(s"adc_$b", b.toString)))
    sb.toString
  }

  private def pqOracleSql(m: Int, subDim: Int, k: Int, iters: Int,
                          shortlist: Int = 50,
                          src: String = "embeddings",
                          method: String = ""): String = {
    val label =
      if (method.nonEmpty) method else s"pq_adc_m${m}_k${k}_rerank$shortlist"
    s"""WITH ${pqCtesSql(m, subDim, k, iters, src)},
       |short AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT $shortlist),
       |pq10 AS (
       |  SELECT e.vec_id FROM $src e JOIN short USING (vec_id)
       |  ORDER BY ${OracleGen.l2ToQuery("e.embedding")} ASC, e.vec_id ASC LIMIT 10),
       |exact AS (
       |  SELECT vec_id FROM $src
       |  ORDER BY ${OracleGen.l2ToQuery("embedding")} ASC, vec_id ASC LIMIT 10),
       |hits AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM pq10 JOIN exact USING (vec_id))
       |SELECT '$label' AS method,
       |  CAST(h.n AS DOUBLE) / 10 AS recall_at_10,
       |  CAST(0.5 AS DOUBLE) AS min_recall,
       |  CAST(h.n AS DOUBLE) / 10 >= CAST(0.5 AS DOUBLE) AS recall_ok,
       |  CAST(32.0 AS DOUBLE) AS compression_x
       |FROM hits h""".stripMargin
  }

  /** IVF-PQ replay (q_ivf_pq): the pqCtesSql block for codes + ADC, the
    * static-centroid cell assignment of ivfProbeOracleSql for the IVF
    * prune, shortlist restricted to the probed cells, exact rerank of
    * the shortlist, recall + candidate count against the full exact
    * top-10.
    */
  private def ivfPqOracleSql(m: Int, subDim: Int, k: Int, iters: Int,
                             nlist: Int, nprobe: Int,
                             shortlist: Int): String = {
    val probes = Ann.ivfProbes(QueryVec.values, nlist, nprobe)
    val dCols = (0 until nlist)
      .map(j => s"    ${OracleGen.l2ToCentroid("embedding", j, 64)} AS d$j")
      .mkString(",\n")
    val caseArms = (0 until nlist - 1)
      .map(j => s"WHEN d$j = mind THEN $j").mkString(" ")
    s"""WITH ${pqCtesSql(m, subDim, k, iters)},
       |dists AS (
       |  SELECT vec_id, embedding,
       |$dCols
       |  FROM embeddings),
       |cellsf AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id,
       |      CASE $caseArms ELSE ${nlist - 1} END AS cell
       |    FROM (SELECT *, least(${(0 until nlist).map("d" + _).mkString(", ")}) AS mind
       |          FROM dists))
       |  WHERE cell IN (${probes.mkString(", ")})),
       |ncand AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cellsf),
       |short AS (
       |  SELECT vec_id FROM adc JOIN cellsf USING (vec_id)
       |  ORDER BY adc ASC, vec_id ASC LIMIT $shortlist),
       |pq10 AS (
       |  SELECT e.vec_id FROM embeddings e JOIN short USING (vec_id)
       |  ORDER BY ${OracleGen.l2ToQuery("e.embedding")} ASC, e.vec_id ASC LIMIT 10),
       |exact AS (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY ${OracleGen.l2ToQuery("embedding")} ASC, vec_id ASC LIMIT 10),
       |hits AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM pq10 JOIN exact USING (vec_id))
       |SELECT 'ivf_pq_nprobe${nprobe}_m${m}_k${k}_rerank$shortlist' AS method,
       |  CAST(h.n AS DOUBLE) / 10 AS recall_at_10,
       |  CAST(0.3 AS DOUBLE) AS min_recall,
       |  CAST(h.n AS DOUBLE) / 10 >= CAST(0.3 AS DOUBLE) AS recall_ok,
       |  nc.nc AS n_candidates
       |FROM hits h CROSS JOIN ncand nc""".stripMargin
  }

  /** BATCHED IVF-PQ replay (q_ivf_pq_batch): the training + encode CTEs
    * emitted once (pqCtesSql batch mode — the staged-codebook sharing),
    * the query-independent cell assignment computed once, then one
    * probe/shortlist/rerank/recall chain per batch member b against
    * QueryVec.shiftedValues(b), UNION ALL'd with q_id = b.
    */
  private def ivfPqBatchOracleSql(m: Int, subDim: Int, k: Int, iters: Int,
                                  nlist: Int, nprobe: Int,
                                  shortlist: Int, bs: Seq[Int]): String = {
    val dCols = (0 until nlist)
      .map(j => s"    ${OracleGen.l2ToCentroid("embedding", j, 64)} AS d$j")
      .mkString(",\n")
    val caseArms = (0 until nlist - 1)
      .map(j => s"WHEN d$j = mind THEN $j").mkString(" ")
    val perB = bs.map { b =>
      val probes = Ann.ivfProbes(OracleGen.QueryVec.shiftedValues(b),
        nlist, nprobe)
      s"""cellsf_$b AS (
         |  SELECT vec_id FROM cellsAll WHERE cell IN (${probes.mkString(", ")})),
         |ncand_$b AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cellsf_$b),
         |short_$b AS (
         |  SELECT vec_id FROM adc_$b JOIN cellsf_$b USING (vec_id)
         |  ORDER BY adc ASC, vec_id ASC LIMIT $shortlist),
         |pq10_$b AS (
         |  SELECT e.vec_id FROM embeddings e JOIN short_$b USING (vec_id)
         |  ORDER BY ${OracleGen.l2ToQueryShifted("e.embedding", b)} ASC, e.vec_id ASC LIMIT 10),
         |exact_$b AS (
         |  SELECT vec_id FROM embeddings
         |  ORDER BY ${OracleGen.l2ToQueryShifted("embedding", b)} ASC, vec_id ASC LIMIT 10),
         |hits_$b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM pq10_$b JOIN exact_$b USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val unionB = bs.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS q_id,
         |  'ivf_pq_nprobe${nprobe}_m${m}_k${k}_rerank$shortlist' AS method,
         |  CAST(h.n AS DOUBLE) / 10 AS recall_at_10,
         |  CAST(0.3 AS DOUBLE) AS min_recall,
         |  CAST(h.n AS DOUBLE) / 10 >= CAST(0.3 AS DOUBLE) AS recall_ok,
         |  nc.nc AS n_candidates
         |FROM hits_$b h CROSS JOIN ncand_$b nc""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${pqCtesSql(m, subDim, k, iters, batchBs = bs)},
       |dists AS (
       |  SELECT vec_id, embedding,
       |$dCols
       |  FROM embeddings),
       |cellsAll AS MATERIALIZED (
       |  SELECT vec_id,
       |    CASE $caseArms ELSE ${nlist - 1} END AS cell
       |  FROM (SELECT *, least(${(0 until nlist).map("d" + _).mkString(", ")}) AS mind
       |        FROM dists)),
       |$perB
       |SELECT * FROM ($unionB) ORDER BY q_id""".stripMargin
  }

  /** Convergence-stopped Lloyd replay (q_kmeans_converged): unrolls
    * `maxIters` Lloyd rounds via kmeansCtesSql, then — like
    * Clustering.lloydConverged — derives the stop round from the data:
    * per round, the exact fixed-point centroid drift
    * Σ|trunc(c_i·1e6) − trunc(c_{i-1}·1e6)| over cid-matched centroids
    * (a changed cluster set poisons the round with Long.Max, mirroring
    * the Spark side's set-equality requirement), and k = the first round
    * with drift ≤ tolFp (maxIters if none). Output is round k's
    * per-cluster summary plus iters_run = k — the stop decision is part
    * of the hash-checked result.
    */
  private def kmeansConvergedOracleSql(k: Int, maxIters: Int,
                                       tolFp: Long): String = {
    val sb = new StringBuilder
    sb.append("WITH ")
    sb.append(kmeansCtesSql(k, maxIters))
    for (it <- 1 to maxIters) {
      val prev = if (it == 1) "seeds" else s"c${it - 1}"
      sb.append(
        s""",
           |dr$it AS (
           |  SELECT $it AS i,
           |    CASE WHEN (SELECT count(*) FROM c$it) <>
           |              (SELECT count(*) FROM $prev)
           |           OR (SELECT count(*) FROM c$it a
           |               JOIN $prev b ON a.cid = b.cid) <>
           |              (SELECT count(*) FROM $prev)
           |      THEN 9223372036854775807
           |      ELSE coalesce((SELECT CAST(sum(list_sum(list_transform(
           |        list_zip(a.cvec, b.cvec),
           |        p -> abs(CAST(floor(p[1] * 1000000.0) AS BIGINT) -
           |                 CAST(floor(p[2] * 1000000.0) AS BIGINT)))))
           |        AS BIGINT)
           |        FROM c$it a JOIN $prev b ON a.cid = b.cid), 0) END AS d)""".stripMargin)
    }
    val dUnion = (1 to maxIters).map(i => s"SELECT i, d FROM dr$i")
      .mkString(" UNION ALL ")
    val summaries = (1 to maxIters).map(it =>
      s"""SELECT $it AS i, CAST(a.cid AS INTEGER) AS cid, count(*) AS n,
         |    CAST(sum(a.vec_id) AS BIGINT) AS sum_ids, cf.cent_fp
         |  FROM a$it a JOIN (
         |    SELECT cid, CAST(list_sum(list_transform(cvec,
         |      x -> CAST(floor(x * 1000000.0) AS BIGINT))) AS BIGINT) AS cent_fp
         |    FROM c$it) cf ON a.cid = cf.cid
         |  GROUP BY a.cid, cf.cent_fp""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    sb.append(
      s""",
         |kk AS (SELECT CAST(coalesce(min(i), $maxIters) AS INTEGER) AS kki
         |       FROM ($dUnion) WHERE d <= $tolFp),
         |summ AS (
         |  $summaries)
         |SELECT cid, n, sum_ids, cent_fp, kk.kki AS iters_run
         |FROM summ, kk WHERE summ.i = kk.kki ORDER BY cid""".stripMargin)
    sb.toString
  }

  /** The Lloyd CTE chain alone (no WITH keyword, no final SELECT):
    * `seeds`, then per-iteration d/a/c relations; `a$iters` (vec_id,
    * embedding, cid) and `c$iters` (cid, cvec) are in scope afterwards.
    * Shared by the q_kmeans oracle and the trained-centroid IVF oracle so
    * both replay the identical training run.
    */
  private def kmeansCtesSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
         |  FROM embeddings ORDER BY vec_id LIMIT $k)""".stripMargin)
    var prev = "seeds"
    for (it <- 1 to iters) {
      sb.append(
        s""",
           |d$it AS (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |    ${OracleGen.l2FloatCols("e.embedding", "c.cvec", 64)} AS dist
           |  FROM embeddings e CROSS JOIN $prev c),
           |a$it AS (
           |  SELECT vec_id, embedding, cid FROM (
           |    SELECT vec_id, embedding, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d$it) WHERE rn = 1),
           |c${it}p AS (
           |  SELECT cid, i AS pos, count(*) AS n,
           |    CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
           |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS sum_fp
           |  FROM a$it, range(1, 65) t(i)
           |  GROUP BY cid, i),
           |c$it AS (
           |  SELECT cid,
           |    list(CAST(sum_fp AS DOUBLE) / 1000000000000.0 / n ORDER BY pos) AS cvec
           |  FROM c${it}p GROUP BY cid)""".stripMargin)
      prev = s"c$it"
    }
    sb.toString
  }

  /** Exact decontamination report oracle, shared verbatim by
    * q_decontaminate and q_decontaminate_bloom — the bloom variant is
    * answer-preserving (no false negatives; exact verify join removes
    * false positives), so one SQL text proves both.
    */
  private lazy val decontaminateOracleSql: String =
    s"""WITH split AS (
       |  SELECT doc_id, text,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, text,
       |          doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 AS b
       |        FROM documents)),
       |tok AS (SELECT doc_id, split, ${OracleGen.toksSql("text")} AS tk FROM split),
       |sh0 AS (SELECT doc_id, split,
       |         unnest(list_distinct(${OracleGen.shinglesOfToks("tk")})) AS sh
       |       FROM tok),
       |sh AS (
       |  SELECT * FROM sh0 WHERE split IN ('test', 'train')
       |    AND sh NOT IN (
       |      SELECT sh FROM sh0 WHERE split IN ('test', 'train')
       |      GROUP BY sh HAVING count(*) > 50)),
       |pairs AS (
       |  SELECT t.doc_id AS test_id, tr.doc_id AS train_id, count(*) AS n_shared
       |  FROM sh t JOIN sh tr ON t.sh = tr.sh
       |  WHERE t.split = 'test' AND tr.split = 'train'
       |  GROUP BY 1, 2 HAVING count(*) >= 5)
       |SELECT test_id, count(*) AS n_train_matches, max(n_shared) AS max_shared
       |FROM pairs GROUP BY test_id ORDER BY test_id""".stripMargin

  /** Unrolled BPE training replay (q_bpe_train / q_bpe_encode): `m` merge
    * rounds as CTE blocks. Per round t: pair counts over the vocabulary
    * (p·), the argmax rule (b·, tie-break cnt DESC, l, r), and the greedy
    * non-overlapping application (pos·..w·) — candidates grouped into
    * consecutive runs (gaps-and-islands), odd run positions fuse, the
    * following position is consumed via lag. Run-parity equals the Spark
    * side's left-to-right fold: overlapping candidates only arise for
    * lhs==rhs runs, where both semantics fuse alternate pairs, and a
    * fused token can never re-match as lhs within the pass.
    * `finalSelect` closes the WITH chain.
    */
  private def bpeUnrolledSql(m: Int, finalSelect: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH tok AS (SELECT source, ${OracleGen.toksSql("text")} AS tk FROM documents),
         |words AS (
         |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY w),
         |w0 AS (SELECT word, freq,
         |         list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
         |       FROM words)""".stripMargin)
    for (t <- 1 to m) {
      val p = s"w${t - 1}"
      sb.append(",\n").append(
        s"""p$t AS (
           |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
           |        FROM $p WHERE len(syms) >= 2)
           |  GROUP BY 1, 2),
           |b$t AS (SELECT l, r, cnt FROM p$t ORDER BY cnt DESC, l, r LIMIT 1),
           |pos$t AS (
           |  SELECT word, freq, b.l, b.r, syms,
           |         unnest(range(1, len(syms) + 1)) AS i
           |  FROM $p, b$t b),
           |cand$t AS (
           |  SELECT word, freq, i, syms[i] AS s,
           |         (i < len(syms) AND syms[i] = l AND syms[i + 1] = r) AS cand
           |  FROM pos$t),
           |runs$t AS (
           |  SELECT *, CASE WHEN cand THEN i - row_number()
           |      OVER (PARTITION BY word, cand ORDER BY i) ELSE NULL END AS run
           |  FROM cand$t),
           |mk$t AS (
           |  SELECT *, CASE WHEN cand THEN
           |      row_number() OVER (PARTITION BY word, run ORDER BY i) % 2 = 1
           |    ELSE FALSE END AS m
           |  FROM runs$t),
           |keep$t AS (
           |  SELECT word, freq, i, s, m,
           |         lag(m) OVER (PARTITION BY word ORDER BY i) AS consumed,
           |         lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt
           |  FROM mk$t),
           |w$t AS (
           |  SELECT word, freq,
           |         list(CASE WHEN m THEN s || nxt ELSE s END ORDER BY i) AS syms
           |  FROM keep$t WHERE NOT coalesce(consumed, FALSE)
           |  GROUP BY word, freq)""".stripMargin)
    }
    sb.append("\n").append(finalSelect)
    sb.toString
  }

  /** Unrolled greedy-MMR CTE chain mirroring Rag.mmrSelect (q_mmr): the
    * top-`n` retrieval head, then `k` steps each cross-joining the tiny
    * selected set, scoring λ·(−dist) − (1−λ)·max(dot sims) with the same
    * left-associated chains, ties to lowest doc id.
    */
  private def mmrOracleSql(n: Int, k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)},
         |${OracleGen.embedCte("q", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)},
         |cand AS (
         |  SELECT d.id AS doc_id, d.emb, ${OracleGen.l2DoubleCols("d.emb", "q.emb")} AS dist
         |  FROM d_emb d, q_emb q
         |  ORDER BY dist ASC, doc_id ASC LIMIT $n),
         |s1 AS (
         |  SELECT doc_id, emb, dist FROM cand
         |  ORDER BY 0.5 * (-(dist)) DESC, doc_id ASC LIMIT 1)""".stripMargin)
    for (i <- 2 to k) {
      val prior = (1 until i).map(j => s"s$j AS t$j").mkString(", ")
      val notIn = (1 until i).map(j => s"c.doc_id <> t$j.doc_id").mkString(" AND ")
      val sims = (1 until i).map(j => OracleGen.dotCols("c.emb", s"t$j.emb", 64))
      val maxSim = if (sims.size == 1) s"(${sims.head})"
        else sims.map(x => s"($x)").mkString("GREATEST(", ", ", ")")
      sb.append(
        s""",
           |s$i AS (
           |  SELECT c.doc_id, c.emb, c.dist FROM cand c, $prior
           |  WHERE $notIn
           |  ORDER BY 0.5 * (-(c.dist)) - 0.5 * $maxSim DESC, c.doc_id ASC
           |  LIMIT 1)""".stripMargin)
    }
    sb.append("\n" + (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rnk, doc_id, dist FROM s$i")
      .mkString("\nUNION ALL\n"))
    sb.append("\nORDER BY rnk")
    sb.toString
  }

  /** Fused hybrid-retrieval relation (doc_id, lex_rank, vec_rank, rrf_fp):
    * RRF of the top-20 BM25 and top-20 hash-embed L2 rankings for
    * RagQuery — shared by q_rrf_fusion and q_rag_hybrid.
    */
  private def rrfFused(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val lex = graft.operators.Retrieval.bm25FromStage(s,
        docPostingsPath(s, dir), RagQuery.split(" ").toSeq)
      .orderBy(col("score_fp").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_fp").desc, col("doc_id"))).cast("long"))
    val corpus = Rag.embedCorpus(docs.select(col("doc_id"), col("text")), col("text"))
    val vec = Rag.retrieve(corpus, col("doc_id"), RagQuery, 20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("distance"), col("doc_id"))).cast("long"))
    graft.operators.Retrieval.rrfFuse(
      lex.select(col("doc_id"), col("rank")),
      vec.select(col("doc_id"), col("rank")))
  }

  /** Shared DuckDB CTE chain (Bm25Ctes included) ending with `fused`
    * (doc_id, lex_rank, vec_rank, rrf_fp): reciprocal-rank fusion of the
    * top-20 BM25 and top-20 hash-embed L2 rankings for RagQuery — mirror
    * of Retrieval.rrfFuse over Retrieval.bm25 + Rag.retrieve.
    */
  private lazy val RrfFusedCtes: String =
    s"""$Bm25Ctes,
       |lexall AS (
       |  SELECT doc_id, CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
       |  FROM bm25_scored GROUP BY doc_id),
       |lex AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rank
       |    FROM lexall) WHERE rank <= 20),
       |${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)},
       |${OracleGen.embedCte("q", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)},
       |vecall AS (
       |  SELECT d.id AS doc_id, ${OracleGen.l2DoubleCols("d.emb", "q.emb")} AS distance
       |  FROM d_emb d, q_emb q
       |  ORDER BY distance ASC, doc_id ASC LIMIT 20),
       |vec AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY distance ASC, doc_id) AS rank
       |  FROM vecall),
       |fused AS (
       |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |    l.rank AS lex_rank, v.rank AS vec_rank,
       |    coalesce(1000000000 // (60 + l.rank), 0)
       |      + coalesce(1000000000 // (60 + v.rank), 0) AS rrf_fp
       |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)""".stripMargin

  private lazy val Bm25Ctes: String = bm25CtesOver("documents")

  /** [[Bm25Ctes]] over an arbitrary (doc_id, text) source — the delete
    * gate replays BM25 over the REMAINING documents only.
    */
  private def bm25CtesOver(srcSql: String): String =
    bm25CtesNamed("bm25_", RagQuery.split(" ").toSeq, srcSql)

  /** The BM25 CTE chain with a caller-chosen name prefix and term list,
    * so several independent replays (one per batch query) can share one
    * WITH clause — the oracle side of the batched lexical serving.
    */
  private def bm25CtesNamed(p: String, terms: Seq[String],
                            srcSql: String): String = {
    val termsIn = terms.map(t => s"'$t'").mkString(", ")
    s"""${p}toks AS (
       |  SELECT doc_id, ${OracleGen.toksSql("text")} AS tk FROM $srcSql),
       |${p}dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM ${p}toks),
       |${p}g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |           CAST(sum(dl) AS BIGINT) AS total FROM ${p}dl),
       |${p}tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM ${p}toks)
       |  WHERE tok IN ($termsIn) GROUP BY doc_id, tok),
       |${p}df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |            FROM ${p}tf GROUP BY tok),
       |${p}scored AS (
       |  SELECT t.doc_id,
       |    (1000000 * (2*g.n_docs - 2*f.df + 1)) // (2*f.df + 1) AS idf_fp,
       |    (1000000 * 44 * t.tf * g.total)
       |      // (20 * t.tf * g.total + 6 * g.total + 18 * d.dl * g.n_docs) AS tfpart_fp
       |  FROM ${p}tf t JOIN ${p}df f USING (tok)
       |    JOIN ${p}dl d USING (doc_id) CROSS JOIN ${p}g g)""".stripMargin
  }

  /** Near-dup corpus for the dedup queries: documents plus a shifted-id,
    * slightly-extended copy of every 10th doc — constructed identically on
    * both engines so candidate-pair recall is oracle-checkable.
    */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(col("doc_id").as("id"), col("text"))
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("id"),
          concat(col("text"), lit(" zz extra token")).as("text")))
  }
  private val nearDupCorpusSql =
    """SELECT doc_id AS id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS id, text || ' zz extra token' AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** SHARED STAGED-SHINGLE ARTIFACT: per-document distinct 3-gram
    * shingle arrays of the `documents` table, tokenized ONCE per sf-dir
    * and landed as a parquet stage — the common input of the whole
    * shingle family (novelty, PPJoin near-dup, decontamination), which
    * otherwise re-runs the same regex tokenization + shingle build per
    * query. At 100 TB this is the canonical amortization: the corpus is
    * tokenized once and every downstream pass reads the columnar
    * artifact. Two things deliberately do NOT ride in the artifact:
    *  - document frequencies — df is relative to the corpus slice each
    *    consumer scores (documents vs. near-dup corpus vs. train∪test),
    *    so each consumer aggregates its own;
    *  - derived/synthetic rows (nearDupCorpus's planted copies) — those
    *    are computed fresh as a DELTA and unioned on, the same
    *    fixed-corpus + fresh-batch split Dedup.incrementalPairs uses.
    */
  /** Shared DuckDB mirror of Conversation.deriveTurns + resolveTurns:
    * the arithmetic turn derivation (every 5th doc, 8 conversations,
    * follow-up ≡ 10 (mod 15)) and the one-window follow-up resolution.
    * Ends with `conv_resolved(conv_id, turn_no, is_followup,
    * resolved_query)`.
    */
  private lazy val ConvCtes: String =
    s"""conv_turns AS (
       |  SELECT CAST((doc_id // 5) % 8 AS BIGINT) AS conv_id,
       |    CAST((doc_id // 5) // 8 + 1 AS BIGINT) AS turn_no,
       |    CASE WHEN doc_id % 15 = 10
       |      THEN 'what about ' || array_to_string(tk[3:4], ' ')
       |      ELSE array_to_string(tk[1:8], ' ') END AS utterance
       |  FROM (SELECT doc_id, ${OracleGen.toksSql("text")} AS tk FROM documents)
       |  WHERE doc_id % 5 = 0),
       |conv_resolved AS (
       |  SELECT conv_id, turn_no, is_followup,
       |    CASE WHEN is_followup AND prev_anchor IS NOT NULL
       |      THEN prev_anchor || ' ' || utterance
       |      ELSE utterance END AS resolved_query
       |  FROM (
       |    SELECT conv_id, turn_no, utterance,
       |      len(${OracleGen.toksSql("utterance")}) <= 4 AS is_followup,
       |      last_value(CASE WHEN len(${OracleGen.toksSql("utterance")}) > 4
       |          THEN utterance END IGNORE NULLS)
       |        OVER (PARTITION BY conv_id ORDER BY turn_no
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_anchor
       |    FROM conv_turns))""".stripMargin

  /** Posting-list truncation for the declared conversation-retrieval
    * queries (Conversation.retrieveForTurns `maxPostings`): every token
    * keeps its 1000 highest-impact postings (tf DESC, doc_id). At the
    * oracle scales every df ≤ 1000 so the cut keeps everything and the
    * compare stays exact; at ScaleBench's growing corpora it is what
    * keeps the terms⋈postings join linear (37× at 10× data without it).
    */
  private val ConvMaxPostings = 1000L

  /** ConvCtes + the per-turn inverted-index retrieval replay
    * (Conversation.retrieveForTurns: uncapped df, posting lists
    * truncated to ConvMaxPostings by (tf DESC, doc_id) — idf over the
    * FULL df): ends with `conv_ranked(conv_id, turn_no, is_followup,
    * doc_id, score_fp, rank)`.
    */
  private lazy val ConvRagCtes: String =
    s"""$ConvCtes,
       |conv_terms AS (
       |  SELECT DISTINCT conv_id, turn_no, is_followup, tok FROM (
       |    SELECT conv_id, turn_no, is_followup,
       |      unnest(${OracleGen.toksSql("resolved_query")}) AS tok
       |    FROM conv_resolved)),
       |conv_postings AS (
       |  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(${OracleGen.toksSql("text")}) AS tok FROM documents)
       |  GROUP BY tok, doc_id),
       |conv_plist AS (
       |  SELECT tok, doc_id, tf FROM (
       |    SELECT tok, doc_id, tf,
       |      row_number() OVER (PARTITION BY tok
       |        ORDER BY tf DESC, doc_id) AS pr
       |    FROM conv_postings) WHERE pr <= $ConvMaxPostings),
       |conv_idf AS (
       |  SELECT tok,
       |    (1000000 * (2*n_docs - 2*df + 1)) // (2*df + 1) AS idf_fp
       |  FROM (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |        FROM conv_postings GROUP BY tok)
       |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)),
       |conv_ranked AS (
       |  SELECT conv_id, turn_no, is_followup, doc_id, score_fp,
       |    CAST(row_number() OVER (PARTITION BY conv_id, turn_no
       |      ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rank
       |  FROM (
       |    SELECT t.conv_id, t.turn_no, t.is_followup, p.doc_id,
       |      CAST(sum(p.tf * i.idf_fp) AS BIGINT) AS score_fp
       |    FROM conv_plist p
       |      JOIN conv_idf i USING (tok)
       |      JOIN conv_terms t USING (tok)
       |    GROUP BY 1, 2, 3, 4))""".stripMargin

  /** One-time persisted graph-ANN index over the embeddings table
    * (GraphAnnIndex layout: nodes + both layers' adjacency on disk).
    * Built once per sf-dir fingerprint; every graph-ANN query reads the
    * stage — the build-once/query-many contract the reference's
    * persistent Chroma index has (`email_fetching.py:21-27`).
    */
  private def graphAnnIndexPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("graph_ann_idx_v1", dir)
    Staging.once(stage)(graft.operators.GraphAnnIndex.exists(stage)) {
      graft.operators.GraphAnnIndex.build(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), stage, sampleMod = 16,
        edgesPerBucket = 3)
    }
  }

  /** One-time INCREMENTALLY-MAINTAINED graph-ANN index: built on 2/3 of
    * the embeddings, the remaining third appended via
    * GraphAnnIndex.append (touched-destination-bucket maintenance, no
    * rebuild). Queries against it must equal queries against a full
    * build — its oracle replays the full-corpus build, so the
    * equivalence is hash-checked, not asserted.
    */
  private def graphAnnAppendedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("graph_ann_append_idx_v3", dir)
    Staging.once(stage)(graft.operators.GraphAnnIndex.exists(stage)) {
      val emb = Tables.embeddings(s, dir)
      graft.operators.GraphAnnIndex.build(
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
        col("vec_id"), col("embedding"), stage, sampleMod = 16,
        edgesPerBucket = 3)
      graft.operators.GraphAnnIndex.append(
        emb.filter(pmod(col("vec_id"), lit(3)) === 0),
        col("vec_id"), col("embedding"), stage)
    }
  }

  /** One-time DELETION-maintained graph-ANN index: built on the full
    * embeddings, then every vec_id ≡ 0 (mod 7) deleted via
    * GraphAnnIndex.delete (victim-neighbourhood partitions recomputed
    * over the remaining nodes, emptied partitions dropped). Queries must
    * equal a fresh build over the remaining corpus — the oracle replays
    * that rebuild, so the repair is hash-checked.
    */
  private def graphAnnDeletedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("graph_ann_delete_idx_v3", dir)
    Staging.once(stage)(graft.operators.GraphAnnIndex.exists(stage)) {
      val emb = Tables.embeddings(s, dir)
      graft.operators.GraphAnnIndex.build(emb, col("vec_id"),
        col("embedding"), stage, sampleMod = 16, edgesPerBucket = 3)
      graft.operators.GraphAnnIndex.delete(
        emb.filter(pmod(col("vec_id"), lit(7)) === 0).select(col("vec_id")),
        stage, idName = "vec_id")
    }
  }

  /** One-time AUTO-COMPACTED graph-ANN index: built on 2/3 of the
    * embeddings, the remaining third appended in THREE waves (each wave
    * lands one new file per touched nodes/ partition — maintenance
    * debt the policy, not an operator, must notice), then
    * GraphAnnIndex.compactIfFragmented fires once files-per-partition
    * crosses the threshold. Fire/no-fire is asserted at build, post-
    * waves and post-compact; queries are compaction-invariant so the
    * oracle replays the full-corpus build.
    */
  private def graphAnnAutocPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("graph_ann_autoc_idx_v2", dir)
    Staging.once(stage)(graft.operators.GraphAnnIndex.exists(stage)) {
      val emb = Tables.embeddings(s, dir)
      graft.operators.GraphAnnIndex.build(
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
        col("vec_id"), col("embedding"), stage, sampleMod = 16,
        edgesPerBucket = 3)
      require(!graft.operators.GraphAnnIndex.compactIfFragmented(s, stage),
        "a fresh build is one file per partition — the policy must not fire")
      Seq(0L, 3L, 6L).foreach { w =>
        graft.operators.GraphAnnIndex.append(
          emb.filter(pmod(col("vec_id"), lit(9)) === w),
          col("vec_id"), col("embedding"), stage)
      }
      require(graft.operators.GraphAnnIndex.compactIfFragmented(s, stage),
        "three append waves must push files-per-partition past the threshold")
      require(!graft.operators.GraphAnnIndex.compactIfFragmented(s, stage),
        "a just-compacted index is back at one file per partition")
    }
  }

  /** The shared recall-row tail of the graph-ANN queries: visited set →
    * (method, recall_at_10, min_recall, recall_ok, n_scored). `corpus`
    * is the relation the exact top-k is computed over (the remaining
    * corpus for maintenance queries).
    */
  private def graphAnnRecallRow(s: SparkSession, dir: String,
                                visited: DataFrame, method: String,
                                floor: Double,
                                corpus: DataFrame = null): DataFrame = {
    val emb = if (corpus != null) corpus else Tables.embeddings(s, dir)
    val ann = visited.orderBy(col("distance").asc, col("id").asc)
      .limit(10).select(col("id"))
    val exact = Knn.knn(emb, col("embedding"), col("vec_id"),
      QueryVec.values, 10, Knn.L2).select(col("vec_id").as("id"))
    val hits = ann.join(exact, Seq("id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val scanned = visited.agg(count(lit(1)).as("n_scored"))
    hits.crossJoin(scanned)
      .select(lit(method).as("method"),
        (col("n_hits").cast("double") / 10).as("recall_at_10"),
        lit(floor).as("min_recall"),
        (col("n_hits").cast("double") / 10 >= lit(floor)).as("recall_ok"),
        col("n_scored"))
  }

  /** One-time persisted postings index over the documents table
    * (Retrieval.stagePostings: postings + doclens + done-marker). Every
    * lexical-retrieval query (BM25, hybrid fusion, conversation RAG)
    * reads this stage instead of re-tokenizing the corpus — the
    * build-once/query-many discipline the reference's searchable table
    * has (`rag.py:30-38`).
    */
  private def docPostingsPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_postings_v4", dir)
    Staging.once(stage)(graft.operators.Retrieval.postingsExist(stage)) {
      graft.operators.Retrieval.stagePostings(Tables.documents(s, dir),
        col("doc_id"), col("text"), stage)
    }
  }

  /** One-time vector store over the HASH-EMBEDDED documents (doc_id ∈
    * the same id domain as the postings stage — the vector half of the
    * batched hybrid serving pair, cf. docPostingsPath for the lexical
    * half).
    */
  private def docEmbedStorePath(s: SparkSession, dir: String): String = {
    val path = stagedPath("doc_embed_store_v1", dir)
    Staging.once(path)(Staging.written(path)) {
      graft.operators.VectorStore.write(
        Rag.embedCorpus(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")), col("text"))
          .select(col("doc_id"), col("embedding")),
        col("embedding"), path)
    }
  }

  /** One-time LSH-bucketed vector store over the embeddings table — the
    * stage every store probe (single, filtered, batched, streamed,
    * batch-plan) reads.
    */
  private def vectorStorePath(s: SparkSession, dir: String): String = {
    val path = stagedPath("vector_store_v1", dir)
    Staging.once(path)(Staging.written(path)) {
      graft.operators.VectorStore.write(Tables.embeddings(s, dir),
        col("embedding"), path)
    }
  }

  /** One-time MinHash signature stage over the near-dup corpus — the
    * stage the LSH pair, cluster, dedup-apply, edit-distance and grouped
    * split queries band.
    */
  private def minhashSigsPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("minhash_sigs_v2", dir)
    Staging.once(stage)(Staging.written(stage)) {
      Dedup.stageMinhashSignatures(nearDupCorpus(s, dir), col("id"),
        col("text"), stage)
    }
  }

  /** One-time signature stage of the streaming gate's reference corpus
    * (the planted near-dup copies) — screened by both dedup-gate drains.
    */
  private def gateRefSigsPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("gate_ref_sigs_v2", dir)
    Staging.once(stage)(Staging.written(stage)) {
      val ref = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("id"),
          concat(col("text"), lit(" zz extra token")).as("text"))
      Dedup.stageMinhashSignatures(ref, col("id"), col("text"), stage)
    }
  }

  /** Deterministic image corpus for the perceptual-hash family: one real
    * uncompressed 24-bpp BMP per document id < 200 (gray pixel value
    * v(src,x,y) = (src·7 + x·13 + y·31 + x·y·5) mod 256, B = G = R so
    * integer grayscale is exact), plus a NEAR-IDENTICAL twin
    * (img_id + 100000, pixel (1,0) bumped by 32 — reverses exactly one
    * 13-step gradient, so the twin's dHash differs in ONE bit: the
    * Hamming tolerance is exercised, not just fingerprint equality) for
    * every src ≡ 0 (mod 10). Even src ids are 9×8 (the dHash grid —
    * identity resample); odd are 18×16 (2×2 block means), so the
    * decoder's area-average path is oracle-exercised. Bytes are a FULL
    * decodable BMP: 54-byte header, bottom-up BGR rows padded to 4-byte
    * stride.
    */
  private def imageCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < 200)
    val imgs = d.select(col("doc_id").as("img_id"),
        col("doc_id").as("src_id"), lit(0L).as("bump"))
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("img_id"),
          col("doc_id").as("src_id"), lit(32L).as("bump")))
    val isEven = col("src_id") % 2 === 0
    val w = when(isEven, lit(9)).otherwise(lit(18))
    val h = when(isEven, lit(8)).otherwise(lit(16))
    def px(x: Column, y: Column): Column =
      pmod(col("src_id") * 7 + x * 13 + y * 31 + x * y * 5 +
        when(x === 1 && y === 0, col("bump")).otherwise(lit(0L)), lit(256L))
    // one stored row's hex: W × (3 identical gray bytes) + stride pad
    // (27 → 28 for 9-wide, 54 → 56 for 18-wide); rows bottom-up
    def rowHex(yFile: Column): Column = {
      val yTop = h - 1 - yFile
      concat(array_join(transform(sequence(lit(0), w - 1), x => {
        val h2 = lpad(hex(px(x, yTop)), 2, "0")
        concat(h2, h2, h2)
      }), ""), when(isEven, lit("00")).otherwise(lit("0000")))
    }
    val payload = unhex(array_join(
      transform(sequence(lit(0), h - 1), yf => rowHex(yf)), ""))
    imgs.select(col("img_id"), col("src_id"),
      Multimodal.bmp24Bytes(w, h, payload).as("bytes"))
  }

  /** Oracle CTE chain for the image fixture: `fp(img_id, fp_hi, fp_lo)`
    * computed ARITHMETICALLY from the pixel formula (independent of the
    * byte-parse path the Spark side takes).
    */
  private lazy val ImageFpCtes: String =
    s"""imgs AS (
       |  SELECT doc_id AS img_id, doc_id AS src_id, 0 AS bump
       |  FROM documents WHERE doc_id < 200
       |  UNION ALL
       |  SELECT doc_id + 100000, doc_id, 32
       |  FROM documents WHERE doc_id < 200 AND doc_id % 10 = 0),
       |cells AS (
       |  SELECT img_id, ty, tx,
       |    CASE WHEN src_id % 2 = 0 THEN
       |      (src_id*7 + tx*13 + ty*31 + tx*ty*5
       |        + CASE WHEN tx = 1 AND ty = 0 THEN bump ELSE 0 END) % 256
       |    ELSE (
       |      (src_id*7 + (2*tx)*13   + (2*ty)*31   + (2*tx)*(2*ty)*5)     % 256 +
       |      (src_id*7 + (2*tx+1)*13 + (2*ty)*31   + (2*tx+1)*(2*ty)*5)   % 256 +
       |      (src_id*7 + (2*tx)*13   + (2*ty+1)*31 + (2*tx)*(2*ty+1)*5)   % 256 +
       |      (src_id*7 + (2*tx+1)*13 + (2*ty+1)*31 + (2*tx+1)*(2*ty+1)*5) % 256) // 4
       |    END AS g
       |  FROM imgs, (SELECT unnest(range(8)) AS ty),
       |       (SELECT unnest(range(9)) AS tx)),
       |gbits AS (
       |  SELECT a.img_id, a.ty*8 + a.tx AS k
       |  FROM cells a JOIN cells b
       |    ON b.img_id = a.img_id AND b.ty = a.ty AND b.tx = a.tx + 1
       |  WHERE a.tx < 8 AND a.g < b.g),
       |fp AS (
       |  SELECT i.img_id,
       |    CAST(coalesce(sum(CASE WHEN k >= 32
       |      THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS BIGINT) AS fp_hi,
       |    CAST(coalesce(sum(CASE WHEN k < 32
       |      THEN CAST(1 AS BIGINT) << k END), 0) AS BIGINT) AS fp_lo
       |  FROM (SELECT DISTINCT img_id FROM imgs) i
       |  LEFT JOIN gbits USING (img_id)
       |  GROUP BY i.img_id)""".stripMargin

  /** One-time INCREMENTALLY-MAINTAINED postings stage: built on 2/3 of
    * the documents, the remaining third appended via
    * Retrieval.appendPostings (purely additive rows — an inverted index
    * needs no group recompute under insertion). Queries against it must
    * equal queries against a full build; q_postings_append's oracle
    * replays the full-corpus BM25, so the equivalence is hash-checked.
    */
  private def docPostingsAppendedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_postings_append_v5", dir)
    Staging.once(stage)(graft.operators.Retrieval.postingsExist(stage)) {
      val docs = Tables.documents(s, dir)
      graft.operators.Retrieval.stagePostings(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        col("doc_id"), col("text"), stage)
      graft.operators.Retrieval.appendPostings(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        col("doc_id"), col("text"), stage)
    }
  }

  /** One-time INCREMENTALLY-DELETED postings stage: built on the FULL
    * documents table, then every doc_id ≡ 0 (mod 3) deleted via
    * Retrieval.deletePostings (touched tokens re-ranked over the
    * remaining postings, df decremented, globals retreated — only the
    * victims' hash-bucket partitions rewritten). Queries against it must
    * equal queries against a stage built on the remaining docs only;
    * q_postings_delete's oracle replays BM25 over `documents WHERE
    * doc_id % 3 <> 0`, so delete-then-query ≡ rebuild-on-remaining is
    * hash-checked end to end.
    */
  private def docPostingsDeletedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_postings_delete_v4", dir)
    Staging.once(stage)(graft.operators.Retrieval.postingsExist(stage)) {
      val docs = Tables.documents(s, dir)
      graft.operators.Retrieval.stagePostings(docs, col("doc_id"),
        col("text"), stage)
      graft.operators.Retrieval.deletePostings(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("doc_id")),
        stage)
    }
  }

  /** Deterministic audio corpus for the WAV decode family: one mono
    * 16-bit PCM WAV per document id < 100, sample value
    * s(clip, i) = ((clip·7 + i·13) mod 201) − 100 (range ±100, so sign
    * changes and two's-complement encoding are both exercised), length
    * 48 + (clip mod 5)·16 samples (partial trailing frames exercised).
    */
  private def audioCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < 100)
    audioWavs(d.select(col("doc_id").as("clip_id"),
      col("doc_id").as("src"), lit(0L).as("bump")))
  }

  /** THE one WAV builder both audio fixtures share: `clips` carries
    * (clip_id, src, bump) — src seeds the sample formula, bump perturbs
    * sample i = 3 (0 for pristine clips). Any change to the encoding or
    * the sample formula lands in the decode AND near-dup families at
    * once (their oracles replay the same formula).
    */
  private def audioWavs(clips: DataFrame): DataFrame = {
    val n = (lit(48) + pmod(col("src"), lit(5)) * 16).cast("int")
    def smp(i: Column): Column =
      pmod(col("src") * 7 + i * 13, lit(201)) - 100 +
        when(i === 3, col("bump")).otherwise(lit(0L))
    // 16-bit little-endian two's complement per sample, via hex
    val sampleHex = array_join(transform(sequence(lit(0), n - 1), i => {
      val hx = lpad(hex(pmod(smp(i), lit(65536))), 4, "0")
      concat(substring(hx, 3, 2), substring(hx, 1, 2))
    }), "")
    clips.select(col("clip_id"),
      Multimodal.wav16Bytes(lit(8000), unhex(sampleHex)).as("bytes"))
  }

  /** One-time persisted doc-window stage for the late-interaction
    * family (Retrieval.stageWindows: (doc_id, win) relation + distinct-
    * window embedding vocabulary + token-partitioned window postings).
    * MaxSim's own scale note declares this THE thing to stage at 100 TB;
    * every staged-MaxSim query reads it instead of re-exploding and
    * re-embedding the corpus windows.
    */
  private def docWindowsPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_windows_v3", dir)
    Staging.once(stage)(graft.operators.Retrieval.windowsExist(stage)) {
      graft.operators.Retrieval.stageWindows(Tables.documents(s, dir),
        col("doc_id"), col("text"), stage)
    }
  }

  /** One-time INCREMENTALLY-MAINTAINED doc-window stage: built on 2/3
    * of the documents, the remaining third appended via
    * Retrieval.appendWindows (purely additive — no ranks to repair).
    * Queries must equal a full build; q_windows_append's oracle replays
    * the full-corpus pruned MaxSim, so the equivalence is hash-checked.
    */
  private def docWindowsAppendedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_windows_append_v4", dir)
    Staging.once(stage)(graft.operators.Retrieval.windowsExist(stage)) {
      val docs = Tables.documents(s, dir)
      graft.operators.Retrieval.stageWindows(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        col("doc_id"), col("text"), stage)
      graft.operators.Retrieval.appendWindows(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        col("doc_id"), col("text"), stage)
    }
  }

  /** One-time stage exercising the doc-window DELETE + COMPACT
    * lifecycle: built on the FULL corpus, every doc_id ≡ 0 (mod 3)
    * deleted via Retrieval.deleteWindows (victims' db partitions
    * rewritten, vocabulary orphans retained), then compactWindows
    * garbage-collects the orphans. Queries must equal a fresh build on
    * the survivors; q_windows_delete's oracle replays the pruned MaxSim
    * over `WHERE doc_id % 3 <> 0`, so delete-then-query ≡
    * rebuild-on-remaining is hash-checked.
    */
  private def docWindowsDeletedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_windows_delete_v3", dir)
    Staging.once(stage)(graft.operators.Retrieval.windowsExist(stage)) {
      val docs = Tables.documents(s, dir)
      graft.operators.Retrieval.stageWindows(docs,
        col("doc_id"), col("text"), stage)
      graft.operators.Retrieval.deleteWindows(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id")), stage)
      graft.operators.Retrieval.compactWindows(s, stage)
    }
  }

  /** Shared DuckDB replay of the inverted-index-pruned MaxSim
    * (Retrieval.maxSimPruned) over `FROM documents WHERE <where>`: used
    * verbatim by q_maxsim_pruned (from-corpus), q_maxsim_staged /
    * q_windows_append (staged, full corpus — the paths must serve
    * identical rankings) and q_windows_delete (staged, victims removed —
    * the replay runs on the surviving corpus only).
    */
  /** Corpus-side CTEs of the pruned-MaxSim replay (dt0 doc-windows,
    * t_emb window-embedding vocabulary, wtok window→token postings) —
    * query-independent, so the batched replay shares ONE copy across its
    * per-query chains, exactly as the engine's staged relations do.
    */
  private def maxSimCorpusCtesOver(srcSql: String): String =
    s"""dt0 AS (
       |  SELECT DISTINCT doc_id, win FROM (
       |    SELECT doc_id,
       |      unnest(list_slice(${OracleGen.shinglesOfToks("tk")}, 1, 16)) AS win
       |    FROM (SELECT doc_id, ${OracleGen.toksSql("text")} AS tk
       |          FROM $srcSql))),
       |${OracleGen.embedCte("t", "(SELECT DISTINCT win FROM dt0)", "win", "win", 64)},
       |wtok AS (
       |  SELECT DISTINCT win, unnest(string_split(win, ' ')) AS tok
       |  FROM (SELECT DISTINCT win FROM dt0))""".stripMargin

  private def maxSimCorpusCtes(where: String): String =
    maxSimCorpusCtesOver(s"documents WHERE $where")

  /** Per-query CTEs of the pruned-MaxSim replay, name-prefixed with `p`
    * so several queries' chains share one WITH clause (and the shared
    * corpus CTEs from [[maxSimCorpusCtes]]). Ends at `{p}pbest`
    * (doc_id, qt, best_fp).
    */
  private def maxSimQueryCtes(p: String, query: String): String = {
    val qwins = query.split(" ").toSeq.sliding(3)
      .map(_.mkString(" ")).toSeq.distinct
    val qwinsList = qwins.map(t => s"'$t'").mkString("[", ", ", "]")
    val qtokRows = qwins.flatMap(qw =>
      qw.split(" ").distinct.map(t => s"('$qw', '$t')")).mkString(", ")
    s"""${OracleGen.embedCte(s"${p}q", s"(SELECT unnest($qwinsList) AS qt)", "qt", "qt", 64)},
       |${p}qtok AS (SELECT * FROM (VALUES $qtokRows) p(qt, tok)),
       |${p}cpairs AS (
       |  SELECT DISTINCT w.win, p.qt FROM wtok w JOIN ${p}qtok p USING (tok)),
       |${p}pdots AS (
       |  SELECT d.doc_id, q.id AS qt,
       |    CAST(floor((${OracleGen.dotCols("t.emb", "q.emb")}) * 1000000.0)
       |      AS BIGINT) AS dot_fp
       |  FROM dt0 d
       |  JOIN ${p}cpairs c ON c.win = d.win
       |  JOIN t_emb t ON t.id = d.win
       |  JOIN ${p}q_emb q ON q.id = c.qt),
       |${p}pbest AS (
       |  SELECT doc_id, qt, max(dot_fp) AS best_fp
       |  FROM ${p}pdots GROUP BY doc_id, qt)""".stripMargin
  }

  private def maxSimPrunedOracleSqlOver(srcSql: String): String =
    s"""WITH ${maxSimCorpusCtesOver(srcSql)},
       |${maxSimQueryCtes("", RagQuery)}
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_qt,
       |  CAST(sum(best_fp) AS BIGINT) AS maxsim_fp
       |FROM pbest GROUP BY doc_id
       |ORDER BY maxsim_fp DESC, doc_id LIMIT 10""".stripMargin

  private def maxSimPrunedOracleSqlWhere(where: String): String =
    maxSimPrunedOracleSqlOver(s"documents WHERE $where")

  /** The upsert fixture's modified corpus, identically on both engines:
    * every doc_id ≡ 0 (mod 5) gets ' updated revision' appended. The
    * Spark side builds each stage on the ORIGINAL corpus and UPSERTS
    * the modified docs; matching a replay over this source proves the
    * delete-then-append composition end to end.
    */
  private val UpsertCorpusSql: String =
    "(SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
      "THEN text || ' updated revision' ELSE text END AS text FROM documents)"

  private def upsertDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" updated revision")).as("text"))

  /** One-time stage exercising the postings RE-INDEX UPSERT: built on
    * the original corpus, every fifth doc's modified revision upserted
    * (Retrieval.upsertPostings — delete-then-append, victims'/batch's
    * partitions only). Queries must equal a fresh build on the modified
    * corpus — q_postings_upsert's oracle replays BM25 over it.
    */
  private def docPostingsUpsertedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_postings_upsert_v4", dir)
    Staging.once(stage)(graft.operators.Retrieval.postingsExist(stage)) {
      graft.operators.Retrieval.stagePostings(Tables.documents(s, dir),
        col("doc_id"), col("text"), stage)
      graft.operators.Retrieval.upsertPostings(upsertDocs(s, dir),
        col("doc_id"), col("text"), stage)
    }
  }

  /** The doc-window twin of [[docPostingsUpsertedPath]]
    * (Retrieval.upsertWindows; q_windows_upsert replays the pruned
    * MaxSim over the modified corpus).
    */
  private def docWindowsUpsertedPath(s: SparkSession, dir: String): String = {
    val stage = stagedPath("doc_windows_upsert_v3", dir)
    Staging.once(stage)(graft.operators.Retrieval.windowsExist(stage)) {
      graft.operators.Retrieval.stageWindows(Tables.documents(s, dir),
        col("doc_id"), col("text"), stage)
      graft.operators.Retrieval.upsertWindows(upsertDocs(s, dir),
        col("doc_id"), col("text"), stage)
    }
  }

  private lazy val maxSimPrunedOracleSql: String =
    maxSimPrunedOracleSqlWhere("TRUE")

  /** One-time embedded-Derby mirror of the documents table for the JDBC
    * parity path (S2): bulk-loaded once per sf-dir via the batched JDBC
    * sink; q_jdbc_roundtrip reads it back range-partitioned. The done
    * marker sits beside the database dir (Derby owns the dir's
    * contents); a crash before it re-runs the full load into a fresh
    * database, never appends onto a half-loaded table.
    */
  private def jdbcDocsUrl(s: SparkSession, dir: String): String = {
    val db = stagedPath("jdbc_derby_v1", dir)
    val url = s"jdbc:derby:$db;create=true"
    val done = java.nio.file.Paths.get(db + "_JDBC_DONE")
    Staging.once(db)(java.nio.file.Files.exists(done)) {
      graft.sources.Jdbc.writeTable(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        url, "documents")
      java.nio.file.Files.writeString(done, "ok")
    }
    url
  }

  /** [[audioCorpus]] with PLANTED NEAR-DUPLICATE twins for the audio
    * near-dup family: every 10th clip gets a twin (clip_id + 100000)
    * whose sample i = 3 is bumped by +60 — one sample's perturbation
    * moves ONE energy window, flipping at most the two adjacent
    * envelope-gradient bits, so the twin lands within the banded
    * Hamming miner's tolerance (the audio analogue of the image
    * fixture's one-pixel bump).
    */
  private def audioNearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < 100)
    audioWavs(d.select(col("doc_id").as("clip_id"),
        col("doc_id").as("src"), lit(0L).as("bump"))
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("clip_id"),
          col("doc_id").as("src"), lit(60L).as("bump"))))
  }

  /** Derived VIDEO corpus — real YUV4MPEG2 streams (ASCII stream header,
    * `FRAME\n` markers, raw planar pictures) built with declarative hex
    * arithmetic from a deterministic pixel formula:
    * px(x,y,t) = (src·7 + x·13 + y·31 + t·17 + x·y·5 + bump·[x=1 ∧ y=0 ∧
    * t=t0]) mod 256, over 2 + src mod 4 frames. Even-src videos are
    * Cmono 9×8 (the identity dHash grid), odd-src C420 18×16 — the
    * 4:2:0 pictures carry w·h·3/2 bytes (luma + two neutral-0x80 chroma
    * planes), so a frame-stride bug that fails to skip the chroma reads
    * the NEXT frame's luma and hash-fails against the oracle. `vids`
    * carries (vid_id, src, bump): src seeds the formula, bump perturbs
    * pixel (1,0) of frame t0 = src mod nf (0 for pristine videos) —
    * the video analogue of the image fixture's one-pixel bump.
    */
  private def videoY4ms(vids: DataFrame): DataFrame = {
    val isEven = col("src") % 2 === 0
    val w = when(isEven, lit(9)).otherwise(lit(18))
    val h = when(isEven, lit(8)).otherwise(lit(16))
    val nf = (lit(2) + col("src") % 4).cast("int")
    val t0 = (col("src") % (lit(2) + col("src") % 4)).cast("int")
    def px(x: Column, y: Column, t: Column): Column =
      pmod(col("src") * 7 + x * 13 + y * 31 + t * 17 + x * y * 5 +
        when(x === 1 && y === 0 && t === t0, col("bump")).otherwise(lit(0L)),
        lit(256L))
    def rowHex(y: Column, t: Column): Column =
      array_join(transform(sequence(lit(0), w - 1),
        x => lpad(hex(px(x, y, t)), 2, "0")), "")
    def lumaHex(t: Column): Column =
      array_join(transform(sequence(lit(0), h - 1), y => rowHex(y, t)), "")
    // two half-resolution neutral chroma planes: 2 × (18/2 × 16/2) bytes
    val chromaHex = when(isEven, lit("")).otherwise(lit("80" * 144))
    val pics = transform(sequence(lit(0), nf - 1),
      t => unhex(concat(lumaHex(t), chromaHex)))
    vids.select(col("vid_id"),
      Multimodal.y4mBytes(w, h, when(isEven, lit("mono")).otherwise(lit("420")),
        pics).as("bytes"))
  }

  private def videoCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < 120)
    videoY4ms(d.select(col("doc_id").as("vid_id"),
      col("doc_id").as("src"), lit(0L).as("bump")))
  }

  /** [[videoCorpus]] with PLANTED NEAR-DUPLICATE twins for the video
    * near-dup family: every 10th video gets a twin (vid_id + 100000)
    * with pixel (1,0) of ONE frame bumped — the perturbation moves the
    * temporal-mean value of that single pixel, so at most the two
    * gradient bits adjacent to it flip in the mean-frame fingerprint
    * and the twin lands within the banded Hamming miner's tolerance.
    */
  private def videoNearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < 120)
    videoY4ms(d.select(col("doc_id").as("vid_id"),
        col("doc_id").as("src"), lit(0L).as("bump"))
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("vid_id"),
          col("doc_id").as("src"), lit(32L).as("bump"))))
  }

  /** 9×8 luma grid of one decoded frame (`w`, `fr` in scope): identity
    * for 9-wide frames, integer 2×2 block means for 18×16 — the
    * area-average resize of the image family's [[graft.expressions.DHash]],
    * here DECLARATIVE over the parsed pixel arrays.
    */
  private val VideoGridSql: String =
    """CASE WHEN w = 9 THEN fr ELSE transform(sequence(0, 71), i ->
      |  (fr[(i DIV 9) * 2 * w + (i % 9) * 2]
      |   + fr[(i DIV 9) * 2 * w + (i % 9) * 2 + 1]
      |   + fr[((i DIV 9) * 2 + 1) * w + (i % 9) * 2]
      |   + fr[((i DIV 9) * 2 + 1) * w + (i % 9) * 2 + 1]) DIV 4) END""".stripMargin

  /** 64 horizontal-gradient bits over the 9×8 grid `g` — bit (y·8+x) set
    * iff g(x,y) < g(x+1,y), the image family's dHash convention.
    */
  private val VideoFpSql: String =
    """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
      |  acc + IF(g[(i DIV 8) * 9 + (i % 8)] < g[(i DIV 8) * 9 + (i % 8) + 1],
      |           shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin

  /** Oracle CTE chain for the video fixture, computed ARITHMETICALLY
    * from [[videoNearDupCorpus]]'s pixel formula — the byte-free twin
    * of [[ImageFpCtes]]. Leaves in scope: `vids (vid_id, src, bump)`
    * and `vcells0 (vid_id, src, t, ty, tx, c)` where `c` is the 9×8
    * grid cell's PRE-division value of frame t: the raw pixel for mono
    * (9-wide) videos, the 2×2 block SUM for 18-wide — per-frame grids
    * divide by 4, the temporal-sum grid divides the summed blocks.
    */
  private lazy val VideoCellsCtes: String = {
    // px(x, y) of frame t with the (1,0)@t0 bump, all terms non-negative
    // so DuckDB's % equals Spark's pmod
    def pxv(x: String, y: String, bumped: Boolean): String = {
      val b = if (bumped) s" + CASE WHEN $x = 1 AND $y = 0 AND t = t0 THEN bump ELSE 0 END" else ""
      s"(src*7 + ($x)*13 + ($y)*31 + t*17 + ($x)*($y)*5$b) % 256"
    }
    s"""vids AS (
       |  SELECT doc_id AS vid_id, doc_id AS src, 0 AS bump
       |  FROM documents WHERE doc_id < 120
       |  UNION ALL
       |  SELECT doc_id + 100000, doc_id, 32
       |  FROM documents WHERE doc_id < 120 AND doc_id % 10 = 0),
       |vparams AS (
       |  SELECT vid_id, src, bump, 2 + src % 4 AS nf,
       |         src % (2 + src % 4) AS t0
       |  FROM vids),
       |vcells0 AS (
       |  SELECT vid_id, src, t, ty, tx,
       |    CASE WHEN src % 2 = 0 THEN
       |      ${pxv("tx", "ty", bumped = true)}
       |    ELSE
       |        ${pxv("2*tx", "2*ty", bumped = false)}
       |      + ${pxv("2*tx+1", "2*ty", bumped = true)}
       |      + ${pxv("2*tx", "2*ty+1", bumped = false)}
       |      + ${pxv("2*tx+1", "2*ty+1", bumped = false)}
       |    END AS c
       |  FROM vparams, (SELECT unnest(range(8)) AS ty),
       |       (SELECT unnest(range(9)) AS tx), (SELECT unnest(range(5)) AS t)
       |  WHERE t < nf)""".stripMargin
  }

  /** hi/lo fingerprint + banded-Hamming replay tail shared by the image,
    * audio and video near-dup oracles — ONE place owns the banding
    * contract (16-bit bands, 50-row hot-bucket cap, exact Hamming over
    * the hi/lo halves). `fpRel` must expose (id, fp_hi, fp_lo); the
    * chain leaves `hpairs (a_id, b_id, hamming)` in scope.
    */
  private def hammingReplaySql(fpRel: String): String =
    s"""banded0 AS (
       |  SELECT id, fp_hi, fp_lo, j AS band_idx,
       |    CASE j WHEN 0 THEN fp_lo % 65536 WHEN 1 THEN fp_lo // 65536
       |           WHEN 2 THEN fp_hi % 65536 ELSE fp_hi // 65536
       |    END AS band
       |  FROM $fpRel, (SELECT unnest(range(4)) AS j)),
       |banded AS (
       |  SELECT b.* FROM banded0 b
       |  JOIN (SELECT band_idx, band FROM banded0
       |        GROUP BY band_idx, band HAVING count(*) <= 50) keep
       |    USING (band_idx, band)),
       |hpairs AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
       |    bit_count(xor(a.fp_lo, b.fp_lo))
       |      + bit_count(xor(a.fp_hi, b.fp_hi)) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.id < b.id)""".stripMargin

  private def docShingles(s: SparkSession, dir: String): DataFrame = {
    val stage = stagedPath("doc_shingles3_v1", dir)
    Staging.once(stage)(Staging.written(stage)) {
      Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          TextFunctions.shingles(col("text"), 3, distinct = true).as("tk"))
        .write.mode("overwrite").parquet(stage)
    }
    s.read.parquet(stage)
  }

  /** CTE chain (without the WITH keyword) deriving `p`-prefixed MinHash
    * signature + band relations for an (id, text) source —
    * `${p}sg` (id, sig) and `${p}bands` (id, sig, band_idx, band) are in
    * scope afterwards. Mirrors Dedup.{minhashSignature, bands,
    * dropHotBuckets} exactly. `capped = false` skips the hot-bucket drop —
    * the fresh/new side of Dedup.incrementalPairs, which caps only the
    * fixed corpus side so verdicts stay batch-boundary-invariant.
    */
  private def minhashSigBandsCte(p: String, srcSql: String,
                                 capped: Boolean = true): String = {
    val bandsCte =
      if (capped)
        s"""${p}bands AS (
           |  SELECT b.* FROM ${p}bands0 b
           |  JOIN (SELECT band_idx, band FROM ${p}bands0
           |        GROUP BY band_idx, band HAVING count(*) <= 50) keep
           |    USING (band_idx, band))""".stripMargin
      else s"${p}bands AS (SELECT * FROM ${p}bands0)"
    s"""${p}tok AS (SELECT id, ${OracleGen.toksSql("text")} AS tk FROM ($srcSql)),
       |${p}shingled AS (SELECT id, ${OracleGen.shinglesOfToks("tk")} AS sh FROM ${p}tok),
       |${p}hashed AS (SELECT id, list_transform(sh, s -> md5(s)) AS hs FROM ${p}shingled),
       |${p}sg AS (SELECT id, ${OracleGen.minhashSigOfHashes("hs", 8)} AS sig FROM ${p}hashed),
       |${p}bands0 AS (
       |  SELECT id, sig, j AS band_idx, sig[2*j+1] || sig[2*j+2] AS band
       |  FROM ${p}sg, (SELECT unnest(range(0, 4)) AS j)),
       |$bandsCte""".stripMargin
  }

  /** Capped MinHash+LSH candidate pairs of the near-dup corpus — `sg` and
    * `pairs` (a_id, b_id) in scope afterwards. Shared by the dedup_minhash
    * and dedup_clusters oracles so both check the identical candidate set.
    */
  private lazy val minhashPairsCteSql: String =
    s"""${minhashSigBandsCte("", nearDupCorpusSql)},
       |pairs AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.id < b.id)""".stripMargin

  /** Flagship (reference E3 retrieval, `rag.py:65-90`): KNN over the vector
    * table + broadcast join back to document metadata. Driver smoke-checks
    * rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val topk = Knn.knn(Tables.embeddings(spark, dir), col("embedding"), col("vec_id"),
      QueryVec.values, 5, Knn.L2)
    val docs = Tables.documents(spark, dir)
    topk.join(broadcast(docs), topk("vec_id") === docs("doc_id"), "inner")
      .select(col("vec_id"), col("distance"), col("text"), col("lang"), col("source"))
      .orderBy(col("distance"), col("vec_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Flagship vector surface (SURVEY.md §2.5 T2, §2.7 F6) ----

    "knn_l2" -> ((s, dir) => {
      Knn.knn(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
          QueryVec.values, 10, Knn.L2)
        .select(col("vec_id"), col("label"), col("distance"))
    }),

    "knn_cosine" -> ((s, dir) => {
      Knn.knn(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
          QueryVec.values, 10, Knn.Cosine)
        .select(col("vec_id"), col("label"), col("score"))
    }),

    "knn_dot" -> ((s, dir) => {
      Knn.knn(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
          QueryVec.values, 10, Knn.Dot)
        .select(col("vec_id"), col("label"), col("score"))
    }),

    "knn_per_label" -> ((s, dir) => {
      Knn.knnPerGroup(Tables.embeddings(s, dir), col("label"), col("embedding"),
          col("vec_id"), QueryVec.values, 3)
        .select(col("vec_id"), col("label"), col("distance"), col("rn"))
        .orderBy(col("label"), col("rn"))
    }),

    // Signed random projection (Johnson–Lindenstrauss): 64-d embeddings
    // down to 8-d through a fixed ±1 sign matrix both engines derive from
    // the same integer formula. Projected L2 approximates original L2
    // within JL distortion at 1/8 the arithmetic and bandwidth — the
    // first-pass scan shape for 100 TB of vectors. Top-10 in PROJECTED
    // space; deterministic because the matrix is a compile-time constant,
    // every chain is left-associated, and ties break on vec_id.
    "q_rand_proj" -> ((s, dir) => {
      val qp = VectorFunctions.randProjectQuery(QueryVec.values, 8)
      val pcols = (0 until 8).map(j =>
        VectorFunctions.randProjDim(col("embedding"), j, 64).as(s"p$j"))
      val proj = Tables.embeddings(s, dir)
        .select(col("vec_id") +: col("label") +: pcols: _*)
      val pdist = sqrt((0 until 8).map { j =>
        val dd = col(s"p$j") - lit(qp(j)); dd * dd
      }.reduceLeft(_ + _)) / lit(math.sqrt(8.0))
      proj.select(col("vec_id"), col("label"), pdist.as("pdist"))
        .orderBy(col("pdist"), col("vec_id"))
        .limit(10)
    }),

    // Project → candidate → exact rerank: the two-stage ANN every vector
    // store runs at scale. Stage 1 scans only the 8-d projections
    // (TakeOrderedAndProject top-50, per-partition heaps); stage 2
    // reranks the 50 candidates with the exact 64-d distance. The oracle
    // replays both stages exactly, so the hash certifies the candidate
    // cut AND the rerank.
    "knn_rand_proj" -> ((s, dir) => {
      val qp = VectorFunctions.randProjectQuery(QueryVec.values, 8)
      val pcols = (0 until 8).map(j =>
        VectorFunctions.randProjDim(col("embedding"), j, 64).as(s"p$j"))
      val proj = Tables.embeddings(s, dir)
        .select(col("vec_id") +: col("label") +: col("embedding") +: pcols: _*)
      val pdist = sqrt((0 until 8).map { j =>
        val dd = col(s"p$j") - lit(qp(j)); dd * dd
      }.reduceLeft(_ + _)) / lit(math.sqrt(8.0))
      proj.select(col("vec_id"), col("label"), col("embedding"),
          pdist.as("pdist"))
        .orderBy(col("pdist"), col("vec_id")).limit(50)
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .select(col("vec_id"), col("label"), col("distance"))
        .orderBy(col("distance"), col("vec_id"))
        .limit(10)
    }),

    // ---- Relational surface (north-star beyond the reference; SURVEY.md §2.4/2.8) ----

    "q1_pricing" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec12)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec12)).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Incremental aggregate maintenance: agg(S ∪ Δ) computed as
    // merge(partial(S), partial(Δ)) — the partial-aggregation algebra
    // behind incremental/materialized pipelines (a new data increment
    // re-aggregates only Δ and merges into the stored partials instead
    // of rescanning S). Sums are DECIMAL-exact, so the merged result is
    // bit-identical to the oracle's one-pass aggregation however the
    // corpus is split.
    "q_incr_agg" -> ((s, dir) => {
      val cut = lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00"))
      def partial(f: Column) = Tables.lineitem(s, dir).filter(f)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(discPrice).as("sum_disc"))
      partial(col("l_shipdate") < cut)
        .unionAll(partial(col("l_shipdate") >= cut))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("n")).as("n"),
          sum(col("sum_disc")).cast("double").as("sum_disc_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Bulk JSONL export + read-back (the training-data delivery format:
    // one JSON object per line, written distributed, schema-stable).
    // The accounting compares the re-read export against the source
    // table, proving the round-trip lossless — the export twin of the
    // S2 parquet bulk-load sink.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val out = stagedPath("jsonl_export_v1", dir)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      Staging.once(out)(Staging.written(out)) {
        d.write.mode("overwrite").json(out)
      }
      s.read.schema(d.schema).json(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("doc_id")).cast("long").as("sum_ids"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .orderBy(col("lang"))
    }),

    // ORC interchange (the other columnar lake format Spark ships
    // natively): distributed ORC write + typed read-back; the oracle
    // reads the SOURCE table, so the round-trip must be lossless —
    // same contract as q_jsonl_roundtrip on the text side.
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = stagedPath("orc_export_v1", dir)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
      Staging.once(out)(Staging.written(out)) {
        d.write.mode("overwrite").orc(out)
      }
      s.read.orc(out)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("doc_id")).cast("long").as("sum_ids"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .orderBy(col("lang"), col("source"))
    }),

    // Corpus snapshot diff: two deterministic document-corpus versions
    // (every 13th doc dropped, every 7th's text revised, every 11th
    // re-minted under a new id) classified added/removed/changed/
    // unchanged by content fingerprint in one full-outer join — the
    // refresh audit that scopes re-embedding/re-dedup to touched ids.
    "q_corpus_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.select(col("doc_id").as("id"), md5(col("text")).as("fp"))
      val newer = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id").as("id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("fp"))
        .unionAll(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 200000).as("id"), md5(col("text")).as("fp")))
      graft.operators.Merge.corpusDiff(old, newer, col("id"), col("fp"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("id")).cast("long").as("sum_ids"))
        .orderBy(col("status"))
    }),

    // Lakehouse MERGE (upsert) on a dimension snapshot: a change batch of
    // UPDATE rows (every 10th customer gets its account balance restated to
    // its exact order-total sum, segment 'UPDATED') plus INSERT rows (new
    // customers minted from the supplier table, segment 'NEW') applied onto
    // `customer` in one full-outer-join pass (Merge.merge). Verified via
    // per-segment exact-decimal summary of the merged snapshot; the oracle
    // replays the same MERGE as FULL OUTER JOIN + presence-CASE.
    "q_merge_upsert" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val updates = c.filter(col("c_custkey") % 10 === 0)
        .join(Tables.orders(s, dir).groupBy(col("o_custkey"))
            .agg(sum(col("o_totalprice").cast(dec12)).cast("double").as("new_bal")),
          col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("new_bal").as("c_acctbal"), lit("UPDATED").as("c_mktsegment"))
      val inserts = Tables.supplier(s, dir)
        .select((col("s_suppkey") + 10000000L).as("c_custkey"),
          col("s_name").as("c_name"), col("s_nationkey").as("c_nationkey"),
          col("s_acctbal").as("c_acctbal"), lit("NEW").as("c_mktsegment"))
      graft.operators.Merge.merge(c, updates.unionAll(inserts), Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(dec12)).cast("double").as("sum_bal"),
          sum(col("c_custkey")).as("sum_key"))
        .orderBy(col("c_mktsegment"))
    }),

    // SCD type-2 interval history: the events change-log collapsed into
    // per-user event_type validity intervals (Merge.scd2: one shuffle on
    // user, lag to drop same-state repeats, lead for valid_to). Durations
    // are exact integer microseconds — ts arrives as BIGINT nanos
    // (nanosAsLong), truncated per-endpoint to micros exactly like the
    // oracle's epoch_us, so the per-state rollup is engine-exact.
    "q_scd2" -> ((s, dir) => {
      graft.operators.Merge.scd2(Tables.events(s, dir), col("user_id"),
          col("event_type"), col("ts"), col("event_id"))
        .groupBy(col("state"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
          coalesce(sum(expr("valid_to DIV 1000 - valid_from DIV 1000")),
            lit(0L)).as("dur_us"))
        .orderBy(col("state"))
    }),

    "q_revenue_nation" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(o, o("o_custkey") === c("c_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(discPrice).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // T1 recency top-k (reference `email_fetching.py:30-34`): newest N, newest
    // first — TakeOrderedAndProject, the distributed-safe shape.
    // events.ts is read as BIGINT nanos (nanosAsLong) — exposed as epoch
    // micros (ts_us) so the compare is pure int64 at the precision DuckDB
    // retains for nanosecond parquet timestamps.
    "q_topk_events" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .orderBy(col("ts_us").desc, col("event_id").asc)
        .limit(100)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"), col("value"))
    }),

    "q_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      Tables.part(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
        .orderBy(col("p_brand"), col("rn"))
    }),

    // Exact interpolated percentiles (both engines: linear interpolation on
    // the sorted exact values — bit-identical, no sketch).
    "q_percentiles" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // Exact distinct counts.
    "q_distinct" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // HLL sketch vs exact: the output exposes the exact count plus a
    // within-5% tolerance flag on the HLL estimate (sketch internals are
    // engine-specific, the tolerance contract is not), so the sketch path
    // is exercised AND the result is oracle-checkable — the oracle asserts
    // the exact count and `within_tol = true`.
    "q_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("exact_parts"), col("n"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(0.05)).as("within_tol"))
        .orderBy(col("l_returnflag"))
    }),

    // Approximate-quantile sketch vs exact (same tolerance-flag contract
    // as q_approx_distinct): the output exposes the exact interpolated
    // median plus a within-5% flag on the percentile_approx estimate, so
    // the sketch path is exercised and the result stays oracle-checkable.
    "q_approx_quantiles" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile_approx(o_totalprice, 0.5, 1000)").as("approx_med"),
          expr("percentile(o_totalprice, 0.5)").as("med"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("med"), col("n"),
          (abs(col("approx_med") - col("med")) <= abs(col("med")) * lit(0.05))
            .as("within_tol"))
        .orderBy(col("o_orderstatus"))
    }),

    // Rollup with subtotals + grand total (grouping-sets surface).
    "q_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec12)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Left-semi join: customers that placed at least one 1995 order.
    "q_semi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1996-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // Left-anti join: customers with no orders at all, counted per nation.
    "q_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),

    // Running (cumulative) order total per sampled customer — frame-based
    // window aggregation; DECIMAL accumulation keeps it exact.
    "q_running_total" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .filter(col("o_custkey") % 100 === 0)
        .withColumn("running_total",
          sum(col("o_totalprice").cast(dec12)).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Value-based (RANGE) window frame: per-user trailing 1-hour event
    // count and cents sum at each event — frame bounds are event-time
    // offsets, not row counts, so ties and gaps are handled by value.
    "q_moving_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("cents_1h", sum(col("cents")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("n_1h")).as("max_n_1h"),
          max(col("cents_1h")).as("max_cents_1h"),
          sum(col("n_1h")).as("sum_n_1h"))
        .orderBy(col("user_id"))
    }),

    // lag(): inter-event gap per user (micros, exact integers).
    "q_event_gaps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy(col("user_id"))
    }),

    // ---- Dedup (north-star; SURVEY.md §2.6) ----

    // MinHash+LSH banding: candidate near-dup pairs with estimated Jaccard.
    // Planted near-dups (id, id+100000) must surface; LSH bucket-join only —
    // no O(n²) comparison. The measured path is the cluster-scale one: the
    // signature projection lands in a parquet stage (one-time per corpus
    // fingerprint — signatures are append-stable per document) and the
    // banding join reads the stage; hot band buckets above 50 entries are
    // excluded (skew guard, mirrored in the oracle).
    "dedup_minhash" -> ((s, dir) => {
      val stage = minhashSigsPath(s, dir)
      Dedup.minhashPairsFromStage(s, stage, maxBucket = 50)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // EXACT set-similarity self-join at Jaccard >= 0.6 via PPJoin-style
    // prefix filtering with the ASYMMETRIC indexing prefix — zero recall
    // loss (every qualifying pair, even ones LSH banding would miss), no
    // cartesian product: candidates come only from each doc's
    // rarest-token prefix (Zipf-head tokens never become join keys), a
    // size-compatibility prune in the join itself, and the smaller
    // side's 0.25·sz mid-prefix. The df-ordered PREFIX INDEX is staged
    // once per corpus (the same build-once discipline as the minhash
    // signature and postings stages — global df makes it a corpus
    // artifact) and both join sides read the stage.
    "dedup_prefix_jaccard" -> ((s, dir) => {
      // near-dup corpus = staged base shingles + the planted copies
      // tokenized fresh as a delta (they don't exist in the artifact)
      val planted = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("id"),
          TextFunctions.shingles(
            concat(col("text"), lit(" zz extra token")), 3,
            distinct = true).as("tk"))
      val toks = docShingles(s, dir).unionAll(planted).localCheckpoint()
      val stagePath = stagedPath("ppj_ordered_v1", dir)
      Staging.once(stagePath)(Staging.written(stagePath)) {
        Dedup.orderedPrefixes(toks).write.mode("overwrite").parquet(stagePath)
      }
      Dedup.prefixJaccardJoinFromOrdered(toks, s.read.parquet(stagePath),
          threshold = 0.6)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Near-dup CLUSTER resolution: LSH candidate pairs → connected
    // components (hash-min label propagation) → one row per cluster with
    // its keeper (min id) and size. The step that turns pair mining into
    // an actual dedup decision; transitive near-dups collapse into one
    // cluster. Reuses the staged minhash signatures.
    "dedup_clusters" -> ((s, dir) => {
      val stage = minhashSigsPath(s, dir)
      val pairs = Dedup.minhashPairsFromStage(s, stage, maxBucket = 50)
        .select(col("a_id"), col("b_id"))
      Dedup.connectedComponents(pairs)
        .groupBy(col("comp").as("comp_id"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
        .orderBy(col("comp_id"))
    }),

    // Dedup APPLIED: pairs → clusters → filtered corpus. Every cluster
    // keeps its min-id member; all other members anti-join away. The
    // output is the before/after accounting plus an id checksum of the
    // kept set — the end state of the whole dedup pipeline.
    "q_dedup_apply" -> ((s, dir) => {
      val stage = minhashSigsPath(s, dir)
      val corpus = nearDupCorpus(s, dir)
      val pairs = Dedup.minhashPairsFromStage(s, stage, maxBucket = 50)
        .select(col("a_id"), col("b_id"))
      val dropIds = Dedup.connectedComponents(pairs)
        .filter(col("id") =!= col("comp")).select(col("id"))
      val kept = corpus.join(dropIds, Seq("id"), "left_anti")
      kept.agg(count(lit(1)).as("n_after"), sum(col("id")).as("sum_kept_ids"))
        .crossJoin(broadcast(corpus.agg(count(lit(1)).as("n_before"))))
        .select(col("n_before"), col("n_after"),
          (col("n_before") - col("n_after")).as("n_dropped"),
          col("sum_kept_ids").cast("long").as("sum_kept_ids"))
    }),

    // Incremental dedup (the ingest gate): the arriving batch — the
    // shifted near-dup copies — is signed fresh and checked against the
    // BASE corpus's staged signatures; the corpus is never re-hashed and
    // the small new side broadcasts, so the join shuffles neither side.
    // Every new doc must surface its origin.
    "dedup_incremental" -> ((s, dir) => {
      val stage = stagedPath("minhash_sigs_base_v2", dir)
      Staging.once(stage)(Staging.written(stage)) {
        Dedup.stageMinhashSignatures(
          Tables.documents(s, dir).select(col("doc_id").as("id"), col("text")),
          col("id"), col("text"), stage)
      }
      val newBatch = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("id"),
          concat(col("text"), lit(" zz extra token")).as("text"))
      Dedup.incrementalPairs(newBatch, col("id"), col("text"), stage, maxBucket = 50)
        .orderBy(col("corpus_id"), col("new_id"))
    }),

    // Signature-stage DELETE (the GDPR/reindex path the other persisted
    // layouts already have): stage the full corpus's signatures, remove
    // every doc_id % 3 == 0 via Dedup.deleteSignatures (only the
    // victims' id-hash partitions rewrite), then gate the shifted batch
    // against the survivor stage — deleted docs must stop acting as
    // near-dup origins. The oracle replays the gate against a corpus
    // filtered to the remaining docs: delete-then-gate ≡
    // rebuild-on-remaining, hash-checked.
    "q_dedup_sig_delete" -> ((s, dir) => {
      val stage = stagedPath("minhash_sigs_del_v2", dir)
      Staging.once(stage)(Staging.written(stage)) {
        Dedup.stageMinhashSignatures(
          Tables.documents(s, dir).select(col("doc_id").as("id"), col("text")),
          col("id"), col("text"), stage)
        Dedup.deleteSignatures(
          Tables.documents(s, dir)
            .filter(pmod(col("doc_id"), lit(3)) === 0)
            .select(col("doc_id").as("id")), stage)
      }
      val newBatch = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("id"),
          concat(col("text"), lit(" zz extra token")).as("text"))
      Dedup.incrementalPairs(newBatch, col("id"), col("text"), stage, maxBucket = 50)
        .orderBy(col("corpus_id"), col("new_id"))
    }),

    // SimHash fingerprints: planted near-dup pairs with Hamming distance —
    // near-dups land within a few bits.
    "dedup_simhash" -> ((s, dir) => {
      val fp = nearDupCorpus(s, dir)
        .select(col("id"), TextFunctions.simhash(col("text")).as("simhash"))
      val a = fp.select(col("id").as("a_id"), col("simhash").as("a_fp"))
      val b = fp.select(col("id").as("b_id"), col("simhash").as("b_fp"))
      a.join(b, col("b_id") === col("a_id") + 100000)
        .select(col("a_id"), col("b_id"), col("a_fp"), col("b_fp"),
          bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long").as("hamming"))
        .orderBy(col("a_id"))
    }),

    // Exact n-gram Jaccard over the planted candidate pairs.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      val pairs = corpus.filter(col("id") < 100000 && col("id") % 10 === 0)
        .select(col("id").as("a_id"), (col("id") + 100000).as("b_id"))
      Dedup.ngramJaccard(corpus, col("id"), col("text"), pairs)
        .orderBy(col("a_id"))
    }),

    // Embedding-cosine near-dup, scale-safe: only same-LSH-bucket pairs
    // are compared (equi-join on bucket — no cartesian product in the
    // plan; asserted in AnnSpec), top-20 by cosine. The oracle
    // replicates the bucket prefilter exactly.
    "neardup_cosine" -> ((s, dir) => {
      Ann.topCosinePairsBucketed(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), 20)
    }),

    // Semantic dedup, the SemDeDup shape: deterministic k-means scopes
    // the candidate pairs (O(Σ n_c²), never O(n²)); within a cluster the
    // higher id of any pair with cosine ≥ 0.30 is a duplicate. Over-cap
    // clusters (the hot-bucket hazard: k-means collapsing mass onto one
    // centroid) are excluded WHOLE and flagged, never silently sampled.
    // Output is the per-cluster audit; every Lloyd round, every compared
    // cosine and the keep set are replayed by the oracle.
    "dedup_semantic" -> ((s, dir) => {
      Dedup.semanticDedup(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), k = 4, iters = 2, dim = 64,
        tauFp = 300000L, maxCluster = 400L)
    }),

    // Contrastive hard-negative mining: per anchor, the 2 most-similar
    // same-LSH-bucket vectors with cosine in the mid band [0.2, 0.8) —
    // the training pairs that actually carry gradient for embedding
    // fine-tuning. Bucket equi-join + per-anchor window; summarized per
    // anchor-label for a compact oracle row set.
    "q_hard_negatives" -> ((s, dir) => {
      val negs = Ann.hardNegatives(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), lo = 0.2, hi = 0.8, perAnchor = 2)
      val lbl = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      negs.join(broadcast(lbl), negs("anchor_id") === lbl("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("anchor_id")).as("n_anchors"),
          sum(col("neg_id")).as("sum_neg_ids"),
          sum(floor(col("cos_sim") * lit(1000000.0)).cast("long")).as("sim_fp"))
        .orderBy(col("label"))
    }),

    // Generic SimHash near-dup mining: candidate pairs found BY
    // fingerprint banding (4×8-bit segments, join on segment equality,
    // Hamming ≤ 3 filter) — recovers the planted near-dups with no
    // planted-id knowledge. Measured path = staged fingerprints + hot
    // band buckets above 50 excluded (skew guard, oracle-mirrored), as
    // for dedup_minhash.
    "dedup_simhash_pairs" -> ((s, dir) => {
      val stage = stagedPath("simhash_fps_v1", dir)
      Staging.once(stage)(Staging.written(stage)) {
        Dedup.stageSimhashFingerprints(nearDupCorpus(s, dir), col("id"), col("text"), stage)
      }
      Dedup.simhashPairsFromStage(s, stage, maxBucket = 50)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ANN: random-hyperplane LSH bucket probe + exact re-rank (scale path
    // for knn_l2 — scans ~1/2^H of the table).
    "ann_lsh" -> ((s, dir) => {
      Ann.annLsh(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
          QueryVec.values, 5, numPlanes = 4)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
    }),

    // Multi-probe LSH: probe the query bucket plus its single-bit flips
    // (5 of 16 buckets) — the recall lever over ann_lsh at the same
    // partition-pruned layout.
    "ann_lsh_multi" -> ((s, dir) => {
      Ann.annLshMulti(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
          QueryVec.values, 5, numPlanes = 4)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
    }),

    // Optimizer-rule gate (plans.LshKnnRule): the SAME declarative exact-KNN
    // query as knn_l2, run in a child session (which inherits the rule from
    // GraftExtensions) with spark.graft.ann.autoLsh=true. The rule must
    // rewrite the O(n) distance scan into the bucket-local LSH probe; the
    // oracle is the bucket-local SQL (ann_lsh semantics), NOT the exact
    // top-5 — recall@5 < 1 on this corpus, so an un-fired rule returns the
    // exact answer and hash-MISMATCHES. The in-closure plan check catches the same failure
    // earlier with a better message. (Answer quality of the rewrite vs
    // exact KNN is tracked separately by q_ann_recall.)
    "q_lsh_rule_knn" -> ((s, dir) => {
      val child = s.newSession()
      child.conf.set("spark.graft.ann.autoLsh", "true")
      val df = Knn.knn(Tables.embeddings(child, dir), col("embedding"),
          col("vec_id"), QueryVec.values, 5, Knn.L2)
        .select(col("vec_id"), col("label"), col("distance"))
      val opt = df.queryExecution.optimizedPlan.toString
      require(opt.contains("dot_product"),
        s"LshKnnRule did not inject the LSH bucket filter:\n$opt")
      df
    }),

    // Runtime bloom-filter pruning gate: the selective dim side (URGENT
    // orders) builds a bloom filter that Spark pushes into the fact-side
    // scan (might_contain over bloom_filter_agg) — semi-join pruning of a
    // 100 TB fact scan without bucketing or partition keys. Runs in a
    // child session so the trigger-at-test-scale thresholds don't leak
    // into other queries; the closure asserts the filter actually landed
    // in the physical plan, and the oracle replays the join-aggregate.
    "q_bloom_prune" -> ((s, dir) => {
      val child = s.newSession()
      Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false"
      ).foreach { case (k, v) => child.conf.set(k, v) }
      val li = Tables.lineitem(child, dir)
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val sel = Tables.orders(child, dir)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      val df = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(dec12)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_returnflag"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"runtime bloom filter was not injected into the fact scan:\n$plan")
      df
    }),

    // Bucketed co-located join gate: orders and customer written once as
    // bucketed tables on the join key (8 buckets, sorted); the join is a
    // SortMergeJoin with NO exchange on either join side — at 100 TB the
    // layout replaces the two largest shuffles of the query. Child session
    // pins autoBroadcast=-1 so the small side can't broadcast away the
    // thing being proven; the closure asserts the exchange-free plan.
    "q_bucketed_join" -> ((s, dir) => {
      val path = stagedPath("bucketed_join_v1", dir)
      val tok = java.lang.Integer.toHexString(path.hashCode)
      val (ot, ct) = (s"orders_bkt_$tok", s"customer_bkt_$tok")
      val child = s.newSession()
      child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Staging.once(path)(child.catalog.tableExists(ot)) {
        Tables.orders(child, dir).write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$path/orders_bkt").saveAsTable(ot)
        Tables.customer(child, dir).write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$path/customer_bkt").saveAsTable(ct)
      }
      val df = child.table(ot)
        .join(child.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec12)).cast("double").as("total_price"))
        .orderBy(col("c_mktsegment"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"bucketed join must be a SortMergeJoin:\n$plan")
      require(!plan.contains("Exchange hashpartitioning(o_custkey") &&
        !plan.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join must not shuffle either join side:\n$plan")
      df
    }),

    // IVF layout as a PERSISTED partition-pruned read: embeddings written
    // once partitioned by IVF cell (nearest of 8 formula-deterministic
    // centroids); the probe reads ONLY the query's 2 nearest cells via
    // partition pruning (PartitionFilters on cell), exact re-rank inside.
    // Same answer as the in-memory ann_ivf — the directory layout IS the
    // index, and probe cost is nprobe/nlist of the store at any scale.
    "q_ivf_layout" -> ((s, dir) => {
      val path = stagedPath("ivf_layout_v1", dir)
      Staging.once(path)(Staging.written(path)) {
        Tables.embeddings(s, dir)
          .withColumn("cell", Ann.cellOf(col("embedding"), 8, 64))
          .write.mode("overwrite").partitionBy("cell").parquet(path)
      }
      val probes = Ann.ivfProbes(QueryVec.values, 8, 2)
      val df = s.read.parquet(path)
        .filter(col("cell").isin(probes: _*))
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), col("label"), col("cell"), col("distance"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters"),
        s"IVF probe must prune cell partitions:\n$plan")
      df
    }),

    // IVF lifecycle — APPEND: the cell-partitioned layout built on 2/3
    // of the vectors, the rest admitted via IvfIndex.append (purely
    // additive: a vector's cell is a pure function of the vector, so
    // appends land in their own cells and touch nothing else; admission
    // anti-joins the cells relation's column-pruned id column).
    // Probe-after-append must equal probing a full build — the oracle
    // replays the full-corpus cell assignment + pruned exact top-10.
    "q_ivf_append" -> ((s, dir) => {
      val path = stagedPath("ivf_idx_append_v2", dir)
      Staging.once(path)(graft.operators.IvfIndex.exists(path)) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.IvfIndex.build(
          emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding", path, nlist = 8, dim = 64)
        graft.operators.IvfIndex.append(
          emb.filter(pmod(col("vec_id"), lit(3)) === 0), path)
      }
      graft.operators.IvfIndex.probe(s, path, QueryVec.values, nprobe = 2)
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), col("label"), col("cell"), col("distance"))
    }),

    // AUTO-COMPACTION POLICY for the IVF layout
    // (IvfIndex.compactIfFragmented — the q_postings_autocompact twin
    // for an index whose maintenance debt is FILES, not tombstones:
    // every append lands exactly one new file per touched partition, so
    // probe read amplification grows with appends-since-compact). Built
    // on 2/3 of the corpus (fresh build = one file per partition, the
    // policy must NOT fire), the last third appended in three waves
    // (files-per-partition crosses the threshold and the policy fires
    // the compaction an operator would otherwise have to remember),
    // then a re-probe must NOT re-fire. Probe results are
    // compaction-invariant, so the oracle is the same full-corpus
    // pruned-probe replay as q_ivf_append.
    "q_ivf_autocompact" -> ((s, dir) => {
      val path = stagedPath("ivf_idx_autoc_v2", dir)
      Staging.once(path)(graft.operators.IvfIndex.exists(path)) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.IvfIndex.build(
          emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding", path, nlist = 8, dim = 64)
        require(!graft.operators.IvfIndex.compactIfFragmented(s, path),
          "a fresh build is one file per partition — the policy must not fire")
        Seq(0L, 3L, 6L).foreach { w =>
          graft.operators.IvfIndex.append(
            emb.filter(pmod(col("vec_id"), lit(9)) === w), path)
        }
        require(graft.operators.IvfIndex.compactIfFragmented(s, path),
          "three append waves must push files-per-partition past the threshold")
        require(!graft.operators.IvfIndex.compactIfFragmented(s, path),
          "a just-compacted index is back at one file per partition")
      }
      graft.operators.IvfIndex.probe(s, path, QueryVec.values, nprobe = 2)
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), col("label"), col("cell"), col("distance"))
    }),

    // FLEET HEALTH surface (StageAdmin.health): one dashboard row per
    // persisted index — serving? torn maintenance? writer crashed
    // lock-in-hand? past its compaction policy's threshold? and the
    // prescribed heal. Probed against the run's five live shared stages
    // (all healthy by construction) plus eight deliberate fixtures: an
    // LSM stage two append waves past the stale threshold, a
    // three-wave-fragmented IVF index, a torn index (intent marker left
    // by a "crashed" writer), a store with a held writer lock, a stage
    // that was never built, a healthy signature stage, and two
    // versioned PQ publications (one inside its retention budget, one
    // five republishes deep with no floor — retention debt flagged with
    // Pq.retain prescribed). Every probe is metadata-sized (file
    // stats, driver readdirs, one stage-pruned count for the LSM
    // fractions) and — the point — NOTHING throws on an unhealthy
    // stage: the readers refuse torn state, the dashboard reports it.
    "q_stage_health" -> ((s, dir) => {
      import graft.operators.StageAdmin.Probe
      val stalePostings = stagedPath("health_postings_stale_v1", dir)
      val fragIvf = stagedPath("health_ivf_frag_v1", dir)
      val tornIvf = stagedPath("health_ivf_torn_v1", dir)
      val lockedStore = stagedPath("health_store_locked_v1", dir)
      val missing = stagedPath("health_missing_v1", dir)
      val sigStage = stagedPath("health_signatures_v1", dir)
      val pqOk = stagedPath("health_pq_ok_v1", dir)
      val pqDeep = stagedPath("health_pq_deep_v1", dir)
      // one group done file covers ALL fixtures: a crash anywhere
      // mid-build rebuilds the whole set (each builder starts from
      // deleteRec/overwrite, clearing junk state)
      val done = stagedPath("health_fixtures_done_v2", dir)
      Staging.once(done)(new java.io.File(done).exists()) {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        // stale LSM stage: two same-sized append waves supersede most
        // touched posting lists — past the 0.3 default, left
        // uncompacted so the policy column must flag it
        Staging.deleteRec(stalePostings)
        graft.operators.Retrieval.stagePostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1),
          col("doc_id"), col("text"), stalePostings)
        graft.operators.Retrieval.appendPostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2),
          col("doc_id"), col("text"), stalePostings)
        graft.operators.Retrieval.appendPostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          col("doc_id"), col("text"), stalePostings)
        // fragmented file-granular index: three waves, uncompacted
        graft.operators.IvfIndex.build(
          emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding", fragIvf, nlist = 8, dim = 64)
        Seq(0L, 3L, 6L).foreach { w =>
          graft.operators.IvfIndex.append(
            emb.filter(pmod(col("vec_id"), lit(9)) === w), fragIvf)
        }
        // torn maintenance: a writer "crashed" intent-in-hand
        graft.operators.IvfIndex.build(emb.filter(col("vec_id") < 64),
          "vec_id", "embedding", tornIvf, nlist = 8, dim = 64)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(tornIvf, "_APPENDING"))
        // held writer lock (crashed or still running — either way the
        // stage must report locked, not serve a second writer)
        graft.operators.VectorStore.write(
          emb.filter(col("vec_id") < 64)
            .select(col("vec_id"), col("embedding")),
          col("embedding"), lockedStore)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(lockedStore, "_WRITER_LOCK"))
        // signature stage (healthy), and two versioned PQ
        // publications: two republishes retain 2 ≤ 3 (healthy), five
        // retain 5 > 3 with no retention floor yet (Pq.retain debt)
        graft.operators.Dedup.stageMinhashSignatures(
          docs.filter(col("doc_id") < 64), col("doc_id"), col("text"),
          sigStage)
        val pqEmb = emb.filter(col("vec_id") < 64)
        Staging.deleteRec(pqOk)
        Staging.deleteRec(pqDeep)
        (1 to 2).foreach(_ => graft.operators.Pq.republish(pqEmb,
          col("vec_id"), col("embedding"), m = 4, subDim = 16, k = 4,
          iters = 1, path = pqOk))
        (1 to 5).foreach(_ => graft.operators.Pq.republish(pqEmb,
          col("vec_id"), col("embedding"), m = 4, subDim = 16, k = 4,
          iters = 1, path = pqDeep))
        java.nio.file.Files.createFile(java.nio.file.Paths.get(done))
      }
      graft.operators.StageAdmin.health(s, Seq(
        Probe("docs_postings", "postings", docPostingsPath(s, dir)),
        Probe("docs_windows", "windows", docWindowsPath(s, dir)),
        Probe("docs_signatures", "signatures", sigStage),
        Probe("emb_graph_ann", "graph_ann", graphAnnIndexPath(s, dir)),
        Probe("emb_ivf", "ivf", ivfIndexFullPath(s, dir)),
        Probe("emb_store", "vector_store", docEmbedStorePath(s, dir)),
        Probe("emb_pq", "pq", pqOk),
        Probe("emb_pq_deep", "pq", pqDeep),
        Probe("postings_stale", "postings", stalePostings),
        Probe("ivf_fragmented", "ivf", fragIvf),
        Probe("ivf_torn", "ivf", tornIvf),
        Probe("store_locked", "vector_store", lockedStore),
        Probe("postings_missing", "postings", missing)
      )).orderBy(col("name"))
    }),

    // IVF lifecycle — DELETE: full build, every vec_id % 3 == 0 removed
    // via IvfIndex.delete (a semi-join on the cells relation's
    // column-pruned id column finds the victims' cells — ids are read,
    // vectors are not — and only those partitions rewrite). Probe ≡
    // rebuild-on-remaining; the oracle replays the probe over
    // `embeddings WHERE vec_id % 3 <> 0`.
    "q_ivf_delete" -> ((s, dir) => {
      val path = stagedPath("ivf_idx_delete_v2", dir)
      Staging.once(path)(graft.operators.IvfIndex.exists(path)) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.IvfIndex.build(emb, "vec_id", "embedding", path,
          nlist = 8, dim = 64)
        graft.operators.IvfIndex.delete(
          emb.filter(pmod(col("vec_id"), lit(3)) === 0)
            .select(col("vec_id")), path, idName = "vec_id")
      }
      graft.operators.IvfIndex.probe(s, path, QueryVec.values, nprobe = 2)
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), col("label"), col("cell"), col("distance"))
    }),

    // AUTO-HEAL entry point (StageAdmin.heal): the dashboard's apply
    // mode over a heal-OWNED copy of the 13-stage fixture fleet (the
    // q_stage_health fixtures are shared and must stay unhealthy for
    // that query's literal — heal consumes unhealthiness, so it gets
    // its own). One apply executes each prescribed action — recover for
    // the torn index and the crashed-writer lock, compaction for the
    // stale LSM stage and the fragmented IVF index, Pq.retain for the
    // deep publication history — and the returned relation records what
    // ran plus the post-heal re-probe: every existing stage ends
    // healthy with no remaining prescription, and the missing stage
    // stays `build` (rebuilding needs the corpus — the operator's
    // call). Heal mutates its fixtures, so the result dashboard is
    // persisted under the done-marker and later runs replay it — the
    // relation is the FIRST apply's, deterministically.
    "q_stage_heal" -> ((s, dir) => {
      import graft.operators.StageAdmin.Probe
      val stalePostings = stagedPath("heal_postings_stale_v1", dir)
      val fragIvf = stagedPath("heal_ivf_frag_v1", dir)
      val tornIvf = stagedPath("heal_ivf_torn_v1", dir)
      val lockedStore = stagedPath("heal_store_locked_v1", dir)
      val missing = stagedPath("heal_missing_v1", dir)
      val sigStage = stagedPath("heal_signatures_v1", dir)
      val pqOk = stagedPath("heal_pq_ok_v1", dir)
      val pqDeep = stagedPath("heal_pq_deep_v1", dir)
      val resultPath = stagedPath("heal_result_v1", dir)
      val done = stagedPath("heal_fixtures_done_v1", dir)
      Staging.once(done)(new java.io.File(done).exists()) {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        Staging.deleteRec(stalePostings)
        graft.operators.Retrieval.stagePostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1),
          col("doc_id"), col("text"), stalePostings)
        graft.operators.Retrieval.appendPostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2),
          col("doc_id"), col("text"), stalePostings)
        graft.operators.Retrieval.appendPostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          col("doc_id"), col("text"), stalePostings)
        graft.operators.IvfIndex.build(
          emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding", fragIvf, nlist = 8, dim = 64)
        Seq(0L, 3L, 6L).foreach { w =>
          graft.operators.IvfIndex.append(
            emb.filter(pmod(col("vec_id"), lit(9)) === w), fragIvf)
        }
        graft.operators.IvfIndex.build(emb.filter(col("vec_id") < 64),
          "vec_id", "embedding", tornIvf, nlist = 8, dim = 64)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(tornIvf, "_APPENDING"))
        graft.operators.VectorStore.write(
          emb.filter(col("vec_id") < 64)
            .select(col("vec_id"), col("embedding")),
          col("embedding"), lockedStore)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(lockedStore, "_WRITER_LOCK"))
        graft.operators.Dedup.stageMinhashSignatures(
          docs.filter(col("doc_id") < 64), col("doc_id"), col("text"),
          sigStage)
        val pqEmb = emb.filter(col("vec_id") < 64)
        Staging.deleteRec(pqOk)
        Staging.deleteRec(pqDeep)
        (1 to 2).foreach(_ => graft.operators.Pq.republish(pqEmb,
          col("vec_id"), col("embedding"), m = 4, subDim = 16, k = 4,
          iters = 1, path = pqOk))
        (1 to 5).foreach(_ => graft.operators.Pq.republish(pqEmb,
          col("vec_id"), col("embedding"), m = 4, subDim = 16, k = 4,
          iters = 1, path = pqDeep))
        val healed = graft.operators.StageAdmin.heal(s, Seq(
          Probe("docs_postings", "postings", docPostingsPath(s, dir)),
          Probe("docs_windows", "windows", docWindowsPath(s, dir)),
          Probe("docs_signatures", "signatures", sigStage),
          Probe("emb_graph_ann", "graph_ann", graphAnnIndexPath(s, dir)),
          Probe("emb_ivf", "ivf", ivfIndexFullPath(s, dir)),
          Probe("emb_store", "vector_store", docEmbedStorePath(s, dir)),
          Probe("emb_pq", "pq", pqOk),
          Probe("emb_pq_deep", "pq", pqDeep),
          Probe("postings_stale", "postings", stalePostings),
          Probe("ivf_fragmented", "ivf", fragIvf),
          Probe("ivf_torn", "ivf", tornIvf),
          Probe("store_locked", "vector_store", lockedStore),
          Probe("postings_missing", "postings", missing)
        ), apply = true)
        healed.coalesce(1).write.mode("overwrite").parquet(resultPath)
        java.nio.file.Files.createFile(java.nio.file.Paths.get(done))
      }
      s.read.parquet(resultPath).orderBy(col("name"))
    }),

    // BATCHED IVF serving (IvfIndex.probeBatch): ONE plan probes the
    // persisted cell layout for all 8 batch queries — each query's
    // nprobe nearest cells come from the same driver-side arithmetic
    // the single probe uses, the cells scan reads the UNION of probed
    // cell partitions once (static isin partition filter + broadcast
    // (q_id, cell) routing), per-query exact top-10 via one window —
    // instead of 8 separate scans (the N+1 serving shape the other
    // three persisted indexes already fixed). The oracle replays every
    // query's probe chain, so batch ≡ per-query is hash-checked.
    "q_ivf_probe_batch" -> ((s, dir) => {
      import s.implicits._
      val path = ivfIndexFullPath(s, dir)
      val qs = BatchQueryIds.map(b =>
          (b.toLong, OracleGen.QueryVec.shiftedValues(b)))
        .toDF("q_id", "q_vec")
      graft.operators.IvfIndex.probeBatch(s, path, qs, k = 10, nprobe = 2)
        .orderBy(col("q_id"), col("rn"))
    }),

    // Streaming SERVING against the persisted IVF index — the
    // inverted-file completion of the serving family (store, windows,
    // graph, lexical already stream): the batch queries stream in over
    // 2 micro-batches (one batched-probe latency per batch regardless
    // of batch size — the point of batching) and each batch is served
    // as ONE IvfIndex.probeBatch. Per-query rows are batching-invariant,
    // so the drained union must equal the one-shot batched probe — the
    // oracle IS q_ivf_probe_batch's per-query replay.
    "q_stream_ivf_serve" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      import s.implicits._
      val path = ivfIndexFullPath(s, dir)
      val slices = (0 until 2).map(g =>
        BatchQueryIds.filter(_ % 2 == g)
          .map(b => (b.toLong, OracleGen.QueryVec.shiftedValues(b)))
          .toDF("q_id", "q_vec"))
      val srcDir = graft.streaming.Streaming.stageSlicesSource(slices,
        stagedPath("ivf_serve_queries_2f_v1", dir))
      val src = s.readStream.schema(slices.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      graft.streaming.Streaming.drainServeFromIvf(src, path, k = 10,
          nprobe = 2, "ivfserve_" + Integer.toHexString(dir.hashCode))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Streaming ingest INTO the persisted IVF index
    // (Streaming.drainToIvfIndex): the embeddings stream in over ≥3
    // micro-batches, the first builds, every later batch lands purely
    // additively in its own cells, and the FRAGMENTATION POLICY
    // (IvfIndex.compactIfFragmented) runs per batch so a long drain's
    // files-per-partition is bounded by policy, not operator memory —
    // the ingest twin of q_stream_ivf_serve, completing ingest AND
    // serving loops for the IVF family like the other persisted
    // indexes. Drained ≡ one-shot full build (append ≡ rebuild, compact
    // invariant), so the oracle is the same pruned-probe replay as
    // q_ivf_layout.
    "q_stream_ivf_ingest" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.embeddings(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir,
          "embeddings", "vec_id"))
      val path = stagedPath("stream_ivf_ingest_v1", dir)
      graft.streaming.Streaming.drainToIvfIndex(src, path,
        "vec_id", "embedding", nlist = 8, dim = 64)
      graft.operators.IvfIndex.probe(s, path, QueryVec.values, nprobe = 2)
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), col("label"), col("cell"), col("distance"))
    }),

    // Persisted vector store (S7 at scale): vectors written partitioned
    // by LSH bucket (one-time setup per sf dir), multi-probe query reads
    // ONLY the probed bucket directories — partition pruning makes the
    // probe a 5/16 scan, exact re-rank inside. Same result as the
    // in-memory ann_lsh_multi; here the layout itself is the index.
    "q_vector_store" -> ((s, dir) => {
      val path = vectorStorePath(s, dir)
      graft.operators.VectorStore.queryL2(s, path, "embedding", "vec_id",
          QueryVec.values, 5)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
    }),

    // METADATA-FILTERED store probe (classic vector-store serving:
    // "nearest neighbours among rows satisfying P", post-filter
    // semantics): the label predicate lands in the SAME bucket-pruned
    // scan as PushedFilters — never a second pass — and the exact top-5
    // re-rank runs over the filtered candidates. The oracle replays the
    // probe chain with the same WHERE.
    "q_vector_store_filtered" -> ((s, dir) => {
      val path = vectorStorePath(s, dir)
      graft.operators.VectorStore.queryL2(s, path, "embedding", "vec_id",
          QueryVec.values, 5, where = Some(col("label") === 2))
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
    }),

    // BATCHED store serving (VectorStore.queryL2Batch): ONE plan probes
    // the store for all 8 batch queries — each query's multi-probe
    // bucket set derives in-plan, the scan reads the UNION of probed
    // bucket partitions once (static isin partition filter from the
    // ≤2^numPlanes distinct probed buckets + broadcast probe equi-join
    // for per-query distances), per-query exact top-5 via one window —
    // instead of 8 separate scans (the N+1 serving shape, cf.
    // queryBatch / annJoin). The oracle replays every query's
    // multi-probe result, so batch ≡ per-query is hash-checked.
    "q_vector_store_batch" -> ((s, dir) => {
      import s.implicits._
      val path = vectorStorePath(s, dir)
      val qs = BatchQueryIds.map(b =>
          (b.toLong, OracleGen.QueryVec.shiftedValues(b)))
        .toDF("q_id", "q_vec")
      graft.operators.VectorStore.queryL2Batch(s, path, "embedding",
          "vec_id", qs, k = 5)
        .orderBy(col("q_id"), col("rn"))
    }),

    // Store compaction as a declared query: a fragmented store (write +
    // append = two file generations per bucket) is compacted to one file
    // per bucket; the probe must be invariant — same oracle SQL as
    // q_vector_store. Compaction is the maintenance op that keeps probe
    // file-counts (and task counts at 100 TB) bounded as appends accrue.
    "q_vector_store_compact" -> ((s, dir) => {
      val path = stagedPath("vector_store_compact_v1", dir)
      Staging.once(path)(Staging.written(path)) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(
          emb.filter(col("vec_id") % 2 === 0), col("embedding"), path)
        graft.operators.VectorStore.append(
          emb.filter(col("vec_id") % 2 === 1), col("embedding"), path)
        graft.operators.VectorStore.compact(s, path)
      }
      graft.operators.VectorStore.queryL2(s, path, "embedding", "vec_id",
          QueryVec.values, 5)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
    }),

    // Incremental vector-store maintenance: the store is built by an
    // initial write of half the vectors, an append of the other half, and
    // a re-append of an already-present slice (idempotence: dropped by the
    // id anti-join). The probe over the appended store must equal the
    // probe over a fresh full write — the oracle is the same full-corpus
    // SQL as q_vector_store.
    "q_vector_store_append" -> ((s, dir) => {
      val path = stagedPath("vector_store_app_v1", dir)
      Staging.once(path)(Staging.written(path, "_GRAFT_APPENDED")) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(
          emb.filter(col("vec_id") % 2 === 0), col("embedding"), path)
        graft.operators.VectorStore.append(
          emb.filter(col("vec_id") % 2 === 1), col("embedding"), path)
        graft.operators.VectorStore.append(
          emb.filter(col("vec_id") % 4 === 0), col("embedding"), path)
        new java.io.File(path, "_GRAFT_APPENDED").createNewFile()
      }
      graft.operators.VectorStore.queryL2(s, path, "embedding", "vec_id",
          QueryVec.values, 5)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
    }),

    // Re-embedding migration: every third vector is re-embedded (halved —
    // exact in float, bucket-invariant since signs are unchanged) and
    // upserted; only affected bucket partitions are rewritten. The probe
    // over the migrated store must equal the probe over the mixed corpus
    // the oracle computes directly.
    "q_vector_store_upsert" -> ((s, dir) => {
      val path = stagedPath("vector_store_ups_v1", dir)
      Staging.once(path)(Staging.written(path, "_GRAFT_UPSERTED")) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(emb, col("embedding"), path)
        val reembedded = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => (x * lit(0.5)).cast("float")).as("embedding"))
        graft.operators.VectorStore.upsert(reembedded, col("embedding"), path)
        new java.io.File(path, "_GRAFT_UPSERTED").createNewFile()
      }
      graft.operators.VectorStore.queryL2(s, path, "embedding", "vec_id",
          QueryVec.values, 5)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
    }),

    // Tombstoning: delete every 4th vector from the store (rewriting
    // only the buckets that hold one), then prove the store serves the
    // same probe as a fresh write of the surviving corpus AND that a
    // full exact scan finds zero deleted ids.
    // The composed store lifecycle a corpus refresh runs end-to-end:
    // half-write → append the rest → re-embed upsert (vec*0.5, label_v2)
    // → delete wave → compact — then one probe against the final layout.
    // The two trailing counters prove the maintenance contract: zero
    // tombstone residue (no deleted id anywhere) and one file per bucket
    // after compaction. The oracle replays the same lifecycle as pure
    // relational algebra over the source table.
    "q_vector_store_lifecycle" -> ((s, dir) => {
      val path = stagedPath("vector_store_life_v1", dir)
      Staging.once(path)(Staging.written(path, "_GRAFT_LIFECYCLE")) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(
          emb.filter(col("vec_id") % 2 === 0), col("embedding"), path)
        graft.operators.VectorStore.append(
          emb.filter(col("vec_id") % 2 === 1), col("embedding"), path)
        // replayed append: idempotent on vec_id, must be a no-op
        graft.operators.VectorStore.append(emb, col("embedding"), path)
        val reemb = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id"), (col("label") + lit(1000)).as("label"),
            transform(col("embedding"), x => (x * lit(0.5)).cast("float"))
              .as("embedding"))
        graft.operators.VectorStore.upsert(reemb, col("embedding"), path)
        graft.operators.VectorStore.delete(s, path,
          emb.filter(col("vec_id") % 4 === 0).select(col("vec_id")))
        graft.operators.VectorStore.compact(s, path)
        new java.io.File(path, "_GRAFT_LIFECYCLE").createNewFile()
      }
      val probe = graft.operators.VectorStore.queryL2(s, path, "embedding",
          "vec_id", QueryVec.values, 5)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
      val residue = broadcast(s.read.parquet(path)
        .filter(col("vec_id") % 4 === 0)
        .agg(count(lit(1)).as("n_deleted_left")))
      // filesystem metadata (driver-side, bounded by 2^numPlanes dirs):
      // the compaction contract is one file per bucket partition
      val maxFiles = {
        val buckets = new java.io.File(path).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        if (buckets.isEmpty) 0L
        else buckets.map(_.listFiles().count(_.getName.endsWith(".parquet")))
          .max.toLong
      }
      probe.crossJoin(residue)
        .withColumn("max_files_per_bucket", lit(maxFiles))
        .orderBy(col("distance").asc, col("vec_id").asc)
    }),

    // Time travel over the versioned store: write v0 (retainHistory),
    // upsert re-embedded ids (v1), delete every 4th id (v2), compact
    // (v3); then read EVERY version back through the per-bucket history
    // resolution and checksum it. The oracle replays each version's row
    // set relationally, so the hash certifies that historical reads
    // reconstruct exact states — including v3 == v2 across a compaction
    // and label/vector changes appearing only from their version on.
    "q_vector_store_timetravel" -> ((s, dir) => {
      val path = stagedPath("vector_store_tt_v1", dir)
      Staging.once(path)(Staging.written(path, "_GRAFT_TT")) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(emb, col("embedding"), path,
          retainHistory = true)
        val reemb = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id"), (col("label") + lit(1000)).as("label"),
            transform(col("embedding"), x => (x * lit(0.5)).cast("float"))
              .as("embedding"))
        graft.operators.VectorStore.upsert(reemb, col("embedding"), path)
        graft.operators.VectorStore.delete(s, path,
          emb.filter(col("vec_id") % 4 === 0).select(col("vec_id")))
        graft.operators.VectorStore.compact(s, path)
        new java.io.File(path, "_GRAFT_TT").createNewFile()
      }
      require(graft.operators.VectorStore.currentVersion(path) == 3L,
        "timetravel store must have exactly versions 0..3")
      (0L to 3L).map { v =>
        graft.operators.VectorStore.readAsOf(s, path, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("vec_id")).as("sum_id"),
            sum(col("label")).as("sum_label"),
            sum(floor(col("embedding")(0).cast("double") * 1000000)
              .cast("long")).as("emb_fp"))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
        .select(col("version"), col("n_rows"), col("sum_id"),
          col("sum_label"), col("emb_fp"))
        .orderBy(col("version"))
    }),

    // History-retention GC on the versioned store: the timetravel
    // lifecycle (v0 write → v1 upsert → v2 delete → v3 compact) followed
    // by retain(keep = 2) — the retention floor advances durably to 2,
    // then _history/1 and _history/2 are reclaimed while _history/3
    // (which every retained version still resolves through) survives.
    // Proof obligations, all oracle-hashed: versions ≥ floor still
    // reconstruct EXACTLY after the GC (same checksums the timetravel
    // query pins), versions < floor REFUSE (they can no longer silently
    // read a partially-reclaimed state), and the history footprint
    // actually shrank to the single dir the retained range needs.
    "q_vector_store_retain" -> ((s, dir) => {
      val path = stagedPath("vector_store_retain_v1", dir)
      Staging.once(path)(Staging.written(path, "_GRAFT_RETAINED")) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(emb, col("embedding"), path,
          retainHistory = true)
        val reemb = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id"), (col("label") + lit(1000)).as("label"),
            transform(col("embedding"), x => (x * lit(0.5)).cast("float"))
              .as("embedding"))
        graft.operators.VectorStore.upsert(reemb, col("embedding"), path)
        graft.operators.VectorStore.delete(s, path,
          emb.filter(col("vec_id") % 4 === 0).select(col("vec_id")))
        graft.operators.VectorStore.compact(s, path)
        graft.operators.VectorStore.retain(path, keep = 2)
        new java.io.File(path, "_GRAFT_RETAINED").createNewFile()
      }
      val floorV = graft.operators.VectorStore.retentionFloor(path)
      val refused = (0L until floorV).count { v =>
        try { graft.operators.VectorStore.readAsOf(s, path, v); false }
        catch { case _: IllegalArgumentException => true }
      }
      val histDirs = Option(new java.io.File(path, "_history").listFiles())
        .getOrElse(Array.empty)
        .count(d => d.isDirectory && d.getName.forall(_.isDigit))
      (floorV to 3L).map { v =>
        graft.operators.VectorStore.readAsOf(s, path, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("vec_id")).as("sum_id"),
            sum(col("label")).as("sum_label"),
            sum(floor(col("embedding")(0).cast("double") * 1000000)
              .cast("long")).as("emb_fp"))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
        .withColumn("retain_floor", lit(floorV))
        .withColumn("n_refused_below_floor", lit(refused.toLong))
        .withColumn("n_history_dirs", lit(histDirs.toLong))
        .select(col("version"), col("n_rows"), col("sum_id"),
          col("sum_label"), col("emb_fp"), col("retain_floor"),
          col("n_refused_below_floor"), col("n_history_dirs"))
        .orderBy(col("version"))
    }),

    "q_vector_store_delete" -> ((s, dir) => {
      val path = stagedPath("vector_store_del_v1", dir)
      Staging.once(path)(Staging.written(path, "_GRAFT_DELETED")) {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(emb, col("embedding"), path)
        graft.operators.VectorStore.delete(s, path,
          emb.filter(col("vec_id") % 4 === 0).select(col("vec_id")))
        new java.io.File(path, "_GRAFT_DELETED").createNewFile()
      }
      val probe = graft.operators.VectorStore.queryL2(s, path, "embedding",
          "vec_id", QueryVec.values, 5)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
      val leftoverVictims = broadcast(s.read.parquet(path)
        .filter(col("vec_id") % 4 === 0)
        .agg(count(lit(1)).as("n_deleted_left")))
      probe.crossJoin(leftoverVictims)
        .orderBy(col("distance").asc, col("vec_id").asc)
    }),

    // Crash RECOVERY in the gate, through the LEGACY-intent roll-forward:
    // stage a delete the way the store's pre-Commit writers did (a
    // `__deleting` sibling stage dir plus a `_COMMIT` intent in their own
    // layout) and "die" right after logging it (zero buckets swapped);
    // VectorStore.recover hands the intent to tables.Commit, which rolls
    // it forward. The probe must equal a CLEAN delete's — the oracle is
    // the identical post-delete SQL, so a recovery that lost, duplicated,
    // or tore a bucket hash-mismatches.
    "q_vector_store_recover" -> ((s, dir) => {
      val path = stagedPath("vector_store_rec_v2", dir)
      Staging.once(path)(Staging.written(path, "_GRAFT_RECOVERED")) {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        import scala.jdk.CollectionConverters._
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorStore.write(emb, col("embedding"), path)
        val store = s.read.parquet(path)
        val victims = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
        val affected = store.join(victims, Seq("vec_id"), "left_semi")
          .select(col("bucket")).distinct().collect()
          .map(_.getInt(0)).toSeq.sorted
        val tmp = path + "__deleting"
        store.filter(col("bucket").isin(affected: _*))
          .join(victims, Seq("vec_id"), "left_anti")
          .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        affected.foreach { b =>
          val src = Paths.get(tmp, s"bucket=$b")
          if (!Files.exists(src)) Files.createDirectories(src)
        }
        val intentTmp = Paths.get(path, "_COMMIT_STAGING")
        Files.write(intentTmp,
          ("__deleting" +: "-" +: affected.map(_.toString)).asJava)
        Staging.atomicPublishFresh(
          intentTmp, Paths.get(path, "_COMMIT"))
        // the writer dies here: intent logged, nothing swapped yet
        graft.operators.VectorStore.recover(path)
        new java.io.File(path, "_GRAFT_RECOVERED").createNewFile()
      }
      val probe = graft.operators.VectorStore.queryL2(s, path, "embedding",
          "vec_id", QueryVec.values, 5)
        .select(col("vec_id"), col("label"), col("bucket"), col("distance"))
      val leftoverVictims = broadcast(s.read.parquet(path)
        .filter(col("vec_id") % 4 === 0)
        .agg(count(lit(1)).as("n_deleted_left")))
      probe.crossJoin(leftoverVictims)
        .orderBy(col("distance").asc, col("vec_id").asc)
    }),

    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir), col("doc_id"), col("text"))
        .select(col("keep_id").as("doc_id"), col("n_dups"))
        .orderBy(col("doc_id"))
    }),

    // ---- RAG / ingestion surface (reference E1-E3) ----

    // F7 embedding stage (rag.py:49): corpus → deterministic hash embedding.
    // Exploded to one scalar row per (doc, dimension) — the driver's compare
    // sorts rows in pandas, and raw array columns are unhashable there; this
    // shape still checks every embedding element exactly. No orderBy: the
    // compare is order-insensitive, and a global sort's range-partitioner
    // sampling pass would execute the whole embed a second time.
    "q_embed_docs" -> ((s, dir) => {
      Rag.embedCorpus(Tables.documents(s, dir), col("text"))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("val"))
    }),

    // The same embed stage routed through the BATCHED-inference boundary
    // (reference rag.py:27,49 — model.encode over a list IS a batch
    // call): mapPartitions buffers rows into fixed-size batches and
    // makes one scorer call per batch, the signature real serving
    // wrappers expose. The stand-in scorer is the deterministic
    // hash-embedding, so the oracle is IDENTICAL to q_embed_docs' —
    // certifying the batched path computes exactly what the codegen'd
    // expression path does; a real model slots in behind the same trait
    // with zero plan change (still one narrow stage — RagSpec asserts
    // the plan has no exchange).
    "q_embed_batched" -> ((s, dir) => {
      graft.operators.BatchedInference.embedBatched(
          Tables.documents(s, dir), "doc_id", "text",
          new graft.operators.BatchedInference.HashEmbedScorer(64),
          batchSize = 256)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("val"))
    }),

    // The FAULT-ISOLATING inference seam (embedBatchedSafe — per-row
    // error surfacing, batch-level failures bisected to the poison
    // row) on a healthy corpus: must be bit-identical to the strict
    // batched path AND the expression path, with zero error rows — the
    // failure modes themselves (poison row, dim mismatch, dropped row)
    // are crash-injected in RagSpec, where nondeterministic error text
    // belongs; the oracle certifies the healthy-path plumbing.
    "q_embed_batched_safe" -> ((s, dir) => {
      val out = graft.operators.BatchedInference.embedBatchedSafe(
          Tables.documents(s, dir), "doc_id", "text",
          new graft.operators.BatchedInference.HashEmbedScorer(64),
          batchSize = 64)
        .localCheckpoint()
      require(out.filter(col("embed_error").isNotNull).isEmpty,
        "a healthy corpus must produce zero per-row embed errors")
      out.select(col("doc_id"),
          posexplode(col("embedding")).as(Seq("pos", "val")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("val"))
    }),

    // The M2 GENERATION seam as an engine operator (reference
    // rag.py:126-166 — one POST per composed prompt to an external
    // LLM): prompts composed by the engine's own template stage
    // (Rag.promptOf over each doc as its context) routed through
    // BatchedInference.generateBatched — one generator call per
    // ≤batchSize prompts, the batching a real LLM client needs. The
    // stand-in generator is deterministic string arithmetic on the
    // prompt (extractive first-context-line answer), so the oracle
    // replays the batched generation path exactly; a real client slots
    // in behind the same trait with zero plan change.
    "q_generate_batched" -> ((s, dir) => {
      val prompts = Tables.documents(s, dir)
        .select(col("doc_id"),
          Rag.promptOf(col("text"), RagQuery).as("prompt"))
      graft.operators.BatchedInference.generateBatched(
          prompts, "doc_id", "prompt",
          new graft.operators.BatchedInference.ExtractiveGenerator(80),
          batchSize = 16)
        .select(col("doc_id"), col("completion"))
    }),

    // E3 retrieval (rag.py:65-90): embed query + corpus, exact KNN, join
    // back to metadata (the join the reference denormalizes away).
    "q_rag_topk" -> ((s, dir) => {
      val corpus = Rag.embedCorpus(Tables.documents(s, dir), col("text"))
      val topk = Rag.retrieve(corpus, col("doc_id"), RagQuery, 5)
        .select(col("doc_id").as("k_doc_id"), col("distance"))
      val docs = Tables.documents(s, dir)
      topk.join(broadcast(docs), topk("k_doc_id") === docs("doc_id"))
        .select(col("doc_id"), col("distance"), col("lang"), col("source"))
        .orderBy(col("distance"), col("doc_id"))
    }),

    // MMR diversity re-ranking between retrieval and context assembly:
    // top-20 candidates by exact KNN, then 5 greedy picks maximizing
    // 0.5·(−distance) − 0.5·(max dot-similarity to the already-picked
    // set). Near-duplicate hits stop crowding the context window. The
    // greedy loop only ever touches the 20-row candidate head (selected
    // rows broadcast per step); the corpus-scale work stays in the
    // retrieval stage. Oracle: identical unrolled greedy steps in SQL.
    "q_mmr" -> ((s, dir) => {
      val corpus = Rag.embedCorpus(Tables.documents(s, dir), col("text"))
      val cand = Rag.retrieve(corpus, col("doc_id"), RagQuery, 20)
        .select(col("doc_id"), col("embedding"), col("distance"))
      Rag.mmrSelect(cand, col("doc_id"), col("embedding"), col("distance"),
          k = 5, lambda = 0.5)
        .select(col("rnk"), col("id").as("doc_id"), col("dist"))
        .orderBy(col("rnk"))
    }),

    // E3 full pipeline (rag.py:169-196): intent route → retrieve → ordered
    // context assembly (A2, rag.py:189).
    "q_rag_context" -> ((s, dir) => {
      val corpus = Rag.embedCorpus(Tables.documents(s, dir), col("text"))
      Rag.ragQuery(corpus, col("doc_id"), col("text"), RagQuery, 5)
    }),

    // M2 response shaping (rag.py:136-141 strict-JSON contract) over the
    // retrieval result.
    "q_response_shape" -> ((s, dir) => {
      val corpus = Rag.embedCorpus(Tables.documents(s, dir), col("text"))
      Rag.retrieve(corpus, col("doc_id"), RagQuery, 5)
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(to_json(struct(
          concat(lit("Found "), size(col("ids")).cast("string"), lit(" documents")).as("response"),
          transform(col("ids"), x => x.cast("string")).as("products"),
          lit("Want more?").as("follow-up_question"))).as("json"))
    }),

    // Document chunking (overlapping token windows) — the RAG pre-embedding
    // stage for long documents; UDTF/explode shape.
    "q_chunk" -> ((s, dir) => {
      graft.operators.Chunker.chunk(
          Tables.documents(s, dir).filter(col("doc_id") % 20 === 0),
          col("doc_id"), col("text"), chunkSize = 20, stride = 10)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk"), col("chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Chunked RAG retrieval: chunk long docs → embed each chunk → KNN over
    // chunks — the standard long-document retrieval pipeline, end-to-end.
    "q_chunk_rag" -> ((s, dir) => {
      val chunks = graft.operators.Chunker.chunk(
          Tables.documents(s, dir).filter(col("doc_id") % 20 === 0),
          col("doc_id"), col("text"), chunkSize = 20, stride = 10)
        .withColumn("chunk_id", col("id") * 1000 + col("chunk_idx"))
      val corpus = Rag.embedCorpus(chunks, col("chunk"))
      Rag.retrieve(corpus, col("chunk_id"), RagQuery, 5)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_id"), col("distance"))
        .orderBy(col("distance"), col("chunk_id"))
    }),

    // M1 intent classifier distribution over the corpus.
    "q_intent_dist" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(TextFunctions.classifyIntent(col("text")).as("intent"))
        .groupBy(col("intent"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("intent"))
    }),

    // E2 product pipeline end-to-end (reference products_import.py:18-20 +
    // rag.py:40-59): stage a products CSV (S2 sink), scan it back with the
    // fixed 7-column schema (S1), template (F1), hash-embed (F7), and emit
    // one row per product with a fixed-point checksum of the full
    // embedding (floor(x·1e12) summed as long — checks all 64 elements
    // exactly in one value).
    "q_products_pipeline" -> ((s, dir) => {
      val csvPath = graft.operators.Products.stageProductsCsv(s, dir)
      graft.operators.Products.buildProductEmbeddings(Tables.productsCsv(s, csvPath))
        .select(col("product_id"), col("content"),
          aggregate(transform(col("embedding"),
              x => floor(x * lit(1000000000000.0)).cast("long")),
            lit(0L), (acc, v) => acc + v).as("emb_fp"))
        .orderBy(col("product_id"))
    }),

    // Quantized persisted vector store — both 100 TB levers at once: int8
    // codes (4x bandwidth, integer dot) in an LSH-bucket-partitioned
    // layout (multi-probe reads 5/16 of the store). One-time setup per sf
    // dir; the measured query is the pruned integer-dot top-k.
    "q_vector_store_quantized" -> ((s, dir) => {
      val path = stagedPath("vector_store_q8_v1", dir)
      Staging.once(path)(Staging.written(path)) {
        Tables.embeddings(s, dir)
          .withColumn("maxabs", Quantize.maxAbs(col("embedding")))
          .select(col("vec_id"), col("label"), col("maxabs"),
            Quantize.int8(col("embedding"), col("maxabs")).as("codes"),
            Ann.bucketOf(col("embedding"), 4, 64).as("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(path)
      }
      val (codes, qMaxAbs) = Quantize.quantizeQuery(QueryVec.values)
      val probes = Ann.probesOf(QueryVec.values, 4)
      s.read.parquet(path)
        .filter(col("bucket").isin(probes: _*))
        .withColumn("qdot", Quantize.qdot(col("codes"), codes))
        .withColumn("score",
          col("qdot").cast("double") * (col("maxabs") / lit(127.0)) * (lit(qMaxAbs) / lit(127.0)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("label"), col("bucket"), col("qdot"), col("score"))
    }),

    // F1 doc templating (rag.py:48) over the part table (products stand-in).
    "q_product_content" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"),
          TextFunctions.productContent(
            col("p_name"), col("p_type"), col("p_brand"), col("p_retailprice"),
            concat(lit("img-"), col("p_partkey").cast("string")),
            concat(lit("size "), col("p_size").cast("string"))).as("content"))
        .orderBy(col("p_partkey"))
    }),

    // E1 email ingest (email_fetching.py:41-51): MIME built in-query from
    // documents, parsed, text/plain-filtered, re-aggregated. The oracle is
    // the algebraic expectation (round-trip property).
    "q_mime_roundtrip" -> ((s, dir) => {
      val raw = concat(
        lit("Content-Type: multipart/mixed; boundary=\"b42\"\n\n--b42\nContent-Type: text/plain\n\n"),
        col("text"),
        lit("\n--b42\nContent-Type: text/html\n\n<b>ignore</b>\n--b42\nContent-Type: text/plain\n\ntail part\n--b42--\n"))
      val msgs = Tables.documents(s, dir).select(col("doc_id"), raw.as("raw"))
      Mime.ingest(msgs, col("doc_id"), col("raw"))
        .select(col("id").as("doc_id"), col("document"))
        .orderBy(col("doc_id"))
    }),

    // E1 email pipeline end-to-end (email_fetching.py:41-57 as ONE
    // composed pipeline): raw MIME built in-query → parse / text-plain
    // filter / re-agg (Mime.ingest) → hash-embed (Products.buildEmailTexts,
    // the store's implicit embedding made explicit) → one row per message
    // with the fixed-point checksum of all 64 embedding elements.
    "q_email_pipeline" -> ((s, dir) => {
      val raw = concat(
        lit("Content-Type: multipart/mixed; boundary=\"b42\"\n\n--b42\nContent-Type: text/plain\n\n"),
        col("text"),
        lit("\n--b42\nContent-Type: text/html\n\n<b>ignore</b>\n--b42\nContent-Type: text/plain\n\ntail part\n--b42--\n"))
      val msgs = Tables.documents(s, dir).select(col("doc_id").as("id"), raw.as("raw"))
      graft.operators.Products.buildEmailTexts(msgs)
        .select(col("id").as("doc_id"), col("document"),
          aggregate(transform(col("embedding"),
              x => floor(x * lit(1000000000000.0)).cast("long")),
            lit(0L), (acc, v) => acc + v).as("emb_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- Text analysis (north-star) ----

    // Language-ID heuristic vs the labeled lang column (confusion counts).
    "q_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // Quality-score histogram (deciles of the [0,1] score).
    "q_quality" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(floor(TextAnalysis.qualityScore(col("text")) * 10).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // Intra-document repetition ratio (fraction of duplicate 3-gram
    // shingles — the C4/Gopher-style repetition quality rule), bucketed
    // into deciles over the corpus plus planted self-repeated variants
    // (text doubled → ratio ≈ 0.5) so the filter separates classes.
    // Narrow per-row arithmetic, exactly-rounded.
    "q_repetition" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.select(col("text"))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select(concat(col("text"), lit(" "), col("text")).as("text")))
      corpus
        .select(floor(TextFunctions.repetitionRatio(col("text"), 3) * 10).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // The corpus-cleaning funnel — the composed preprocessing pipeline
    // every LLM data run fronts training with: language-ID gate →
    // quality-score gate → repetition gate → exact dedup, reported as
    // cumulative survivor counts per stage (the drop report data teams
    // audit). Planted pollution: doubled-text copies (caught by the
    // repetition gate) and verbatim copies (caught by dedup). One scan
    // computes every narrow flag; the only shuffle is the content-hash
    // distinct — which IS the dedup operator, on a uniform md5 key.
    "q_clean_funnel" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.select(col("doc_id").as("id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
        .unionAll(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("id"), col("text")))
      corpus.select(
          (TextAnalysis.langId(col("text")) =!= "und").as("p_lang"),
          (TextAnalysis.qualityScore(col("text")) >= 0.3).as("p_q"),
          (TextFunctions.repetitionRatio(col("text"), 3) < 0.3).as("p_rep"),
          md5(col("text")).as("ck"))
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("p_lang"), 1)).as("n_lang"),
          count(when(col("p_lang") && col("p_q"), 1)).as("n_quality"),
          count(when(col("p_lang") && col("p_q") && col("p_rep"), 1))
            .as("n_repetition"),
          count_distinct(
            when(col("p_lang") && col("p_q") && col("p_rep"), col("ck")))
            .as("n_unique"))
    }),

    // The full training-set build, end to end in ONE query: polluted
    // corpus → quality gates (lang-ID, quality score, repetition) →
    // exact dedup (keep min id per content hash) → stable train split →
    // sequence packing into 512-token bins. This is the complete 100 TB
    // story composed from the individual oracled operators: narrow gate
    // expressions, one content-hash shuffle, a hash split that never
    // moves data, and the per-shard packing window.
    "q_training_build" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.select(col("doc_id").as("id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
        .unionAll(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("id"), col("text")))
      val gated = corpus.filter(
        TextAnalysis.langId(col("text")) =!= "und" &&
          TextAnalysis.qualityScore(col("text")) >= 0.3 &&
          TextFunctions.repetitionRatio(col("text"), 3) < 0.3)
      val deduped = gated.groupBy(md5(col("text")).as("ck"))
        .agg(min(col("id")).as("id"), max(col("text")).as("text"))
      val train = deduped.filter(TrainData.hashSplit(col("id")) === "train")
      TrainData.packSequences(train, col("id"), col("text"),
          seqLen = 512L, shards = 4)
        .orderBy(col("shard"), col("bin"))
    }),

    // The FULL corpus-build mega-pipeline — every stage of a real
    // training-data run composed into ONE declared query whose final
    // shard manifest is hash-oracled: polluted corpus → quality gates →
    // exact dedup (min-id keeper per content hash) → NEAR-dedup apply
    // (capped MinHash+LSH pairs → connected components → keep cluster
    // keepers only) → stable hash split (group-safe by construction:
    // survivors are their cluster's keeper, so a cluster can never
    // straddle splits) → decontamination (train docs sharing ≥5
    // df-capped shingles with the test split are dropped) → model-based
    // quality filter (the q_lr_quality classifier trained IN THE ENGINE,
    // its integer weights applied to every surviving train doc, keep
    // score strictly above the surviving corpus's mean — a RELATIVE
    // cutoff, exact in integers as p·n > Σp: the trained model here is a
    // majority-class-leaning scorer whose absolute probabilities sit
    // below ½, and real pipelines prune by score percentile anyway) →
    // 512-token sequence packing → per-shard export manifest.
    // Proves the operators COMPOSE, not just pass in isolation; the
    // oracle replays the entire chain (including the LR training) in SQL.
    // Scale shape: each stage is the already-audited operator — narrow
    // gates, one content-hash shuffle, banded LSH (never all-pairs),
    // fixed-point CC on the tiny pair graph, one shingle-keyed decon
    // join, broadcast-class weights, one pack window per shard.
    "q_corpus_build" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // PLANTED CONTAMINATION: docs in split-hash buckets {0,1} (train
      // side) and {90,91} (test side) carry a shared 8-token leak suffix
      // whose 6 interior 3-gram shingles exceed minShared=5 — so the
      // decon stage provably drops the train members (an empty contam
      // set would make a mis-wired decon stage invisible to the oracle).
      // Keying the family off the split hash itself guarantees members
      // on BOTH sides of the split at any corpus size; ~4% of docs keeps
      // the family under the df-50 cap at verification scale.
      val lb = TrainData.hashBucket(col("doc_id"))
      val base = d.select(col("doc_id").as("id"),
        when(lb < 2 || (lb >= 90 && lb < 92),
          concat(col("text"),
            lit(" leak alpha beta gamma delta epsilon zeta eta")))
          .otherwise(col("text")).as("text"))
      val corpus = base
        .unionAll(base.filter(col("id") % 10 === 0)
          .select((col("id") + 100000).as("id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
        .unionAll(base.filter(col("id") % 7 === 0)
          .select((col("id") + 200000).as("id"), col("text")))
      val gated = corpus.filter(
        TextAnalysis.langId(col("text")) =!= "und" &&
          TextAnalysis.qualityScore(col("text")) >= 0.3 &&
          TextFunctions.repetitionRatio(col("text"), 3) < 0.3)
      // pinned: consumed by the pair miner, the keeper filter, the
      // decon shingle sides and the feature scorer
      val deduped = gated.groupBy(md5(col("text")).as("ck"))
        .agg(min(col("id")).as("id"), max(col("text")).as("text"))
        .select(col("id"), col("text"))
        .localCheckpoint()
      val pairs = Dedup.minhashPairs(deduped, col("id"), col("text"),
          maxBucket = 50)
        .select(col("a_id"), col("b_id"))
      val nonKeepers = Dedup.connectedComponents(pairs)
        .filter(col("comp") =!= col("id")).select(col("id"))
      val kept = deduped.join(nonKeepers, Seq("id"), "left_anti")
        .withColumn("split", TrainData.hashSplit(col("id")))
      val train = kept.filter(col("split") === "train")
        .select(col("id"), col("text"))
      val test = kept.filter(col("split") === "test")
        .select(col("id"), col("text"))
      def shSide(df: DataFrame, side: String) =
        df.select(col("id").as(side + "_id"),
          explode(TextFunctions.shingles(col("text"), 3, distinct = true))
            .as("sh"))
      val contaminated = Dedup.crossOverlapFromShingles(
          shSide(train, "train"), shSide(test, "test"),
          minShared = 5, maxDf = 50)
        .select(col("train_id").as("id")).distinct()
      // decon feeds BOTH the scorer and the final cutoff semi-join, so
      // the decontamination subtree computes twice — a lineage cut here
      // was built and A/B'd (r21): NEUTRAL at sf0.1 (solo-subset
      // min-of-2: 9.67/9.69 s pinned vs 9.81/8.31/9.81 unpinned — inside
      // the noise band), because the AQE-coalesced recompute is a few
      // hundred ms while the pin adds an eager corpus-sized
      // materialization. Left unpinned: at 100 TB the right cut is a
      // durable stage (Stage.Parquet discipline), not an executor-memory
      // pin of the near-full train corpus (guide §5).
      val decon = train.join(contaminated, Seq("id"), "left_anti")
      // trained weights: four fp3 scalars off the driver — model
      // broadcast, the same budget class as any dimension table
      val wRow = TrainData.lrQualityTrain(d, col("doc_id"), col("text"),
        col("lang") === "en", steps = 3).head()
      val weights = (0 to 3).map(wRow.getLong)
      // (id, p_fp) only — pinned because the score feeds both the mean
      // aggregate and the filter
      val scored = TrainData.lrQualityScore(decon, col("id"), col("text"),
        weights).localCheckpoint()
      val scStats = scored.agg(count(lit(1)).as("n_sc"),
        sum(col("p_fp")).as("sum_sc"))
      val qual = decon.join(
        scored.crossJoin(broadcast(scStats))
          .filter(col("p_fp") * col("n_sc") > col("sum_sc"))
          .select(col("id")),
        Seq("id"), "left_semi")
      TrainData.packSequences(qual, col("id"), col("text"),
          seqLen = 512L, shards = 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
          sum(col("sum_tokens")).as("sum_tokens"),
          min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"))
        .orderBy(col("shard"))
    }),

    // BPE-ish sub-word token counting, aggregated per source.
    "q_token_bpe" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.bpeTokenCount(col("text"))).as("sum_bpe"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    }),

    // Rolling-hash document fingerprints.
    "q_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint32(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // JSON property extraction (events.props) + aggregation.
    "q_events_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .orderBy(col("event_type"))
    }),

    // Key-skew diagnostic: the exact hot-key profile of events.user_id —
    // the measurement that decides whether a join on this key needs
    // salting (Skew.saltedJoin) before it runs. Single-pass argmax, no
    // window, map-side partials absorb the hot keys themselves.
    "q_skew_report" -> ((s, dir) => {
      graft.operators.Skew.skewReport(Tables.events(s, dir), col("user_id"))
    }),

    // MapType surface: build a per-user event_type -> count map via
    // map_from_entries over a collected entry list, prune it with the
    // map_filter higher-order function, and explode it back to rows —
    // construction, HOF filtering, and explosion round-trip through the
    // engine's map representation (a dropped or duplicated entry would
    // change the counts); the declared output stays primitive columns.
    "q_map_ops" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(collect_list(struct(col("event_type"), col("n"))))
          .as("m"))
        .select(col("user_id"),
          explode(map_filter(col("m"), (_, v) => v >= 2))
            .as(Seq("event_type", "n")))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Corrupt-record handling (PERMISSIVE + columnNameOfCorruptRecord):
    // every 7th props is broken in-query; unparseable input lands in the
    // quarantine column instead of failing the job, and the query counts
    // quarantined vs clean rows — the ingest-robustness contract a
    // 100 TB pipeline needs (one bad record must never kill a 6-hour
    // job, and bad records must be auditable, not dropped).
    "q_json_corrupt" -> ((s, dir) => {
      val broken = when(col("event_id") % 7 === 0,
        concat(lit("xx"), col("props"))).otherwise(col("props"))
      val schema = StructType(Seq(StructField("k", IntegerType),
        StructField("_corrupt_record", StringType)))
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(broken, schema,
            Map("columnNameOfCorruptRecord" -> "_corrupt_record")).as("p"))
        .select(col("event_type"),
          col("p").getField("_corrupt_record").isNotNull.as("corrupt"),
          col("p").getField("k").as("k"))
        .groupBy(col("event_type"), col("corrupt"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("k"), lit(0))).cast("long").as("sum_k"))
        .orderBy(col("event_type"), col("corrupt"))
    }),

    // Tumbling 1-hour window aggregation (batch twin of the streaming path).
    "q_window_hourly" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("hour_bucket", expr("ts div 3600000000000"))
        .groupBy(col("hour_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec12)).cast("double").as("sum_value"))
        .orderBy(col("hour_bucket"))
    }),

    // As-of join: latest order at-or-before each event, per user (composed
    // from join + window — preference (a) of the custom-operator ladder).
    "q_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .filter(col("event_id") % 100 === 0)
        .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          // parquet millis → TIMESTAMP_NTZ; cast to LTZ (UTC session) for unix_micros
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("o_us").desc, col("o_orderkey").asc)
      ev.join(ord, col("user_id") === col("o_custkey") && col("o_us") <= col("ts_us"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("o_orderkey"), col("o_us"))
        .orderBy(col("event_id"))
    }),

    // Custom-operator as-of join (graft.plans.AsOfJoinExec): left-outer,
    // one merge pass per partition — same semantics as the compositional
    // q_asof_join but with no match fan-out.
    "q_asof_custom" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_id") % 100 === 0)
        .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      graft.plans.AsOf.join(ev, "user_id", "ts_us", ord, "o_custkey", "o_us", "o_orderkey")
        .select(col("event_id"), col("ts_us"), col("user_id"), col("o_orderkey"), col("o_us"))
        .orderBy(col("event_id"))
    }),

    // Forward-direction as-of with a tolerance window (merge_asof
    // completeness on the same custom exec): for each event, the NEXT
    // order by the same user within 90 days — misses null out.
    "q_asof_forward" -> ((s, dir) => {
      val tol = 90L * 24 * 3600 * 1000000
      val ev = Tables.events(s, dir)
        .filter(col("event_id") % 100 === 0)
        .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      graft.plans.AsOf.join(ev, "user_id", "ts_us", ord, "o_custkey", "o_us",
          "o_orderkey", direction = "forward", toleranceUs = tol)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("o_orderkey"), col("o_us"))
        .orderBy(col("event_id"))
    }),

    // Set ops: heavy-error users EXCEPT heavy-purchase users (thresholded so
    // the result is non-trivial — every user has every event type).
    "q_set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def heavy(t: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 14).select(col("user_id"))
      heavy("error").except(heavy("purchase")).orderBy(col("user_id"))
    }),

    // Multiset (ALL-variant) set ops: per-event user_id bags — EXCEPT ALL
    // keeps multiplicity differences, INTERSECT ALL keeps the min
    // multiplicity. Aggregated per user so the result has a stable key.
    "q_except_all" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def bag(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
      bag("view").exceptAll(bag("click"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_surplus"))
        .orderBy(col("user_id"))
    }),

    "q_intersect_all" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def bag(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
      bag("view").intersectAll(bag("click"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_common"))
        .orderBy(col("user_id"))
    }),

    // Set ops, intersect side: users heavy in BOTH error and purchase
    // events (completes the §2.6 trio with q_set_ops' EXCEPT and
    // dedup_exact's DISTINCT).
    "q_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def heavy(t: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 14).select(col("user_id"))
      heavy("error").intersect(heavy("purchase")).orderBy(col("user_id"))
    }),

    // Unpivot (melt): wide metric columns to (metric, value) rows, then
    // a per-metric aggregate — the inverse of q_pivot.
    "q_unpivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec12)).cast("double").as("sum_value"))
        .orderBy(col("metric"))
    }),

    // JDBC source/sink parity (S2 — the reference's Postgres bulk-load +
    // per-query reads, graft.sources.Jdbc over embedded Derby): the
    // documents table is bulk-loaded ONCE through the batched JDBC sink,
    // then read back as a RANGE-PARTITIONED scan (4 concurrent key-range
    // connections — never the single-pipe whole-table read). Column
    // pruning and pushable predicates land in the per-range SQL (the
    // plan's JDBCRelation shows the generated SELECT; the modulo filter
    // itself is not JDBC-pushable and evaluates Spark-side). The
    // aggregation runs over the JDBC rows; the oracle replays it over
    // the parquet table, so load + read-back must round-trip every row
    // and char length exactly.
    "q_jdbc_roundtrip" -> ((s, dir) => {
      graft.sources.Jdbc.readTable(s, jdbcDocsUrl(s, dir), "documents",
          "doc_id", 0L, 100000L, 4)
        .filter(col("doc_id") % 2 === 0)
        .groupBy(pmod(col("doc_id"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text")).cast("long")).as("sum_len"),
          sum(col("doc_id")).as("sum_id"))
        .orderBy(col("bucket"))
    }),

    // Calendar decomposition (date functions surface): orders per
    // year x quarter with exact DECIMAL revenue.
    "q_date_parts" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec12)).cast("double").as("sum_price"))
        .orderBy(col("yr"), col("qtr"))
    }),

    // REAL multimodal decode: synthesize valid PNG / GIF / BMP container
    // headers (planted per-doc dimensions, document text as the payload
    // body) with declarative hex arithmetic, then parse magic + pixel
    // dimensions BACK out of the raw bytes in Multimodal.decodeBatch —
    // independent JVM byte arithmetic, no codec library. The oracle
    // builds the same blobs in DuckDB and parses them back out of the
    // hex, so a wrong endianness / offset on either side hash-fails.
    "q_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val w = (lit(16L) + col("doc_id") % 240).cast("int")
      val h = (lit(16L) + (col("doc_id") * 3) % 240).cast("int")
      val payload = encode(col("text"), "UTF-8")
      val bytes = when(col("doc_id") % 3 === 0, Multimodal.pngBytes(w, h, payload))
        .when(col("doc_id") % 3 === 1, Multimodal.gifBytes(w, h, payload))
        .otherwise(Multimodal.bmpBytes(w, h, payload))
      val media = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), lit("image").as("kind"),
          bytes.as("bytes"))
        .as[Multimodal.MediaRow]
      Multimodal.decode(media).toDF()
        .select(col("id").as("doc_id"), col("magic"), col("byte_len"),
          col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),

    // Perceptual-hash image fingerprints (Multimodal.dhash): the corpus
    // is REAL uncompressed 24-bpp BMPs (full 54-byte header + bottom-up
    // padded BGR rows, built with declarative hex arithmetic from a
    // deterministic pixel formula); the Spark side PARSES the raw bytes
    // (offset/stride/bpp/row-order honored), grayscales, area-averages
    // to the 9×8 dHash grid and emits the 64-bit gradient fingerprint —
    // while the oracle computes the same fingerprint ARITHMETICALLY from
    // the pixel formula, never touching bytes. Two independent paths to
    // the same 64 bits: any parse bug (endianness, stride, row order,
    // block mean) hash-fails. Mixed sizes prove the resize: even src ids
    // are 9×8 (identity), odd are 18×16 (2×2 block means). fp is emitted
    // as (hi, lo) 32-bit halves so the oracle's bit sums stay in BIGINT.
    "q_image_dhash" -> ((s, dir) => {
      imageCorpus(s, dir)
        .select(col("img_id"), Multimodal.dhash(col("bytes")).as("fp"))
        .select(col("img_id"),
          shiftrightunsigned(col("fp"), 32).as("fp_hi"),
          col("fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
        .orderBy(col("img_id"))
    }),

    // IMAGE near-dup dedup (multimodal × dedup): planted near-identical
    // twins (one pixel perturbed — at most one gradient bit flips) must
    // surface from the banded Hamming join over the dHash fingerprints
    // (Dedup.dhashPairs — 4×16-bit bands, pigeonhole-complete to
    // hamming ≤ 3, hot-bucket capped). Candidates are found BY
    // fingerprint band, never by an O(n²) comparison or planted-id
    // knowledge; the oracle replays fingerprints, banding, cap and the
    // exact Hamming filter.
    "q_image_neardup" -> ((s, dir) => {
      val fps = imageCorpus(s, dir)
        .select(col("img_id").as("id"), Multimodal.dhash(col("bytes")).as("fp"))
        .localCheckpoint()
      Dedup.dhashPairs(fps, numBands = 4, maxHamming = 3, maxBucket = 50)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // REAL audio decode + frame-level feature extraction: the corpus is
    // valid mono 16-bit PCM WAVs (RIFF/fmt/data built with declarative
    // hex arithmetic from a deterministic sample formula); the Spark
    // side PARSES the bytes (chunk walk, LE two's-complement samples —
    // graft.expressions.WavSamples) and then computes per-16-sample-
    // frame features DECLARATIVELY (energy Σs², zero crossings, peak —
    // exact integer aggregates over the sample array), while the oracle
    // computes the same features ARITHMETICALLY from the formula, never
    // touching bytes. Two independent routes to the same integers: any
    // parse bug (chunk offsets, sign extension, sample order) hash-fails.
    "q_audio_features" -> ((s, dir) => {
      val withSm = audioCorpus(s, dir)
        .select(col("clip_id"), Multimodal.wavSamples(col("bytes")).as("sm"))
      val nFrames = ceil(size(col("sm")).cast("double") / 16.0).cast("int")
      withSm
        .select(col("clip_id"), col("sm"),
          explode(sequence(lit(0), nFrames - 1)).as("frame"))
        .select(col("clip_id"), col("frame"),
          slice(col("sm"), col("frame") * 16 + 1, lit(16)).as("sub"))
        .select(col("clip_id"), col("frame").cast("long").as("frame"),
          size(col("sub")).cast("long").as("n"),
          aggregate(col("sub"), lit(0L), (acc, x) => acc + x * x).as("sumsq"),
          aggregate(zip_with(
              slice(col("sub"), lit(1), size(col("sub")) - 1),
              slice(col("sub"), lit(2), size(col("sub")) - 1),
              (a, b) => when(a * b < 0, lit(1L)).otherwise(lit(0L))),
            lit(0L), (acc, x) => acc + x).as("n_zc"),
          array_max(transform(col("sub"), x => abs(x))).as("peak"))
        .orderBy(col("clip_id"), col("frame"))
    }),

    // AUDIO near-dup dedup (multimodal × dedup, the q_image_neardup
    // recipe one modality over): real WAV decode (WavSamples byte
    // parse) → 64-bit ENVELOPE-GRADIENT fingerprint (64 time-scaled
    // energy windows over the sample array — the Haitsma-Kalker
    // audio-fingerprint shape in miniature; bit k = e_k > e_{k-1},
    // computed declaratively with array HOFs) → the SAME banded Hamming
    // equi-join that mines image/text fingerprints
    // (Dedup.hammingPairsFromFingerprints — 4×16-bit bands, pigeonhole-
    // complete to hamming ≤ 3, hot-bucket capped, never a cartesian).
    // Planted sample-perturbed twin clips must surface BY BAND; the
    // oracle computes fingerprints ARITHMETICALLY from the sample
    // formula (never touching bytes) and replays banding, cap and the
    // exact Hamming filter — two independent routes to the same pairs.
    "q_audio_neardup" -> ((s, dir) => {
      val fps = audioNearDupCorpus(s, dir)
        .select(col("clip_id").as("id"),
          Multimodal.wavSamples(col("bytes")).as("sm"))
        .withColumn("n", size(col("sm")))
        .withColumn("en", expr(
          "transform(sequence(0, 63), k -> aggregate(" +
            "slice(sm, CAST(k*n DIV 64 AS INT) + 1, " +
            "CAST((k+1)*n DIV 64 - k*n DIV 64 AS INT)), " +
            "0L, (acc, x) -> acc + CAST(x AS BIGINT) * CAST(x AS BIGINT)))"))
        .withColumn("fp", expr(
          "aggregate(sequence(1, 63), 0L, (acc, k) -> acc + " +
            "CASE WHEN en[k] > en[k-1] THEN shiftleft(1L, CAST(k AS INT)) " +
            "ELSE 0L END)"))
        .select(col("id"), col("fp"))
        .localCheckpoint()
      Dedup.hammingPairsFromFingerprints(fps, 64, numBands = 4,
          maxHamming = 3, maxBucket = 50)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // REAL video decode + per-frame fingerprinting: the corpus is valid
    // YUV4MPEG2 streams (ASCII header, FRAME markers, raw planar
    // pictures — mixed Cmono 9×8 and C420 18×16 so both the identity
    // grid and the 2×2 block-mean resize AND the chroma-plane stride
    // are oracle-exercised); the Spark side PARSES the bytes (header
    // token walk, frame iteration, luma slice —
    // graft.expressions.Y4mLuma) and then computes per-frame 9×8-grid
    // gradient fingerprints DECLARATIVELY (exact integer arithmetic
    // over the pixel arrays), while the oracle computes the same
    // fingerprints ARITHMETICALLY from the pixel formula, never
    // touching bytes. Two independent routes to the same 64 bits: any
    // parse bug (frame stride, chroma skip, row order, block mean)
    // hash-fails. fp is emitted as (hi, lo) 32-bit halves so the
    // oracle's bit sums stay in BIGINT.
    "q_video_decode" -> ((s, dir) => {
      videoNearDupCorpus(s, dir)
        .select(col("vid_id"), Multimodal.y4mLuma(col("bytes")).as("yv"))
        .select(col("vid_id"), col("yv.w").as("w"),
          posexplode(col("yv.frames")).as(Seq("frame", "fr")))
        .withColumn("g", expr(VideoGridSql))
        .select(col("vid_id"), col("frame").cast("long").as("frame"),
          expr(VideoFpSql).as("fp"))
        .select(col("vid_id"), col("frame"),
          shiftrightunsigned(col("fp"), 32).as("fp_hi"),
          col("fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
        .orderBy(col("vid_id"), col("frame"))
    }),

    // CHUNKED video decode (the long-video shape at 100 TB: a frame
    // window fans out as (vid, chunk) rows and each task decodes ONLY
    // its window — Y4mLuma(frameFrom, maxFrames) walks earlier frames
    // marker-by-marker without materializing them and stops reading at
    // the window's end, so per-row memory is bounded by the window, not
    // the stream). Frames [1, 3) of every corpus video; fingerprints of
    // the chunk must equal the same frames of the FULL decode — the
    // oracle is q_video_decode's arithmetic replay restricted to
    // 1 <= t < 3.
    "q_video_chunk" -> ((s, dir) => {
      videoNearDupCorpus(s, dir)
        .select(col("vid_id"),
          Multimodal.y4mLuma(col("bytes"), frameFrom = 1, maxFrames = 2)
            .as("yv"))
        .select(col("vid_id"), col("yv.w").as("w"),
          posexplode(col("yv.frames")).as(Seq("frame", "fr")))
        .withColumn("g", expr(VideoGridSql))
        .select(col("vid_id"), (col("frame") + 1).cast("long").as("frame"),
          expr(VideoFpSql).as("fp"))
        .select(col("vid_id"), col("frame"),
          shiftrightunsigned(col("fp"), 32).as("fp_hi"),
          col("fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
        .orderBy(col("vid_id"), col("frame"))
    }),

    // VIDEO near-dup dedup (multimodal × dedup, the q_image_neardup
    // recipe one modality over): real Y4M decode (Y4mLuma byte parse)
    // → TEMPORAL-SUM frame (pixel-wise Σ over frames — gradient
    // comparisons over sums equal comparisons over the temporal mean,
    // exactly, since every pixel of a video shares the frame count) →
    // 9×8 grid → 64-bit gradient fingerprint → the SAME banded Hamming
    // equi-join that mines image/audio/text fingerprints
    // (Dedup.hammingPairsFromFingerprints — 4×16-bit bands, pigeonhole-
    // complete to hamming ≤ 3, hot-bucket capped, never a cartesian).
    // Planted one-pixel-bumped twin videos (≤ 2 gradient bits move)
    // must surface BY BAND; the oracle computes fingerprints
    // ARITHMETICALLY from the pixel formula and replays banding, cap
    // and the exact Hamming filter.
    "q_video_neardup" -> ((s, dir) => {
      val fps = videoNearDupCorpus(s, dir)
        .select(col("vid_id").as("id"), Multimodal.y4mLuma(col("bytes")).as("yv"))
        .select(col("id"), col("yv.w").as("w"),
          expr("aggregate(slice(yv.frames, 2, size(yv.frames) - 1), " +
            "yv.frames[0], (acc, f) -> zip_with(acc, f, (a, b) -> a + b))")
            .as("fr"))
        .withColumn("g", expr(VideoGridSql))
        .select(col("id"), expr(VideoFpSql).as("fp"))
        .localCheckpoint()
      Dedup.hammingPairsFromFingerprints(fps, 64, numBands = 4,
          maxHamming = 3, maxBucket = 50)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Frame sampling over ingest-supplied container metadata (every 2nd
    // frame index): frame COUNT is metadata a container scan provides;
    // extracting frame images is the codec boundary (decodeBatch).
    "q_frame_sample" -> ((s, dir) => {
      val vids = Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id").as("id"),
          (lit(1L) + length(encode(col("text"), "UTF-8")).cast("long") % 7)
            .as("n_frames"))
      Multimodal.sampleFrames(vids, stride = 2)
        .select(col("id"), explode(col("frame_idx")).as("frame"))
        .orderBy(col("id"), col("frame"))
    }),

    "text_stats" -> ((s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      val nTok = when(length(trim(col("text"))) === 0, lit(0))
        .otherwise(size(toks)).cast("long")
      val stops = size(filter(toks,
        w => w.isin("the", "a", "of", "and", "to", "in"))).cast("long")
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nTok).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          sum(stops).as("sum_stop"))
        .withColumn("avg_tokens", col("sum_tokens").cast("double") / col("n_docs"))
        .orderBy(col("lang"))
    }),

    // ---- Training-data pipeline (round 3) ----

    // Vocabulary build: token + document frequency, most-frequent first.
    // Map-side partial counts absorb the Zipf head before the shuffle.
    "q_vocab" -> ((s, dir) => {
      TrainData.vocab(Tables.documents(s, dir), col("doc_id"), col("text"),
          minTf = 2L, topN = 100)
        .orderBy(col("tf").desc, col("tok").asc)
    }),

    // BPE merge-candidate mining: corpus-wide adjacent-token-pair counts,
    // top 20 — the statistic one training round of a BPE tokenizer
    // maximizes over. Narrow self-zip explode + one count aggregation.
    "q_bigrams" -> ((s, dir) => {
      TrainData.bigrams(Tables.documents(s, dir), col("text"), topN = 20)
    }),

    // FULL distributed BPE tokenizer training (Sennrich 2016): 6 merge
    // rounds learned from the corpus. The corpus shuffles once into a
    // word-frequency relation; every round after that is an explode +
    // keyed aggregation over the VOCABULARY plus a 1-row argmax collect,
    // and the merge applies as a codegen'd fold over each word's symbol
    // array. The oracle unrolls the same 6 rounds in SQL (greedy
    // non-overlapping application via run-parity windows), so the hash
    // certifies the exact learned rule sequence, counts included.
    "q_bpe_train" -> ((s, dir) => {
      val (merges, _) = Bpe.train(Tables.documents(s, dir), col("text"), 6)
      s.createDataFrame(merges)
        .select(col("rank"), col("lhs"), col("rhs"), col("cnt"))
        .orderBy(col("rank"))
    }),

    // Encode with the learned tokenizer: the final vocabulary relation
    // carries each word's subword segmentation, so encoding the corpus is
    // a word-keyed join — no per-document re-segmentation. Output:
    // per-source word and subword totals (the compression the 6 rules buy).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (_, vocab) = Bpe.train(docs, col("text"), 6)
      val enc = vocab.select(col("word"),
        size(col("syms")).cast("long").as("n_sub"))
      docs.select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("word"))
        .join(enc, "word")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
        .orderBy(col("source"))
    }),

    // Unigram-LM quality proxy (the classic cheap pretraining filter):
    // per-doc integer-scaled mean corpus term frequency — log-free so
    // both engines replay the exact integers. Rare-token-heavy docs
    // (gibberish) score low; the declared output is every doc's score.
    "q_unigram_lm" -> ((s, dir) => {
      TrainData.unigramLmScore(Tables.documents(s, dir), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }),

    // Lexical diversity (TrainData.lexicalDiversity): Gini–Simpson index
    // in exact integer fixed point — the log-free entropy surrogate.
    // Catches the one-token-repeated pathology that keeps its LM scores
    // (a corpus-frequent token repeated 500× scores HIGH on unigram
    // likelihood and near 0 here).
    "q_lexical_diversity" -> ((s, dir) => {
      TrainData.lexicalDiversity(Tables.documents(s, dir), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }),

    // Bigram-LM fluency (TrainData.bigramLmScore): average conditional
    // bigram likelihood in exact integer fixed point — the curation
    // signal unigram frequency misses (shuffled text keeps its unigram
    // score, loses this one). No log anywhere, so the score itself is
    // hash-checked, not a tolerance band.
    "q_bigram_lm" -> ((s, dir) => {
      TrainData.bigramLmScore(Tables.documents(s, dir), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }),

    // CCNet-style perplexity bucketing (TrainData.perplexityBuckets):
    // every doc scored against the reference LM trained on the trusted
    // slice (lang='en'), corpus split into tail/middle/head thirds via
    // HISTOGRAM quantiles (256 equal-width cells, cumulative over the
    // fixed-cardinality cell relation) — no global sort anywhere. Low
    // score = far from reference = high perplexity = tail.
    "q_perplexity_buckets" -> ((s, dir) => {
      TrainData.perplexityBuckets(Tables.documents(s, dir), col("doc_id"),
        col("text"), col("lang") === "en")
    }),

    // Model-based quality filtering (TrainData.lrQualityTrain): a
    // logistic-regression quality classifier trained IN THE ENGINE by 3
    // full-batch gradient steps — hard-sigmoid link and integer
    // fixed-point throughout, so the trained weights and accuracy are
    // hash-checked against the oracle's unrolled replay, not a
    // tolerance band. Label: lang='en'; features: saturated length,
    // stopword density, mean token length.
    "q_lr_quality" -> ((s, dir) => {
      TrainData.lrQualityTrain(Tables.documents(s, dir), col("doc_id"),
        col("text"), col("lang") === "en", steps = 3)
    }),

    // Shard-manifest export planner: the WebDataset/Arrow-shard layout
    // step of a corpus export — documents route to 8 shards by the
    // seedless multiplicative hash (stable under corpus growth), the
    // manifest is per-shard row/token/byte totals plus id bounds. One
    // narrow projection + one 8-group aggregation at any corpus size;
    // the manifest IS the export plan (each shard = one writer task).
    // Routing hashes DIRECTLY into 8 (TrainData.shardOf), not through
    // the [0,100) bucket — 100 % 8 ≠ 0 would skew shards 0-3 by ~8%.
    "q_shard_manifest" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(TrainData.shardOf(col("doc_id"), 8).cast("long").as("shard"),
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("shard"))
    }),

    // Deterministic token-budget sampling (TrainData.tokenBudgetSample):
    // the exact hash-order prefix of the corpus that first reaches 2000
    // training tokens — two-level prefix sum (256 fixed hash buckets +
    // bucket-partitioned windows), so no global sort at any corpus size.
    // Declared output: per-source kept-doc counts and token totals.
    "q_token_budget" -> ((s, dir) => {
      TrainData.tokenBudgetSample(Tables.documents(s, dir), col("doc_id"),
          col("text"), budget = 2000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tok_kept"))
        .orderBy(col("source"))
    }),

    // N-gram novelty (TrainData.noveltyScore): per-doc fraction of
    // distinct 3-gram shingles occurring in no other document — the
    // originality/memorization screen complementing the near-dup family.
    "q_novelty" -> ((s, dir) => {
      TrainData.noveltyFromShingleArrays(docShingles(s, dir))
        .orderBy(col("id"))
    }),

    // Corpus drift by source: truncated chi-square of each source's
    // token distribution against the corpus over the top-20 vocabulary,
    // in exact integer fixed point (expected counts fp3-truncated, no
    // libm) — the distribution-shift monitor a multi-source ingest
    // pipeline alerts on. Missing (source, token) pairs contribute their
    // full expected mass via the vocab×source grid (sources × 20 rows —
    // broadcast-sized by construction).
    "q_source_drift" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val srcTot = toks.groupBy(col("source")).agg(count(lit(1)).as("s_tot"))
      val corpusTot = srcTot.agg(sum(col("s_tot")).as("c_tot"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok").asc).limit(20)
      val obs = toks.join(broadcast(vocab.select(col("tok"))), "tok")
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("obs"))
      val grid = srcTot.crossJoin(broadcast(vocab))
        .join(obs, Seq("source", "tok"), "left")
        .crossJoin(broadcast(corpusTot))
        .withColumn("exp_fp", expr("tf * s_tot * 1000L DIV c_tot"))
        .withColumn("o_fp", coalesce(col("obs"), lit(0L)) * lit(1000L))
        .withColumn("chi_fp", expr(
          "CASE WHEN exp_fp > 0 THEN (o_fp - exp_fp) * (o_fp - exp_fp) DIV (exp_fp * 1000L) ELSE 0L END"))
      grid.groupBy(col("source"))
        .agg(max(col("s_tot")).as("n_toks"), sum(col("chi_fp")).as("chi2_fp"))
        .orderBy(col("source"))
    }),

    // PII scrubbing (the redaction pass a shareable corpus needs): plant
    // a deterministic email + phone per document, redact both with
    // RE2-safe patterns (identical under Java regex and DuckDB RE2), and
    // emit audit counts plus an md5 of the scrubbed text — the full
    // redaction is hash-checked, not sampled. Narrow per-row regex,
    // codegen'd, zero shuffle at any corpus size.
    "q_pii_scrub" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com or ("),
            lpad((col("doc_id") % 800).cast("string"), 3, "0"),
            lit(") 123-"),
            lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"))
            .as("text"))
      TrainData.piiScrub(docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          length(col("clean")).cast("long").as("clean_len"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // C4-style boilerplate line removal: a planted universal footer and a
    // 7-way group footer exceed the dfCap=50 document-frequency cap and
    // drop from every doc; the original text line and a planted 250-way
    // rare note stay (df 1 and 2/20) — both paths exercised at sf0.01 AND
    // sf0.1. The boilerplate set is heavy hitters by construction, so it
    // broadcasts back as a membership filter; the corpus is exploded to
    // lines exactly once for the df count, never re-shuffled.
    "q_boilerplate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat_ws("\n", col("text"),
            lit("Subscribe to our newsletter"),
            concat(lit("Group footer "), (col("doc_id") % 7).cast("string")),
            concat(lit("Rare note "), (col("doc_id") % 250).cast("string")))
            .as("text"))
      TrainData.dropBoilerplate(docs, col("doc_id"), col("text"), dfCap = 50)
        .select(col("id").as("doc_id"),
          col("n_kept").cast("long").as("n_kept"),
          col("n_dropped").cast("long").as("n_dropped"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // The composed corpus-cleaning pipeline — the training-data path end
    // to end in ONE declared unit: PII scrub → boilerplate line removal →
    // token-count quality gate → stable hash split, summarized per split
    // with an order-independent corpus fingerprint (sum of each cleaned
    // doc's md5-prefix integer), so the oracle hash certifies the FULL
    // cleaned text of every surviving document, the gate decisions, and
    // the split assignment together. Each stage keeps its scale shape:
    // narrow regex scrub, one line-df aggregation + broadcast membership
    // filter, narrow token count, one final tiny aggregation.
    "q_clean_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat_ws("\n",
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com")),
            lit("Subscribe to our newsletter"),
            concat(lit("Group footer "), (col("doc_id") % 7).cast("string")))
            .as("text"))
      val scrubbed = TrainData.piiScrub(docs, col("doc_id"), col("text"))
        .select(col("id"), col("clean").as("text"))
      val cleaned = TrainData.dropBoilerplate(scrubbed, col("id"), col("text"),
        dfCap = 50)
      cleaned
        .select(col("id"), col("clean"),
          graft.functions.TextFunctions.tokenCount(col("clean")).as("n_tok"))
        .filter(col("n_tok") >= 10)
        .select(col("id"), col("n_tok"),
          TrainData.hashSplit(col("id")).as("split"),
          conv(substring(md5(col("clean")), 1, 12), 16, 10).cast("long")
            .as("fp"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
          sum(col("fp")).as("corpus_fp"))
        .orderBy(col("split"))
    }),

    // Edit-distance refinement of LSH candidates: the banded minhash
    // pairs (never all-pairs) re-scored with exact levenshtein over each
    // doc's 120-char tail — candidate generation stays O(n/2^H)-bucketed,
    // the quadratic DP runs only on candidates and capped prefixes. The
    // planted suffix-copies confirm at distance <= 16; band-collision
    // false positives don't.
    "q_editdist_refine" -> ((s, dir) => {
      val stage = minhashSigsPath(s, dir)
      val pairs = Dedup.minhashPairsFromStage(s, stage, maxBucket = 50)
        .select(col("a_id"), col("b_id"))
      val corpus = nearDupCorpus(s, dir)
      pairs
        .join(corpus.select(col("id").as("a_id"), col("text").as("a_text")), "a_id")
        .join(corpus.select(col("id").as("b_id"), col("text").as("b_text")), "b_id")
        .select(col("a_id"), col("b_id"),
          levenshtein(expr("right(a_text, 120)"), expr("right(b_text, 120)"))
            .cast("long").as("edit_dist"))
        .withColumn("confirmed", col("edit_dist") <= 16)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Concat-and-chunk sequence packing: docs hash to 4 shards, each
    // shard's token stream (id order) is cut into 512-token chunks; a
    // doc's bin = chunk index of its first token (exclusive running sum).
    // One shuffle + one window pass, integer-exact.
    "q_pack_sequences" -> ((s, dir) => {
      TrainData.packSequences(Tables.documents(s, dir), col("doc_id"),
          col("text"), seqLen = 512L, shards = 4)
        .orderBy(col("shard"), col("bin"))
    }),

    // PII redaction over a corpus with planted emails/phones (every 5th
    // doc): the scrub every training pipeline runs first. Exact string
    // compare against the oracle's identical regex chain.
    "q_pii_redact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val planted = d.withColumn("text2",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567 now")))
          .otherwise(col("text")))
      planted
        .select(col("doc_id"), TextFunctions.redactPii(col("text2")).as("redacted"))
        .filter(col("doc_id") % 10 < 2)
        .orderBy(col("doc_id"))
    }),

    // Deterministic 80/10/10 train/val/test split by multiplicative hash of
    // the id — stable under corpus growth, no RNG, no shuffle to assign.
    "q_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(TrainData.hashSplit(col("doc_id")).as("split"),
          col("doc_id"), col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    }),

    // Leakage-aware split: documents assigned to train/val/test by their
    // NEAR-DUP CLUSTER label (connected components over the staged
    // minhash pairs), so a held-out doc's near-duplicates can never land
    // in train. n_straddle counts groups spanning more than one split —
    // structurally zero here, and the oracle recomputes rather than
    // assumes it.
    "q_split_grouped" -> ((s, dir) => {
      val stage = minhashSigsPath(s, dir)
      val pairs = Dedup.minhashPairsFromStage(s, stage, maxBucket = 50)
        .select(col("a_id"), col("b_id"))
      val comps = Dedup.connectedComponents(pairs)
      val labeled = TrainData.groupedSplit(nearDupCorpus(s, dir), col("id"), comps)
      val straddle = broadcast(labeled.groupBy(col("group_id"))
        .agg(count_distinct(col("split")).as("nsp"))
        .filter(col("nsp") > 1).agg(count(lit(1)).as("n_straddle")))
      labeled.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("group_id")).as("n_groups"),
          sum(col("id")).cast("long").as("sum_ids"))
        .crossJoin(straddle)
        .orderBy(col("split"))
    }),

    // K-fold cross-validation assignment (k=5): fold by multiplicative
    // hash — stable under corpus growth, every fold's train side is the
    // other four folds. One scan, one tiny broadcast total.
    "q_kfold" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tot = broadcast(docs.agg(count(lit(1)).as("n_total")))
      docs.select(TrainData.kfoldAssign(col("doc_id"), 5).cast("long").as("fold"),
          col("doc_id"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_val"), sum(col("doc_id")).cast("long").as("sum_ids"))
        .crossJoin(tot)
        .select(col("fold"), col("n_val"), (col("n_total") - col("n_val")).as("n_train"),
          col("sum_ids"))
        .orderBy(col("fold"))
    }),

    // Quality-weighted subsampling: each doc keeps with probability
    // n_chars/20 % (capped at 90) — longer docs oversampled — via the
    // seedless hash-bucket filter; per-language kept counts + id
    // checksum pin the exact surviving set.
    "q_sample_weighted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pct = least(lit(90L), floor(col("n_chars") / lit(20.0)).cast("long"))
      val kept = TrainData.weightedSample(docs, col("doc_id"), pct)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("sum_kept_ids"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("sum_kept_ids"), lit(0L)).as("sum_kept_ids"))
        .orderBy(col("lang"))
    }),

    // Deterministic stratified sampling: 20% of 'en' docs, 50% of every
    // other class, by multiplicative hash of the id — no RNG, a narrow
    // filter the scan absorbs; membership is append-stable. Aggregates
    // pin the exact sampled id-set per class.
    "q_sample_stratified" -> ((s, dir) => {
      TrainData.stratifiedSample(Tables.documents(s, dir), col("lang"),
          col("doc_id"), Map("en" -> 20), defaultPct = 50)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("lang"))
    }),

    // UniMax-style budget waterfill (TrainData.unimaxAlloc): uniform
    // across sources under a 2-epoch per-source cap, small sources taken
    // whole and their unused share provably re-spent (Σ alloc = budget;
    // sourceMix's temperature quota just truncates). Integer waterfill
    // over the fixed-cardinality per-source relation — one corpus
    // aggregation, then tiny windows + 1-row broadcasts.
    "q_unimax_mix" -> ((s, dir) => {
      TrainData.unimaxAlloc(Tables.documents(s, dir), col("source"),
        budget = 600L, epochsCap = 2)
    }),

    // Temperature mixing (α = 1/2) of the skewed language distribution:
    // a 200-doc budget split ∝ √cnt flattens the en head toward the
    // tail languages (the multilingual-mix rebalance). Quotas exact
    // integers, selection by md5-hash rank — fully deterministic.
    "q_source_mix" -> ((s, dir) => {
      TrainData.sourceMix(Tables.documents(s, dir), col("lang"),
          col("doc_id"), budget = 200L)
        .groupBy(col("source"))
        .agg(max(col("cnt")).as("cnt"), max(col("n_target")).as("n_target"),
          count(lit(1)).as("n_kept"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy(col("source"))
    }),

    // Decontamination: test-split documents sharing >= 5 distinct word
    // shingles with any train-split document (the train/test leakage
    // check every LLM data pipeline needs). Shingle-key equi-join, no
    // O(n²); split assignment is the same hashSplit as q_split. Shingles
    // with document frequency > 50 across both sides are dropped before
    // the join (Zipf-head skew guard, mirrored in the oracle) — they
    // match everything and carry no contamination signal.
    "q_decontaminate" -> ((s, dir) => {
      // staged doc-shingle artifact + split filter: the split is a pure
      // hash of the id, so both sides come from the artifact untokenized
      val sh = docShingles(s, dir)
        .withColumn("split", TrainData.hashSplit(col("id")))
      def side(name: String) = sh.filter(col("split") === name)
        .select(col("id").as(name + "_id"), explode(col("tk")).as("sh"))
      Dedup.crossOverlapFromShingles(side("train"), side("test"),
          minShared = 5, maxDf = 50)
        .groupBy(col("test_id"))
        .agg(count(lit(1)).as("n_train_matches"), max(col("n_shared")).as("max_shared"))
        .orderBy(col("test_id"))
    }),

    // Decontamination under planted Zipf-head skew: the same report with
    // a ubiquitous three-token tail appended to EVERY document, so one
    // shingle has df = corpus size. The maxDf guard must drop it on both
    // engines before the join — without the guard the join fans out
    // test×train on that single key and the +1 shared count flips pairs
    // across the minShared threshold. Green here means the declared
    // query, not just the unit spec, exercises the guard.
    "q_decontaminate_skew" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("text",
          concat(col("text"), lit(" zzstopa zzstopb zzstopc")))
        .withColumn("split", TrainData.hashSplit(col("doc_id")))
      val train = docs.filter(col("split") === "train")
      val test = docs.filter(col("split") === "test")
      Dedup.crossOverlap(train, test, col("doc_id"), col("text"),
          minShared = 5, maxDf = 50)
        .groupBy(col("test_id"))
        .agg(count(lit(1)).as("n_train_matches"), max(col("n_shared")).as("max_shared"))
        .orderBy(col("test_id"))
    }),

    // Bloom-prefiltered decontamination: the same report as
    // q_decontaminate (same oracle SQL — the answer is EXACT), but the
    // train-side shingle stream is gated by a collected-and-inlined
    // Spark BloomFilter over the test split's shingles before the
    // shuffle join. No false negatives, and the exact equi-join removes
    // false positives, so bloom parameters never affect the result —
    // only how much of the corpus reaches the shuffle. The plan
    // assertion proves the might_contain gate actually sits in the
    // train-side scan pipeline rather than being optimized away.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val sh = docShingles(s, dir)
        .withColumn("split", TrainData.hashSplit(col("id")))
      def side(name: String) = sh.filter(col("split") === name)
        .select(col("id").as(name + "_id"), explode(col("tk")).as("sh"))
      val out = Dedup.crossOverlapBloomFromShingles(side("train"), side("test"),
          minShared = 5, maxDf = 50)
        .groupBy(col("test_id"))
        .agg(count(lit(1)).as("n_train_matches"), max(col("n_shared")).as("max_shared"))
        .orderBy(col("test_id"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("might_contain"),
        s"bloom prefilter was not planted in the train-side pipeline:\n$plan")
      out
    }),

    // Duplicated-span report (exact substring-level dedup): every doc's
    // 20-token windows (stride 10) hashed and counted corpus-wide; docs
    // with any window occurring >1 times are reported with their exact
    // duplication ratio. The planted near-dup copies share their
    // original's windows, so both sides of every planted pair appear.
    "q_dup_spans" -> ((s, dir) => {
      Dedup.spanDuplication(nearDupCorpus(s, dir), col("id"), col("text"))
        .filter(col("n_dup_windows") > 0)
        .orderBy(col("id"))
    }),

    // Z-order (Morton) key over (user bucket, hour bucket) — the
    // multi-column clustering key for data skipping on either column
    // (layout proof in ZOrderSpec; this query pins the interleave itself
    // engine-exact). Top-100 by z so the output exercises the full bit
    // range deterministically.
    "q_zorder" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("x", col("user_id") % 256)
        .withColumn("y", expr("ts div 1000 div 3600000000 % 256"))
        .withColumn("z", graft.functions.ZOrder.zValue(col("x"), col("y"), 8))
        .orderBy(col("z"), col("event_id"))
        .limit(100)
        .select(col("event_id"), col("x"), col("y"), col("z"))
    }),

    // Dense time series from sparse events (gap filling): hourly counts
    // left-joined onto a complete generated hour spine, missing hours
    // zero-filled. The aggregated hourly relation (bucket-count-sized,
    // tiny) is materialized once so the fact table is scanned ONCE —
    // without it the spine's min/max branch re-scans the corpus; the
    // spine then generates in-engine (no driver round-trip) and the
    // join broadcasts.
    "q_resample" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("ts div 1000 div 3600000000").as("hour_bucket"), col("value"))
        .groupBy(col("hour_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .localCheckpoint()
      val spine = hourly.agg(min(col("hour_bucket")).as("lo"), max(col("hour_bucket")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("hour_bucket"))
      spine.join(hourly, Seq("hour_bucket"), "left_outer")
        .select(col("hour_bucket"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_cents"), lit(0L)).as("sum_cents"))
        .orderBy(col("hour_bucket"))
    }),

    // SQL entrypoint surface with a correlated-free scalar subquery:
    // orders above the global average price, per status. Runs through
    // spark.sql over registered views — the same plans as the DataFrame
    // API, proving the SQL front door works end-to-end.
    "q_sql_scalar_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      // above-average test in exact DECIMAL form (price * n > total) —
      // a raw double avg threshold would be partial-merge-order dependent
      s.sql("""
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders_v
        WHERE CAST(o_totalprice AS DECIMAL(12,2)) * (SELECT count(*) FROM orders_v)
              > (SELECT sum(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders_v)
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }),

    // Correlated LATERAL subquery (SQL:1999 lateral derived table, new
    // declarative surface): per nation, its top-3 customers by account
    // balance — the subquery references the outer row. Catalyst
    // decorrelates this into the per-group window plan (no per-row
    // re-execution), so the declarative form costs the same as the
    // hand-written row_number query at any scale.
    "q_lateral_topk" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("graft_nation_v")
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer_v")
      s.sql("""
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM graft_nation_v n,
        LATERAL (SELECT c_custkey, c_acctbal FROM graft_customer_v
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) c
        ORDER BY n.n_name ASC, c.c_acctbal DESC, c.c_custkey ASC""")
    }),

    // Sessionization: per-user sessions under a 30-minute gap timeout —
    // lag + running-sum windows, then a two-level aggregate, one shuffle.
    "q_sessionize" -> ((s, dir) => {
      TrainData.sessionize(
          Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000")),
          col("user_id"), col("ts_us"), col("event_id"), gapUs = 1800000000L)
        .withColumnRenamed("user", "user_id")
        .orderBy(col("user_id"))
    }),

    // The custom-expression SQL surface end-to-end: hash_embed +
    // l2_distance called from spark.sql over a temp view — the same
    // codegen'd Catalyst expressions the DataFrame queries use, reached
    // through the FunctionRegistry (injected by GraftExtensions), so a
    // SQL-only user gets identical results.
    "q_sql_custom_funcs" -> ((s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql(
        s"""SELECT doc_id,
           |  l2_distance(hash_embed(text, 64), hash_embed('$RagQuery', 64)) AS distance
           |FROM documents_v
           |ORDER BY distance ASC, doc_id ASC LIMIT 5""".stripMargin)
    }),

    // Time-series anomaly detection: hourly event counts, corpus mean/σ
    // from exact integer power sums (S1, S2 — one aggregation, broadcast
    // back), and the hours deviating more than 2σ. The z-score chain is
    // the same left-associated double expression on both engines over
    // integer-exact inputs, so even the flagged set is deterministic.
    "q_anomaly_hours" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(expr("ts div 1000 div 3600000000").as("hour_bucket"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.agg(count(lit(1)).as("n_hours"),
        sum(col("n")).as("s1"), sum(col("n") * col("n")).as("s2"))
      hourly.crossJoin(broadcast(stats))
        .withColumn("mean", col("s1").cast("double") / col("n_hours"))
        .withColumn("std", sqrt(col("s2").cast("double") / col("n_hours")
          - col("mean") * col("mean")))
        .withColumn("z", (col("n").cast("double") - col("mean")) / col("std"))
        .filter(abs(col("z")) > 2.0)
        .select(col("hour_bucket"), col("n"), col("z"))
        .orderBy(col("hour_bucket"))
    }),

    // Heavy hitters via count-min sketch: the sketch aggregates
    // distributively (one tiny mergeable binary per partition crosses the
    // shuffle — never per-key rows), and the native cms_estimate
    // expression reads estimates back inside the engine. Output follows
    // the tolerance-flag contract (q_approx_distinct pattern): exact
    // top-5 counts plus the CMS guarantee (n ≤ estimate ≤ n + ε·N)
    // as a checked flag.
    "q_heavy_hitters" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sketch = ev.agg(
        count_min_sketch(col("user_id"), lit(0.001), lit(0.99), lit(42)).as("cms"),
        count(lit(1)).as("n_total"))
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(5)
      exact.crossJoin(broadcast(sketch))
        .withColumn("est", org.apache.spark.sql.GraftBridge.column(
          graft.expressions.CmsEstimate(
            org.apache.spark.sql.GraftBridge.expression(col("cms")),
            org.apache.spark.sql.GraftBridge.expression(col("user_id")))))
        .select(col("user_id"), col("n"),
          (col("est") >= col("n") &&
            col("est") <= col("n") + ceil(col("n_total") * 0.001).cast("long"))
            .as("within_bound"))
        .orderBy(col("n").desc, col("user_id"))
    }),

    // Ordered conversion funnel (view → click → purchase): per user, the
    // first view, the first click strictly AFTER that view, the first
    // purchase strictly after that click — the sequence-respecting funnel
    // (not mere presence counts). Three filtered min-aggregations joined
    // on user_id (co-partitioned after the first shuffle), one summary
    // row; exact integer micros throughout.
    "q_funnel_conversion" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      def firstAfter(t: String, after: DataFrame, afterCol: String, out: String) =
        ev.filter(col("event_type") === t)
          .join(after, "user_id")
          .filter(col("ts_us") > col(afterCol))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as(out))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_view"))
      val c = firstAfter("click", v, "t_view", "t_click")
      val p = firstAfter("purchase", c, "t_click", "t_purchase")
      v.join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("t_purchase")), Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_view"),
          count(col("t_click")).as("n_click"),
          count(col("t_purchase")).as("n_purchase"),
          sum(col("t_purchase") - col("t_view")).as("sum_funnel_us"))
    }),

    // Weekly cohort retention matrix: cohort = epoch-week of a user's
    // first event, age = weeks since; each cell counts distinct users of
    // that cohort active at that age. Two shuffles (first-seen per user,
    // cell aggregation) — the classic growth-analytics query, exact.
    "q_cohort_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("d", expr("ts div 1000 div 86400000000"))
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      ev.select(col("user_id"), col("d")).distinct()
        .join(first, "user_id")
        .withColumn("cohort_week", expr("d0 DIV 7"))
        .withColumn("age_week", expr("(d - d0) DIV 7"))
        .groupBy(col("cohort_week"), col("age_week"))
        .agg(count_distinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("age_week"))
    }),

    // TF-IDF: top-3 terms per document. Rational idf (n_docs/df — a single
    // exactly-rounded division) instead of ln() whose rounding is not
    // IEEE-pinned across engines. tf and df aggregate over the full corpus;
    // the output is restricted to the first 10 docs.
    "q_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // document frequency IS the per-token row count of tf (one row per
      // (doc, tok)) — no second explode or distinct pass over the corpus,
      // and the identical tf exchange is reused for both branches
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("tok").asc)
      tf.join(dfreq, "tok").crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf").cast("double") *
          (col("n_docs").cast("double") / col("dfreq").cast("double")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3 && col("doc_id") < 10)
        .select(col("doc_id"), col("rn"), col("tok"), col("tf"), col("dfreq"), col("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // BM25 lexical retrieval over the RAG query terms — exact integer
    // fixed-point scoring (see Retrieval.bm25): idf and the tf saturation
    // factor are single integer divisions after fixed-point scaling, the
    // per-doc score an exact long sum, so the ranking is engine-identical.
    // Served from the persisted postings stage (Retrieval.stagePostings,
    // built once per corpus); the oracle replays the from-corpus build,
    // so stage ≡ rebuild is hash-checked.
    "q_bm25" -> ((s, dir) => {
      graft.operators.Retrieval.bm25FromStage(s, docPostingsPath(s, dir),
          RagQuery.split(" ").toSeq)
        .orderBy(col("score_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("n_terms"), col("score_fp"))
    }),

    // BATCHED lexical serving (Retrieval.bm25BatchFromStage): ONE plan
    // scores all 4 batch queries against the persisted postings stage —
    // the scan prunes to the UNION of the batch's term buckets once,
    // the broadcast (q_id, tok) relation routes each posting row to the
    // queries that want it, per-query exact top-10 via one window —
    // instead of 4 separate stage scans (the N+1 serving shape, cf.
    // queryL2Batch / queryBatch). The oracle replays every query's
    // from-corpus BM25, so batch ≡ per-query is hash-checked.
    "q_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val qs = BatchLexQueries.zipWithIndex
        .map { case (q, i) => (i.toLong, q.split(" ").toSeq) }
        .toDF("q_id", "terms")
      graft.operators.Retrieval.bm25BatchFromStage(s,
          docPostingsPath(s, dir), qs, k = 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // BOUNDED-PLAN batched serving: the same 4-query batch FORCED onto
    // the broadcast-semi-join pruning path (pruneLiteralLimit = 0 — the
    // path a 10k-query production batch takes, where isin literal lists
    // would blow up planning/codegen with the batch's vocabulary). Must
    // be row-identical to q_bm25_batch — same oracle replay.
    "q_bm25_batch_pruned" -> ((s, dir) => {
      import s.implicits._
      val qs = BatchLexQueries.zipWithIndex
        .map { case (q, i) => (i.toLong, q.split(" ").toSeq) }
        .toDF("q_id", "terms")
      graft.operators.Retrieval.bm25BatchFromStage(s,
          docPostingsPath(s, dir), qs, k = 10, pruneLiteralLimit = 0)
        .orderBy(col("q_id"), col("rank"))
    }),

    // LARGE-BATCH PLAN-FLATNESS gate for the batched-serving family:
    // at ≥1k queries the bounded-plan guard must keep the physical plan
    // CONSTANT-SIZE in the batch's vocabulary (the static-literal path
    // embeds every distinct term/cell as a plan literal — planning and
    // codegen cost then grow with batch size; the guard moves the
    // filtering into the broadcast joins, whose relations are data, not
    // plan). Measured, not argued: a 100-query and a 2000-query batch
    // (vocabulary well past the 1024-literal limit) are PLANNED on all
    // four serving surfaces and the verdict relation reports whether
    // each large plan stayed within 1.5× + 4 KB of its small plan —
    // while the 2000-term static-literal bm25 plan is required to be
    // strictly larger than the guarded one (the guard must matter).
    // Planning wall-times print for the bench log; they are not rows
    // (timing is machine-noise, plan SIZE is the deterministic proxy).
    "q_batch_serving_plan" -> ((s, dir) => {
      import s.implicits._
      // vocabulary: the corpus's own distinct tokens (only ~31 in the
      // synthetic testdata) padded with unique synthetic terms to 2400 —
      // plan size depends on the LITERAL COUNT, not on whether a term
      // matches, and a production batch's vocabulary is real either way
      val corpusToks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0).distinct()
        .orderBy(col("tok")).limit(400)
        .collect().map(_.getString(0))
      val toks = corpusToks ++
        (corpusToks.length until 2400).map(i => f"synth_term_$i%04d")
      def lexBatch(n: Int) = (0 until n).map { i =>
        (i.toLong, Seq(toks(i % toks.length), toks((i + 7) % toks.length),
          toks((i + 13) % toks.length)))
      }.toDF("q_id", "terms")
      def vecBatch(n: Int) = (0 until n).map { i =>
        (i.toLong, QueryVec.shiftedValues(i % 8))
      }.toDF("q_id", "q_vec")
      def planned(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val t0 = System.nanoTime()
        val len = df.queryExecution.executedPlan.toString.length.toLong
        (len, (System.nanoTime() - t0) / 1000000L)
      }
      val surfaces: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
        ("bm25", n => graft.operators.Retrieval.bm25BatchFromStage(s,
          docPostingsPath(s, dir), lexBatch(n), k = 10,
          pruneLiteralLimit = 0)),
        ("maxsim", n => graft.operators.Retrieval.maxSimBatchFromStage(s,
          docWindowsPath(s, dir), lexBatch(n), k = 10,
          pruneLiteralLimit = 0)),
        ("ivf", n => graft.operators.IvfIndex.probeBatch(s,
          ivfIndexFullPath(s, dir), vecBatch(n), k = 10, nprobe = 2,
          pruneLiteralLimit = 0)),
        ("store", n => {
          val path = vectorStorePath(s, dir)
          graft.operators.VectorStore.queryL2Batch(s, path, "embedding",
            "vec_id", vecBatch(n), k = 10, pruneLiteralLimit = 0)
        }))
      val flat = surfaces.map { case (name, build) =>
        val (lenS, msS) = planned(build(100))
        val (lenL, msL) = planned(build(2000))
        System.err.println(s"[q_batch_serving_plan] $name: plan " +
          s"100q=${lenS}B/${msS}ms 2000q=${lenL}B/${msL}ms")
        (name, "plan_flat_100_to_2000",
          lenL <= (lenS * 3) / 2 + 4096)
      }
      // the guard must MATTER: the un-guarded 2000-term literal plan is
      // strictly larger than the guarded one on the lexical surface
      val (lenLit, msLit) = planned(
        graft.operators.Retrieval.bm25BatchFromStage(s,
          docPostingsPath(s, dir), lexBatch(2000), k = 10,
          pruneLiteralLimit = Int.MaxValue))
      val (lenJoin, _) = planned(
        graft.operators.Retrieval.bm25BatchFromStage(s,
          docPostingsPath(s, dir), lexBatch(2000), k = 10,
          pruneLiteralLimit = 0))
      System.err.println(s"[q_batch_serving_plan] bm25 2000q literal " +
        s"plan=${lenLit}B/${msLit}ms vs guarded ${lenJoin}B")
      val rows = flat :+
        ("bm25", "literal_plan_larger_at_2000", lenLit > lenJoin)
      rows.toDF("surface", "gate", "ok").orderBy(col("surface"), col("gate"))
    }),

    // INCREMENTAL postings maintenance: the stage was built on 2/3 of
    // the corpus and the last third APPENDED (Retrieval.appendPostings —
    // purely additive rows, df/idf derived at query time pick them up).
    // The oracle replays BM25 over the FULL corpus, so append-then-query
    // ≡ rebuild-then-query is hash-checked end to end.
    "q_postings_append" -> ((s, dir) => {
      graft.operators.Retrieval.bm25FromStage(s,
          docPostingsAppendedPath(s, dir), RagQuery.split(" ").toSeq)
        .orderBy(col("score_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("n_terms"), col("score_fp"))
    }),

    // AUTO-COMPACTION POLICY (Retrieval.compactIfStale): the stage is
    // built on a third of the corpus and the rest appended in two LSM
    // waves with the policy probe between them — the superseded-row
    // fraction crosses the threshold and triggers exactly the compaction
    // an operator would otherwise have to remember, bounding read
    // amplification by policy. Queries are compact-invariant, so the
    // oracle is the same full-corpus BM25 replay as q_postings_append;
    // the query itself also asserts the policy actually FIRED (and that
    // a fresh stage does not).
    "q_postings_autocompact" -> ((s, dir) => {
      val stage = stagedPath("doc_postings_autoc_v2", dir)
      Staging.once(stage)(graft.operators.Retrieval.postingsExist(stage)) {
        val docs = Tables.documents(s, dir)
        graft.operators.Retrieval.stagePostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1),
          col("doc_id"), col("text"), stage)
        require(!graft.operators.Retrieval.compactIfStale(s, stage),
          "a fresh stage has no stale rows — the policy must not fire")
        graft.operators.Retrieval.appendPostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2),
          col("doc_id"), col("text"), stage)
        // a same-sized second corpus wave supersedes ~every touched
        // token's rows — well past the 5% threshold used here
        require(graft.operators.Retrieval.compactIfStale(s, stage, 0.05),
          "the policy must fire once the stale fraction crosses the threshold")
        graft.operators.Retrieval.appendPostings(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          col("doc_id"), col("text"), stage)
        graft.operators.Retrieval.compactIfStale(s, stage, 0.05)
      }
      graft.operators.Retrieval.bm25FromStage(s, stage,
          RagQuery.split(" ").toSeq)
        .orderBy(col("score_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("n_terms"), col("score_fp"))
    }),

    // INCREMENTAL postings deletion (Retrieval.deletePostings — the
    // corpus-refresh path): the stage was built on the FULL corpus and
    // every third doc DELETED — touched tokens re-ranked over the
    // remaining postings, df decremented, globals retreated, only the
    // affected hash-bucket partitions rewritten. The oracle replays
    // BM25 over the remaining docs only, so delete-then-query ≡
    // rebuild-on-remaining is hash-checked end to end.
    "q_postings_delete" -> ((s, dir) => {
      graft.operators.Retrieval.bm25FromStage(s,
          docPostingsDeletedPath(s, dir), RagQuery.split(" ").toSeq)
        .orderBy(col("score_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("n_terms"), col("score_fp"))
    }),

    // RE-INDEX UPSERT (Retrieval.upsertPostings — delete-then-append,
    // each half touching only its victims'/batch's hash-bucket
    // partitions): the stage was built on the ORIGINAL corpus and every
    // fifth doc's MODIFIED revision upserted. The oracle replays BM25
    // over the modified corpus, so upsert-then-query ≡
    // rebuild-on-modified is hash-checked end to end.
    "q_postings_upsert" -> ((s, dir) => {
      graft.operators.Retrieval.bm25FromStage(s,
          docPostingsUpsertedPath(s, dir), RagQuery.split(" ").toSeq)
        .orderBy(col("score_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("n_terms"), col("score_fp"))
    }),

    // The doc-window twin (Retrieval.upsertWindows): same modified
    // corpus, pruned-MaxSim replay oracle.
    "q_windows_upsert" -> ((s, dir) => {
      graft.operators.Retrieval.maxSimPrunedFromStage(s,
          docWindowsUpsertedPath(s, dir), RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // Multi-vector LATE-INTERACTION retrieval (Retrieval.maxSim, the
    // ColBERT MaxSim shape): per-token embeddings, score = Σ_term max_tok
    // dot in integer fixed point — term-level matching single-vector
    // retrieval averages away. Token embeddings computed once per
    // DISTINCT token (vocabulary-sized), query side broadcast; the
    // interaction is linear in the corpus, never n². The oracle replays
    // embeddings, every (token, term) dot, the two-level max/sum and the
    // final ranking.
    "q_maxsim" -> ((s, dir) => {
      graft.operators.Retrieval.maxSim(Tables.documents(s, dir),
          col("doc_id"), col("text"), RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // Cross-encoder-style RERANK boundary (BatchedInference
    // .scorePairsBatched): the RRF top-50 candidate set — and ONLY it,
    // a cross-encoder's per-pair cost is why it never sees the corpus —
    // goes through the batched (query, doc) pair scorer as one narrow
    // mapPartitions stage, and the rerank order replaces the fusion
    // order. The stand-in scorer (dot + shared-token overlap, a
    // genuinely pairwise function) is oracle-replayed exactly, so the
    // whole retrieve → fuse → rerank pipeline hash-checks; a real ONNX
    // cross-encoder slots in behind the same PairScorer contract with
    // zero plan change.
    "q_rerank" -> ((s, dir) => {
      val cand = rrfFused(s, dir)
        .orderBy(col("rrf_fp").desc, col("doc_id")).limit(50)
        .localCheckpoint() // 50 rows, feeds the text join AND the final join
      val withText = cand
        .join(Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id")
        .select(col("doc_id"), lit(RagQuery).as("q"), col("text"))
      graft.operators.BatchedInference.scorePairsBatched(withText, "doc_id",
          "q", "text", new graft.operators.BatchedInference.HashCrossScorer(64),
          batchSize = 32)
        .join(cand.select(col("doc_id"), col("rrf_fp")), "doc_id")
        .orderBy(col("rerank_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("rrf_fp"), col("rerank_fp"))
    }),

    // The SCALE PATH of late interaction (Retrieval.maxSimPruned): a
    // query window only scores doc windows it SHARES A TOKEN with —
    // posting-list candidate generation, an equi-join on token instead
    // of a cross join over every (window, query-window) pair, the same
    // join shape (and guards) as BM25/conversation retrieval. Fully
    // deterministic and hash-checked; closeness to exact MaxSim is
    // measured in RetrievalSpec.
    "q_maxsim_pruned" -> ((s, dir) => {
      graft.operators.Retrieval.maxSimPruned(Tables.documents(s, dir),
          col("doc_id"), col("text"), RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // Pruned MaxSim served from the persisted doc-window stage
    // (Retrieval.stageWindows): window explode, vocabulary embedding and
    // window→token postings all amortized into the one-time stage; the
    // query's literal tokens partition-prune the wtok scan to their
    // crc32 buckets. Same oracle as q_maxsim_pruned — stage ≡ rebuild
    // is hash-checked.
    "q_maxsim_staged" -> ((s, dir) => {
      graft.operators.Retrieval.maxSimPrunedFromStage(s,
          docWindowsPath(s, dir), RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // INCREMENTAL window-stage maintenance (Retrieval.appendWindows —
    // purely additive: new (doc, win) rows, unseen windows' embeddings
    // and token postings; nothing existing changes): the stage was
    // built on 2/3 of the corpus and the last third APPENDED. The
    // oracle replays the full-corpus pruned MaxSim, so append-then-
    // query ≡ rebuild-then-query is hash-checked end to end.
    "q_windows_append" -> ((s, dir) => {
      graft.operators.Retrieval.maxSimPrunedFromStage(s,
          docWindowsAppendedPath(s, dir), RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // INCREMENTAL window-stage deletion + compaction
    // (Retrieval.deleteWindows / compactWindows — delete rewrites only
    // the victims' doc-hash partitions and leaves vocabulary orphans for
    // compact's lazy GC): the stage was built on the FULL corpus, every
    // third doc deleted, then compacted. The oracle replays the pruned
    // MaxSim over the SURVIVING corpus only, so delete-then-query ≡
    // rebuild-on-remaining is hash-checked end to end.
    "q_windows_delete" -> ((s, dir) => {
      graft.operators.Retrieval.maxSimPrunedFromStage(s,
          docWindowsDeletedPath(s, dir), RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // AUTO-COMPACTION POLICY for the window stage
    // (Retrieval.compactWindowsIfStale — the q_postings_autocompact
    // twin): built on the full corpus (policy must NOT fire — appends
    // and fresh builds have no tombstoned rows), every third doc
    // deleted (the tombstoned fraction crosses the threshold and the
    // policy fires the compaction an operator would otherwise have to
    // remember — bounding resolution read amplification AND the
    // orphaned-vocabulary footprint). Queries are compact-invariant, so
    // the oracle is the same surviving-corpus replay as
    // q_windows_delete.
    "q_windows_autocompact" -> ((s, dir) => {
      val stage = stagedPath("doc_windows_autoc_v2", dir)
      Staging.once(stage)(graft.operators.Retrieval.windowsExist(stage)) {
        val docs = Tables.documents(s, dir)
        graft.operators.Retrieval.stageWindows(docs,
          col("doc_id"), col("text"), stage)
        require(!graft.operators.Retrieval.compactWindowsIfStale(s, stage),
          "a fresh window stage has no stale rows — the policy must not fire")
        graft.operators.Retrieval.deleteWindows(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0)
            .select(col("doc_id")), stage)
        require(graft.operators.Retrieval.compactWindowsIfStale(s, stage, 0.05),
          "the policy must fire once the tombstoned fraction crosses the threshold")
        require(!graft.operators.Retrieval.compactWindowsIfStale(s, stage, 0.05),
          "a just-compacted stage is back at G=0 — the policy must not re-fire")
      }
      graft.operators.Retrieval.maxSimPrunedFromStage(s, stage,
          RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // BATCHED late-interaction serving (Retrieval.maxSimBatchFromStage):
    // ONE plan serves all 4 MaxSim queries from the staged doc-window
    // index — query windows DEDUPLICATED across the batch (the
    // per-(doc, window) best-dot relation computes once per distinct
    // window string; only the final per-query sum fans out through the
    // broadcast (q_id, qt) relation), wtok scan pruned to the union of
    // the batch's token buckets, per-query exact top-10 via one window
    // function — instead of 4 separate stage passes (the N+1 serving
    // shape, cf. bm25_batch). The oracle replays every query's
    // from-corpus pruned MaxSim independently (sharing the corpus CTEs),
    // so batch ≡ per-query is hash-checked.
    "q_maxsim_batch" -> ((s, dir) => {
      import s.implicits._
      val qs = BatchMaxSimQueries.zipWithIndex
        .map { case (q, i) => (i.toLong, q.split(" ").toSeq) }
        .toDF("q_id", "terms")
      graft.operators.Retrieval.maxSimBatchFromStage(s,
          docWindowsPath(s, dir), qs, k = 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical ranking
    // and the hash-embed L2 vector ranking for the same query — the
    // standard production retrieval shape the reference's embedding-only
    // path (rag.py:65-90) is usually upgraded to. Both rank lists are
    // top-20 (broadcast-size); fusion is exact integer arithmetic.
    "q_rrf_fusion" -> ((s, dir) => {
      rrfFused(s, dir)
        .orderBy(col("rrf_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("lex_rank"), col("vec_rank"), col("rrf_fp"))
    }),

    // BATCHED hybrid serving (Retrieval.rrfFuseBatch): the q_id-keyed
    // twin of q_rrf_fusion — ONE batched lexical pass
    // (bm25BatchFromStage, postings/dfreq scans pruned to the union of
    // the batch's term buckets) × ONE batched store probe
    // (VectorStore.queryL2Batch over the hash-embedded documents, scan
    // = the union of probed bucket partitions) → one (q_id, doc_id)
    // full-outer fusion + per-query top-10 window. 4 hybrid queries
    // cost ~2 pruned scans, not 8 (the N+1 serving shape — the batched
    // E3 of rag.py:77-90). The oracle replays every query's two rank
    // lists and fusion independently, so batch ≡ per-query is
    // hash-checked.
    "q_rrf_batch" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val store = docEmbedStorePath(s, dir)
      val qsLex = BatchLexQueries.zipWithIndex
        .map { case (q, i) => (i.toLong, q.split(" ").toSeq) }
        .toDF("q_id", "terms")
      val lex = graft.operators.Retrieval.bm25BatchFromStage(s,
          docPostingsPath(s, dir), qsLex, k = 20)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val qsVec = BatchLexQueries.zipWithIndex
        .map { case (q, i) =>
          (i.toLong, graft.expressions.HashEmbed.embed(q, 64).toSeq) }
        .toDF("q_id", "q_vec")
      val vec = graft.operators.VectorStore.queryL2Batch(s, store,
          "embedding", "doc_id", qsVec, k = 20)
        .select(col("q_id"), col("doc_id"), col("rn").as("rank"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("rrf_fp").desc, col("doc_id"))
      graft.operators.Retrieval.rrfFuseBatch(lex, vec)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("doc_id"),
          col("lex_rank"), col("vec_rank"), col("rrf_fp"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // The E3 RAG pipeline upgraded to hybrid retrieval: RRF top-5 →
    // ordered context assembly (descending fusion score) → the M2
    // generation prompt. The production-shape upgrade of the reference's
    // embedding-only retrieve (rag.py:65-90).
    "q_rag_hybrid" -> ((s, dir) => {
      val top5 = rrfFused(s, dir)
        .orderBy(col("rrf_fp").desc, col("doc_id")).limit(5)
      top5.join(Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct((-col("rrf_fp")).as("k"),
              col("doc_id").as("i"), col("text").as("doc")))),
            x => x.getField("doc")), "\n\n").as("context"))
        .select(lit(RagQuery).as("query"), col("context"),
          Rag.promptOf(col("context"), RagQuery).as("prompt"))
    }),

    // CUBE over return-flag × line-status: all four grouping sets in one
    // pass (partial aggregation handles each set map-side).
    "q_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Pivot line-status values into columns (conditional aggregation under
    // the hood — single shuffle on the group key).
    "q_pivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double"))
        .orderBy(col("l_returnflag"))
    }),

    // Per-label centroids: posexplode distributes the vector reduction over
    // (label, dimension) keys — the shape that scales to billions of
    // vectors (no single task ever folds a whole label's vectors).
    // Elements fixed-point-truncated at 1e-12 (floor of an exactly-rounded
    // product is engine-independent; DECIMAL casts round differently across
    // engines at the last digit), integer sums exact.
    "q_centroid" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("val").cast("double") * lit(1000000000000.0)).cast("long")).as("sum_fp"))
        .withColumn("sum_val", col("sum_fp").cast("double") / lit(1000000000000.0))
        .withColumn("centroid", col("sum_val") / col("n"))
        .orderBy(col("label"), col("pos"))
    }),

    // Nearest-centroid assignment (one k-means E-step / centroid
    // classifier eval): label centroids from exact fixed-point sums,
    // broadcast to every embedding row, per-row argmin over the tiny
    // centroid set (min over (dist, label) structs — deterministic
    // tie-break), then the label × assigned confusion matrix. At 100 TB:
    // one scan + broadcast + one small aggregation — no shuffle of the
    // embedding relation itself.
    "q_centroid_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb.groupBy(col("label").as("clabel"))
        .agg(count(lit(1)).as("n"),
          VectorFunctions.vectorSumFp(col("embedding"), 64).as("sums"))
        .select(col("clabel"),
          transform(col("sums"),
            x => x.cast("double") / lit(1000000000000.0) / col("n")).as("cvec"))
      emb.crossJoin(broadcast(cents))
        .withColumn("dist", VectorFunctions.l2Composed(col("embedding"), col("cvec")))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(struct(col("dist"), col("clabel"))).as("m"))
        .select(col("label"), col("m").getField("clabel").as("assigned"))
        .groupBy(col("label"), col("assigned"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("assigned"))
    }),

    // Embedding outlier screening (mislabel/noise detection for training
    // data): the 10 vectors farthest from their OWN label's centroid.
    // Same broadcast shape as q_centroid_assign; top-k never sorts
    // globally (TakeOrderedAndProject).
    "q_centroid_outliers" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb.groupBy(col("label").as("clabel"))
        .agg(count(lit(1)).as("n"),
          VectorFunctions.vectorSumFp(col("embedding"), 64).as("sums"))
        .select(col("clabel"),
          transform(col("sums"),
            x => x.cast("double") / lit(1000000000000.0) / col("n")).as("cvec"))
      emb.join(broadcast(cents), col("label") === col("clabel"))
        .withColumn("dist", VectorFunctions.l2Composed(col("embedding"), col("cvec")))
        .orderBy(col("dist").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("dist"))
    }),

    // PageRank over the symmetrized part↔supplier bipartite graph from
    // lineitem (3 power-iteration rounds, d=0.85): per round one edge⋈rank
    // join + one dst aggregation — the message-passing shape that holds at
    // web-graph scale. Per-edge contributions truncate to 1e-15 fixed
    // point before summing, so the aggregation is exact-integer in any
    // partitioning and the oracle's unrolled CTE replay is bit-identical.
    "q_pagerank" -> ((s, dir) => {
      val p = Tables.lineitem(s, dir)
        .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pagerank(edges, iters = 3)
        .orderBy(col("r").desc, col("id")).limit(20)
    }),

    // Recursive-CTE transitive closure (WITH RECURSIVE, new SQL surface
    // in Spark 4): 3-hop BFS from part 1 over the symmetrized
    // part-supplier graph — per reached node, its minimum hop distance
    // and how many levels it appears on. The recursive step dedups its
    // frontier (SELECT DISTINCT), so each level is bounded by the node
    // count — enumerating the raw walk multiset instead grows with
    // degree^depth and is the classic recursive-query scale-killer (6 s
    // at sf0.1 vs 1 s deduped; unbounded at 100 TB). Both engines run
    // the semantically identical depth-bounded recursion.
    "q_transitive_closure" -> ((s, dir) => {
      val p = Tables.lineitem(s, dir)
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      // pinned: the recursive term re-evaluates its source relation every
      // level — without the cut, each BFS level re-runs the lineitem scan
      // + distinct shuffle (3× the dominant cost; at 100 TB, 3 full table
      // scans for a 3-hop query). Iterate over materialized edges.
      val edges = p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
      edges.createOrReplaceTempView("graft_tc_edges")
      s.sql("""WITH RECURSIVE reach AS (
        |  SELECT CAST(2 AS BIGINT) AS id, 0 AS d
        |  UNION ALL
        |  SELECT DISTINCT e.dst AS id, r.d + 1 AS d
        |  FROM reach r JOIN graft_tc_edges e ON e.src = r.id
        |  WHERE r.d < 3)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist,
        |       CAST(count(*) AS BIGINT) AS n_levels
        |FROM reach GROUP BY id ORDER BY id""".stripMargin)
    }),

    // Pipeline observability (Dataset.observe): metrics accumulated ON
    // the scan while the job runs — no second pass over the data, the
    // production shape for row-count/checksum audits of an ingest at
    // 100 TB (a separate audit query would double the read). The
    // returned frame is built from the observed metrics; the oracle
    // recomputes them relationally, proving the observer saw every row.
    "q_observe_metrics" -> ((s, dir) => {
      val obs = new org.apache.spark.sql.Observation()
      val li = Tables.lineitem(s, dir).observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(dec12)).as("sum_qty"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_r_flag"))
      // the action that streams rows past the observe point
      val nShipped = li.filter(col("l_linestatus") === "F").count()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[java.math.BigDecimal].doubleValue(),
        m("n_r_flag").asInstanceOf[Long],
        nShipped))
        .toDF("n_rows", "sum_qty", "n_r_flag", "n_f_status")
    }),

    // Exact triangle count of the part-co-occurrence graph (parts sharing
    // an order). Degree orientation bounds every out-degree by O(√m), so
    // the wedge join is O(m^1.5) worst-case — the optimum for exact
    // counting — and a Zipf-head hub can never make it quadratic. The
    // pair BUILD is fan-out-capped per order (see coOccurPairs) so a
    // degenerate container key can't make the po⋈po self-join quadratic
    // either. Each triangle is counted exactly once (only one of its
    // nodes out-points to the other two under the total order);
    // everything integer-exact.
    // Lineage-cut durability is chosen by input size: the executor-memory
    // cut (localCheckpoint) is fastest at test scale, but the canonical
    // edge relation grows with the corpus (~15 pairs per order) and
    // pinning 10⁸ edge rows deserialized in executor memory is exactly
    // what dies first on a big corpus — ScaleBench's 100× decade OOMed
    // there. Past the threshold the cuts land in a parquet stage
    // (Stage.Parquet: spillable, lineage-free, restartable — the
    // cluster-durability path Stage.scala documents); same operator
    // topology, different materialization.
    "q_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val po = li
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val stage =
        if (li.count() <= 1000000L) graft.operators.Stage.Local
        else graft.operators.Stage.Parquet(
          java.nio.file.Files.createTempDirectory("graft_tri_stage").toString)
      graft.operators.Graph.triangleCount(coOccurPairs(po), stage)
    }),

    // Convergence-STOPPED PageRank on the l_partkey ≤ 500 symmetrized
    // subgraph: rounds run until the exact fixed-point L1 delta
    // Σ|trunc(r'·1e15) − trunc(r·1e15)| is ≤ 4e14 (or 10 rounds) — the
    // delta is an integer in any partitioning, so the stop decision is
    // deterministic, the oracle re-derives the SAME k from its unrolled
    // replay, and iters_run is part of the hash-checked output. Stops at
    // round 8 on sf0.01, round 4 on sf0.1 — the early-stop path is
    // exercised at both scales.
    "q_pagerank_converged" -> ((s, dir) => {
      val p = Tables.lineitem(s, dir)
        .filter(col("l_partkey") <= 500)
        .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pagerankConverged(edges, maxIters = 10,
          tolFp = 400000000000000L)
        .orderBy(col("r").desc, col("id")).limit(20)
    }),

    // Label-propagation community detection (Graph.labelPropagation) on
    // the part CO-OCCURRENCE graph (parts sharing an order, the
    // q_triangles relation — unipartite; LPA on the bipartite
    // part–supplier graph degenerates into the 2-coloring oscillation):
    // 3 synchronous rounds of adopt-the-most-frequent-neighbor-label
    // with self-vote damping and smallest-label tie-break (fully
    // integer, so every round replays exactly in SQL). Output: the 20
    // largest communities. Complements connected components
    // (reachability) with density-based structure — the
    // corpus-organization primitive for source clustering.
    "q_label_prop" -> ((s, dir) => {
      val po = Tables.lineitem(s, dir)
        .filter(col("l_partkey") <= 300)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val und = coOccurPairs(po).distinct()
      val edges = und.unionAll(
        und.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.labelPropagation(edges, iters = 3)
        .groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
        .select(col("lbl").as("community"), col("n_members"))
        .orderBy(col("n_members").desc, col("community").asc).limit(20)
    }),

    // PageRank over the DIRECTED part→supplier graph: every supplier node
    // is a sink, so this is the dangling-mass path — each round one extra
    // fixed-point aggregate over the dangling nodes' ranks becomes a
    // broadcast scalar redistributed to all nodes. Mass stays conserved
    // (Σr = 1 up to truncation) where the naive formulation would leak
    // 1−d of it per round through the sinks.
    "q_pagerank_dangling" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.Graph.pagerank(edges, iters = 3)
        .orderBy(col("r").desc, col("id")).limit(20)
    }),

    // Personalized PageRank: teleport restricted to a seed set (the 10
    // lowest part nodes) — rank concentrates around the seeds, the
    // seed-expansion / related-items primitive. Same per-round join+agg
    // shape as q_pagerank; the seed set broadcasts.
    "q_pagerank_personalized" -> ((s, dir) => {
      val p = Tables.lineitem(s, dir)
        .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 2 === 0 && col("id") < 20)
      graft.operators.Graph.pagerankPersonalized(edges, seeds, iters = 3)
        .orderBy(col("r").desc, col("id")).limit(20)
    }),

    // Deterministic k-means (Lloyd, k=4, 2 unrolled iterations): seeds =
    // 4 lowest-id vectors, argmin ties to lowest cid, centroid updates
    // through the q_centroid 1e-12 fixed-point sums — every iteration is
    // bit-exact in any engine/partitioning, so the oracle replays the
    // identical unrolled CTE chain. Per iteration: broadcast k centroids,
    // narrow per-row argmin, (cid × dim) update agg — no shuffle of the
    // vector relation itself. Output: per-cluster size, member-id sum, and
    // a 1e-6 fixed-point checksum of the final centroid.
    "q_kmeans" -> ((s, dir) => {
      val (asg, cents) = graft.operators.Clustering.lloyd(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        k = 4, iters = 2, dim = 64)
      val checks = cents.select(col("cid"),
        aggregate(transform(col("cvec"),
            x => floor(x * lit(1000000.0)).cast("long")),
          lit(0L), (a, b) => a + b).as("cent_fp"))
      asg.groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_ids"))
        .join(checks, Seq("cid"))
        .orderBy(col("cid"))
    }),

    // Convergence-STOPPED Lloyd (the q_pagerank_converged pattern for
    // clustering): rounds run until the exact fixed-point centroid drift
    // sum|trunc(c'*1e6) - trunc(c*1e6)| is <= 1.1e6 (or 6 rounds). The
    // drift is an integer over bit-identical doubles, so the stop round
    // (3 on this data) is deterministic and the oracle re-derives the
    // SAME round from its unrolled replay; iters_run is hash-checked.
    "q_kmeans_converged" -> ((s, dir) => {
      val (asg, cents, k) = graft.operators.Clustering.lloydConverged(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        k = 4, maxIters = 6, tolFp = 1100000L, dim = 64)
      val checks = cents.select(col("cid"),
        aggregate(transform(col("cvec"),
            x => floor(x * lit(1000000.0)).cast("long")),
          lit(0L), (a, b) => a + b).as("cent_fp"))
      asg.groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_ids"))
        .join(checks, Seq("cid"))
        .withColumn("iters_run", lit(k))
        .orderBy(col("cid"))
    }),

    // Cluster-separation audit over the trained k-means (the eval loop
    // deciding whether these centroids can key an IVF layout): per
    // cluster, fixed-point sums of own-centroid vs nearest-other-centroid
    // distances and the separation verdict — a simplified silhouette
    // whose per-point work is one cross join against the <= k broadcast
    // centroids (the exact pairwise silhouette is O(n^2), never worth it).
    "q_cluster_quality" -> ((s, dir) => {
      val (asg, cents) = graft.operators.Clustering.lloyd(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        k = 4, iters = 2, dim = 64)
      graft.operators.Clustering.clusterQuality(asg, cents)
    }),

    // Same centroids via the custom UDAF (TypedImperativeAggregate):
    // update() folds rows map-side into a fixed-point long[dim] buffer,
    // merge() combines partition buffers — the shuffle carries one buffer
    // per (label × partition), never rows. Must equal q_centroid exactly.
    "q_centroid_udaf" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          VectorFunctions.vectorSumFp(col("embedding"), 64).as("sums"))
        .select(col("label"), col("n"), posexplode(col("sums")).as(Seq("pos", "sum_fp")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"), col("n"),
          col("sum_fp"),
          (col("sum_fp").cast("double") / lit(1000000000000.0) / col("n")).as("centroid"))
        .orderBy(col("label"), col("pos"))
    }),

    // Skew-salted join: lineitem×orders with the large side salted 8 ways
    // (hot keys spread over 8 partitions; small side replicated). Result
    // must equal the plain join — the oracle is the unsalted SQL.
    "q_salted_join" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
      val dim = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(big, dim.withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", factor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // IVF ANN: nearest-centroid cell assignment, query probes its 2 nearest
    // cells only, exact re-rank inside (Ann.annIvf).
    "ann_ivf" -> ((s, dir) => {
      Ann.annIvf(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
          QueryVec.values, k = 10, nlist = 8, nprobe = 2)
        .select(col("vec_id"), col("label"), col("cell"), col("distance"))
    }),

    // Int8-quantized KNN: integer dot products over 4x-smaller codes,
    // dequantized score ranking (Quantize.knnQuantized).
    "knn_quantized" -> ((s, dir) => {
      Quantize.knnQuantized(Tables.embeddings(s, dir), col("embedding"),
          col("vec_id"), QueryVec.values, k = 10)
        .select(col("vec_id"), col("label"), col("qdot"), col("score"))
    }),

    // Batch KNN join: top-5 neighbours for every query row at once (the
    // reference's retrieval loop as one set operation). Queries broadcast;
    // two-level tournament keeps the top-k window off |queries| hot keys.
    "knn_join" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.knnJoin(emb.filter(col("vec_id") < 3), emb,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 5)
        .orderBy(col("q_id"), col("rn"))
    }),

    // ANN-accelerated batch KNN join: each query probes its own LSH
    // bucket + every ≤2-bit flip (probe depth 2 of 5 planes = 16/32
    // buckets — half the corpus per query instead of all of it), bucket
    // equi-join instead of knn_join's cross join. The hash-embedding
    // corpus is near-orthogonal (hard for sign-plane LSH), so depth 2 is
    // what holds the 0.6 recall floor; real text embeddings cluster and
    // the same operator runs at depth 1 / more planes for deeper cuts.
    // Deterministic hyperplanes → bit-exact oracle replay.
    "ann_join" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.annJoin(emb.filter(col("vec_id") < 3), emb,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
          k = 5, numPlanes = 5, probeBits = 2)
        .orderBy(col("q_id"), col("rn"))
    }),

    // IVF with TRAINED centroids: the k-means run (q_kmeans machinery)
    // becomes the coarse quantizer — cells adapt to the data instead of
    // the formula-deterministic planes/centroids, which is the quality
    // lever q_ann_recall's ivf rows leave on the table. Probing the 2
    // nearest of 4 trained cells scans ~half the corpus; the recall row
    // is replayed exactly by the oracle (training, assignment, probe
    // order, and the metric itself are all deterministic).
    "q_ann_ivf_trained" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions
      val emb = Tables.embeddings(s, dir)
      // k rows — materialized once so the training lineage is not
      // re-executed by each of its two consumers (probes + assignment)
      val cents = graft.operators.Clustering.lloyd(emb, col("vec_id"),
        col("embedding"), k = 4, iters = 2, dim = 64)._2.localCheckpoint()
      val cells = graft.operators.Clustering.assign(emb, cents, col("vec_id"),
          col("embedding"))
        .select(col("id").as("vec_id"), col("cid"))
      val qlit = typedlit(QueryVec.values)
      val probes = cents
        .withColumn("qdist", VectorFunctions.l2Composed(col("cvec"), qlit))
        .withColumn("rn", row_number().over(Window.orderBy(col("qdist"), col("cid"))))
        .filter(col("rn") <= 2).select(col("cid"))
      val ann = emb.join(cells, "vec_id").join(broadcast(probes), "cid")
        .withColumn("distance", VectorFunctions.l2(col("embedding"), qlit))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"))
      val exact = Knn.knn(emb, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.L2).select(col("vec_id"))
      ann.join(exact, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit("ivf_trained_nprobe2").as("method"),
          (col("n_hits").cast("double") / 10).as("recall_at_10"),
          lit(0.5).as("min_recall"),
          (col("n_hits").cast("double") / 10 >= lit(0.5)).as("recall_ok"))
    }),

    // Product-quantization ANN (graft.operators.Pq): train 8 per-subspace
    // 16-centroid codebooks with the deterministic Lloyd, encode every
    // vector to 8 one-byte codes (32× compression vs float32), shortlist
    // by the ADC distance (per-subspace query→centroid tables, summed
    // over codes — the scan reads codes, not vectors), then exact-rerank
    // ONLY the 100-row shortlist and check recall@10 against the exact
    // KNN. This shortlist-then-rerank is the production IVF-PQ shape: at
    // 100 TB the full-vector read happens for 100 rows, the other 10⁹
    // rows cost 8 bytes + 8 table lookups each; composes with the IVF
    // layout (q_ivf_layout) for candidate pruning on top.
    "q_pq_knn" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val books = Pq.trainStaged(emb, col("vec_id"), col("embedding"),
        m = 8, subDim = 8, k = 16, iters = 2,
        stagedPath("pq_books_m8s8k16i2_v1", dir))
      val coded = Pq.encode(emb, col("embedding"), books, subDim = 8)
      val dtabs = Pq.adcTables(QueryVec.values, books, subDim = 8)
      val short = coded.withColumn("adc", Pq.adcColumn(dtabs))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(100)
        .select(col("vec_id"))
      val pq10 = emb.join(short, Seq("vec_id"), "left_semi")
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"))
      val exact = Knn.knn(emb, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.L2).select(col("vec_id"))
      pq10.join(exact, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit("pq_adc_m8_k16_rerank100").as("method"),
          (col("n_hits").cast("double") / 10).as("recall_at_10"),
          lit(0.5).as("min_recall"),
          (col("n_hits").cast("double") / 10 >= lit(0.5)).as("recall_ok"),
          lit(32.0).as("compression_x"))
    }),

    // VERSIONED codebook RE-PUBLISH (Pq.republish — the lifecycle gap:
    // the staged codebooks were a one-shot publish, so a corpus refresh
    // previously forced a manual stage wipe, the reference's
    // crash-on-rerun create_collection shape, email_fetching.py:27):
    // v1 trains on the full corpus, a refresh republishes v2 trained on
    // the surviving half under path/v2 with an atomic _CURRENT pointer
    // swap (readers load old or new whole, never a torn mix), and
    // serving loads whatever is CURRENT. The ADC/recall result must
    // equal training directly on the refreshed corpus — the oracle
    // replays the full PQ pipeline over `embeddings WHERE vec_id % 2 = 0`.
    // PQ VERSION RETENTION (Pq.retain — the cleanup pass the versioned
    // republish deferred): three publications accumulate, retain(keep=1)
    // advances the durable floor (atomic rename, BEFORE any deletion)
    // and reclaims v1/v2; serving from the surviving current publication
    // must be bit-identical to training directly on the refreshed
    // corpus — the same replay as q_pq_republish. The refusal of
    // below-floor loads and the footprint shrink are asserted in PqSpec.
    "q_pq_retain" -> ((s, dir) => {
      val path = stagedPath("pq_books_retain_v2", dir)
      Staging.once(path)(Pq.retentionFloor(path) >= 3L) {
        val emb = Tables.embeddings(s, dir)
        Pq.republish(emb, col("vec_id"), col("embedding"),
          m = 8, subDim = 8, k = 16, iters = 2, path)
        Pq.republish(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
          col("vec_id"), col("embedding"),
          m = 8, subDim = 8, k = 16, iters = 2, path)
        Pq.republish(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          col("vec_id"), col("embedding"),
          m = 8, subDim = 8, k = 16, iters = 2, path)
        Pq.retain(path, keep = 1)
      }
      val refreshed = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(2)) === 0)
      val books = Pq.loadPublished(s, path, m = 8)
      val coded = Pq.encode(refreshed, col("embedding"), books, subDim = 8)
      val dtabs = Pq.adcTables(QueryVec.values, books, subDim = 8)
      val short = coded.withColumn("adc", Pq.adcColumn(dtabs))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(100)
        .select(col("vec_id"))
      val pq10 = refreshed.join(short, Seq("vec_id"), "left_semi")
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"))
      val exact = Knn.knn(refreshed, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.L2).select(col("vec_id"))
      pq10.join(exact, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit("pq_adc_retained_v3_rerank100").as("method"),
          (col("n_hits").cast("double") / 10).as("recall_at_10"),
          lit(0.5).as("min_recall"),
          (col("n_hits").cast("double") / 10 >= lit(0.5)).as("recall_ok"),
          lit(32.0).as("compression_x"))
    }),

    "q_pq_republish" -> ((s, dir) => {
      val path = stagedPath("pq_books_repub_v2", dir)
      Staging.once(path)(Pq.currentVersion(path) >= 2L) {
        val emb = Tables.embeddings(s, dir)
        Pq.republish(emb, col("vec_id"), col("embedding"),
          m = 8, subDim = 8, k = 16, iters = 2, path)
        Pq.republish(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          col("vec_id"), col("embedding"),
          m = 8, subDim = 8, k = 16, iters = 2, path)
      }
      val refreshed = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(2)) === 0)
      val books = Pq.loadPublished(s, path, m = 8)
      val coded = Pq.encode(refreshed, col("embedding"), books, subDim = 8)
      val dtabs = Pq.adcTables(QueryVec.values, books, subDim = 8)
      val short = coded.withColumn("adc", Pq.adcColumn(dtabs))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(100)
        .select(col("vec_id"))
      val pq10 = refreshed.join(short, Seq("vec_id"), "left_semi")
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"))
      val exact = Knn.knn(refreshed, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.L2).select(col("vec_id"))
      pq10.join(exact, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit("pq_adc_republished_v2_rerank100").as("method"),
          (col("n_hits").cast("double") / 10).as("recall_at_10"),
          lit(0.5).as("min_recall"),
          (col("n_hits").cast("double") / 10 >= lit(0.5)).as("recall_ok"),
          lit(32.0).as("compression_x"))
    }),

    // IVF-PQ — the full production ANN pipeline in one query: IVF cell
    // pruning (scan only the nprobe nearest cells of the static coarse
    // quantizer — the q_ivf_layout partition scheme) × PQ compression
    // (ADC over one-byte codes inside the probed cells) × exact rerank
    // of the shortlist. At 100 TB: partition pruning cuts the scan to
    // nprobe/nlist of the store, the surviving scan reads 8-byte codes
    // instead of 256-byte vectors, and full vectors load for 100 rows.
    // n_candidates (how many rows survived the prune) is part of the
    // hash-checked result.
    "q_ivf_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val books = Pq.trainStaged(emb, col("vec_id"), col("embedding"),
        m = 8, subDim = 8, k = 16, iters = 2,
        stagedPath("pq_books_m8s8k16i2_v1", dir))
      val probes = Ann.ivfProbes(QueryVec.values, nlist = 8, nprobe = 3)
      val cand = Pq.encode(emb, col("embedding"), books, subDim = 8)
        .withColumn("cell", Ann.cellOf(col("embedding"), 8, 64))
        .filter(col("cell").isin(probes: _*))
      val dtabs = Pq.adcTables(QueryVec.values, books, subDim = 8)
      val short = cand.withColumn("adc", Pq.adcColumn(dtabs))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(100)
        .select(col("vec_id"))
      val pq10 = emb.join(short, Seq("vec_id"), "left_semi")
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"))
      val exact = Knn.knn(emb, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.L2).select(col("vec_id"))
      pq10.join(exact, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
        .select(lit("ivf_pq_nprobe3_m8_k16_rerank100").as("method"),
          (col("n_hits").cast("double") / 10).as("recall_at_10"),
          lit(0.3).as("min_recall"),
          (col("n_hits").cast("double") / 10 >= lit(0.3)).as("recall_ok"),
          col("n_candidates"))
    }),

    // BATCHED IVF-PQ serving — the multi-query twin of q_ivf_pq and the
    // last single-query-only serving path in the ANN family: ONE plan
    // serves all 8 batch queries. The staged codebooks train once and
    // serve the whole batch; the candidate scan prunes to the UNION of
    // the batch's probed cells and the broadcast (q_id, cell) routing
    // joins each code row to exactly the queries probing its cell (the
    // IvfIndex.probeBatch recipe); the per-query ADC distance is one
    // CASE-dispatched map-literal chain (Pq.adcBatchColumn — batch ≡ N
    // single adcColumns by construction, all inside codegen); shortlist,
    // exact rerank and recall are per-query windows over shared scans.
    // At 100 TB the batch amortizes the cell scan across queries instead
    // of N+1 separate probe passes. The oracle replays training once and
    // every member's probe/shortlist/rerank chain per q_id.
    "q_ivf_pq_batch" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val books = Pq.trainStaged(emb, col("vec_id"), col("embedding"),
        m = 8, subDim = 8, k = 16, iters = 2,
        stagedPath("pq_books_m8s8k16i2_v1", dir))
      val qs = BatchQueryIds.map(b =>
        (b.toLong, OracleGen.QueryVec.shiftedValues(b)))
      val routing = qs.flatMap { case (qid, v) =>
        Ann.ivfProbes(v, nlist = 8, nprobe = 3).map(c => (qid, c)) }
      val cells = routing.map(_._2).distinct.sorted
      val route = routing.toDF("q_id", "cell")
      val qvecs = qs.toDF("q_id", "q_vec")
      val cand = Pq.encode(emb, col("embedding"), books, subDim = 8)
        .withColumn("cell", Ann.cellOf(col("embedding"), 8, 64))
        .filter(col("cell").isin(cells: _*))
        .join(broadcast(route), Seq("cell"))
        .localCheckpoint() // feeds the shortlist AND the per-query count
      val nCand = cand.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_candidates"))
      val wShort = Window.partitionBy(col("q_id"))
        .orderBy(col("adc").asc, col("vec_id").asc)
      val short = cand
        .withColumn("adc", Pq.adcBatchColumn(
          qs.map { case (qid, v) => qid -> Pq.adcTables(v, books, subDim = 8) }))
        .withColumn("rn", row_number().over(wShort))
        .filter(col("rn") <= 100)
        .select(col("q_id"), col("vec_id"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("distance").asc, col("vec_id").asc)
      val pq10 = short.join(emb, Seq("vec_id"))
        .join(broadcast(qvecs), Seq("q_id"))
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), col("q_vec")))
        .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"))
      val exact = Knn.knnJoin(qvecs, emb, col("q_id"), col("q_vec"),
          col("vec_id"), col("embedding"), k = 10)
        .select(col("q_id"), col("c_id").as("vec_id"))
      val hits = pq10.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      qvecs.select(col("q_id")).join(hits, Seq("q_id"), "left_outer")
        .join(nCand, Seq("q_id"), "left_outer")
        .select(col("q_id"),
          lit("ivf_pq_nprobe3_m8_k16_rerank100").as("method"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 10)
            .as("recall_at_10"),
          lit(0.3).as("min_recall"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 10 >= lit(0.3))
            .as("recall_ok"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy(col("q_id"))
    }),

    // IR evaluation metrics for the batch ANN path: per query, MRR
    // (reciprocal rank of the first exact-top-5 hit) and nDCG@5 of
    // ann_join's ranking against the exact top-5 as relevance. DCG terms
    // use 1e-12 fixed-point rank weights emitted as shared literals
    // (log2 is not correctly rounded across engines), so the metric
    // itself — not just a flag — replays bit-exact in the oracle.
    "q_retrieval_metrics" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
      val exact = Knn.knnJoin(queries, emb, col("vec_id"), col("embedding"),
        col("vec_id"), col("embedding"), k = 5).select(col("q_id"), col("c_id"))
      val ann = Ann.annJoin(queries, emb, col("vec_id"), col("embedding"),
        col("vec_id"), col("embedding"), k = 5, numPlanes = 5, probeBits = 2)
        .select(col("q_id"), col("c_id"), col("rn"))
      val wfp = dcgWeightFp(5)
      val w = (1 to 5).foldLeft(lit(0L)) { (acc, rn) =>
        when(col("rn") === rn, lit(wfp(rn - 1))).otherwise(acc)
      }
      val idcgFp = wfp.sum
      val marked = ann
        .join(exact.withColumn("_rel", lit(1)), Seq("q_id", "c_id"), "left")
        .select(col("q_id"), col("rn"),
          coalesce(col("_rel"), lit(0)).as("rel"))
      marked.groupBy(col("q_id"))
        .agg(sum(col("rel")).cast("long").as("n_rel"),
          min(when(col("rel") === 1, col("rn"))).as("first_rel"),
          sum(when(col("rel") === 1, w).otherwise(lit(0L))).cast("long").as("dcg_fp"))
        .select(col("q_id"), col("n_rel"),
          coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("mrr"),
          (col("dcg_fp").cast("double") / lit(idcgFp).cast("double")).as("ndcg"))
        .orderBy(col("q_id"))
    }),

    // Batch-retrieval recall as a tracked metric: ann_join's top-5 per
    // query scored against the exact knn_join top-5 — the multi-query
    // twin of q_ann_recall. Both sides are deterministic, so the oracle
    // replays the recall itself exactly (stronger than a TRUE-flag).
    "q_ann_join_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
      val exact = Knn.knnJoin(queries, emb, col("vec_id"), col("embedding"),
        col("vec_id"), col("embedding"), k = 5).select(col("q_id"), col("c_id"))
      val approx = Ann.annJoin(queries, emb, col("vec_id"), col("embedding"),
        col("vec_id"), col("embedding"), k = 5, numPlanes = 5, probeBits = 2)
        .select(col("q_id"), col("c_id"))
      val hits = approx.join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(5)).as("recall_at_5"),
          lit(0.6).as("min_recall"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(5) >= lit(0.6))
            .as("recall_ok"))
        .orderBy(col("q_id"))
    }),

    // ANN recall as a tracked, oracled metric (tolerance-flag contract of
    // q_approx_distinct): recall@10 of each approximate method against its
    // exact baseline — lsh_multi and ivf vs exact L2 top-10, quantized
    // (dot-ranked) vs exact dot top-10 — with each method's contractual
    // floor in the output. lsh_multi/quantized carry >= 0.8; ivf with
    // formula-deterministic (untrained) centroids at nprobe=4/8 trades
    // half the scan for roughly half the recall, so its floor is 0.4 —
    // nprobe is the recall lever, k-means training the quality lever.
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val exactL2 = Knn.knn(emb, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.L2).select(col("vec_id"))
      val exactDot = Knn.knn(emb, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.Dot).select(col("vec_id"))
      def row(method: String, minRecall: Double, approx: DataFrame,
              baseline: DataFrame): DataFrame =
        approx.join(baseline, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(method).as("method"),
            (col("n_hits").cast("double") / 10).as("recall_at_10"),
            lit(minRecall).as("min_recall"),
            (col("n_hits").cast("double") / 10 >= lit(minRecall)).as("recall_ok"))
      row("ivf_nprobe4", 0.4,
          Ann.annIvf(emb, col("embedding"), col("vec_id"), QueryVec.values,
            k = 10, nlist = 8, nprobe = 4).select(col("vec_id")), exactL2)
        .unionAll(row("lsh_multi", 0.8,
          Ann.annLshMulti(emb, col("embedding"), col("vec_id"), QueryVec.values,
            k = 10).select(col("vec_id")), exactL2))
        .unionAll(row("quantized", 0.8,
          Quantize.knnQuantized(emb, col("embedding"), col("vec_id"),
            QueryVec.values, k = 10).select(col("vec_id")), exactDot))
        .orderBy(col("method"))
    }),

    // Graph-ANN (NSW-family, single navigable layer — the distributed
    // re-formulation of the HNSW index the reference's Chroma store
    // builds implicitly on add, email_fetching.py:27,54-57): a staged
    // neighbour graph (per-node top-degree among ≤1-bit-bucket-apart
    // candidates — bucketed equi-join, never all-pairs) plus
    // deterministic beam search seeded with one start per LSH bucket.
    // The oracle replays the WHOLE mechanism — graph construction,
    // every hop's frontier, the final top-k — so recall_at_10 AND the
    // visited-set size are hash-checked, not asserted: n_scored ≪
    // |corpus| certifies the query never scanned the table, and the
    // recall floor documents the contract.
    // Served from the PERSISTED index (GraphAnnIndex — built once per
    // corpus into the staged layout, the durable twin of the in-memory
    // build): the query is just the two beam walks; the oracle still
    // replays the whole mechanism (graph construction included), so
    // serving from the stage is hash-checked identical to rebuilding.
    "q_graph_ann_recall" -> ((s, dir) => {
      val visited = graft.operators.GraphAnnIndex.query(s,
        graphAnnIndexPath(s, dir), QueryVec.values, beam = 16, hops = 6)
      graphAnnRecallRow(s, dir, visited, "graph_beam", 0.8)
    }),

    // Build-once/query-MANY against the persisted index: the same staged
    // index serves two independent query invocations; the runs must be
    // row-identical (runs_identical — computed as a symmetric
    // exceptAll, not assumed) and the recall row carries the same
    // oracle replay as q_graph_ann_recall, so "querying the stage ≡
    // rebuilding" is proven for every run, not just the first.
    "q_graph_ann_persisted" -> ((s, dir) => {
      val idx = graphAnnIndexPath(s, dir)
      val run1 = graft.operators.GraphAnnIndex.query(s, idx,
        QueryVec.values, beam = 16, hops = 6).localCheckpoint()
      val run2 = graft.operators.GraphAnnIndex.query(s, idx,
        QueryVec.values, beam = 16, hops = 6).localCheckpoint()
      val mism = run1.exceptAll(run2).unionAll(run2.exceptAll(run1))
        .agg(count(lit(1)).as("n_mismatch"))
      graphAnnRecallRow(s, dir, run1, "graph_persisted", 0.8)
        .crossJoin(mism)
        .withColumn("runs_identical", col("n_mismatch") === 0L)
        .drop("n_mismatch")
    }),

    // INCREMENTAL index maintenance: the index was built on 2/3 of the
    // corpus and the last third APPENDED (GraphAnnIndex.append — only
    // the destination-bucket partitions the batch landed in were
    // recomputed; AnnSpec asserts untouched partitions byte-identical).
    // The oracle replays a FULL build over the whole corpus, so
    // append-then-query ≡ rebuild-then-query is hash-checked end to end.
    "q_graph_ann_append" -> ((s, dir) => {
      val visited = graft.operators.GraphAnnIndex.query(s,
        graphAnnAppendedPath(s, dir), QueryVec.values, beam = 16, hops = 6)
      graphAnnRecallRow(s, dir, visited, "graph_append", 0.8)
    }),

    // AUTO-COMPACTION POLICY for the graph-ANN index
    // (GraphAnnIndex.compactIfFragmented — closes the maintenance-policy
    // asymmetry: postings/windows auto-compact on tombstoned-row
    // fraction, the file-granular indexes now auto-compact on
    // files-per-partition; see graphAnnAutocPath for the fire/no-fire
    // assertions). Append ≡ rebuild and compaction is row-invariant, so
    // the oracle replays the FULL-corpus build like q_graph_ann_append.
    "q_graph_ann_autocompact" -> ((s, dir) => {
      val visited = graft.operators.GraphAnnIndex.query(s,
        graphAnnAutocPath(s, dir), QueryVec.values, beam = 16, hops = 6)
      graphAnnRecallRow(s, dir, visited, "graph_autoc", 0.8)
    }),

    // Incremental DELETION (GraphAnnIndex.delete — the tombstone path a
    // corpus refresh needs): every vec_id ≡ 0 (mod 7) was deleted from
    // the staged index, recomputing only the victims' neighbourhood
    // partitions over the remaining nodes. The oracle replays a FULL
    // build over the remaining corpus, so delete-then-query ≡
    // rebuild-on-remaining is hash-checked end to end (including that no
    // deleted vector can appear in any hop).
    "q_graph_ann_delete" -> ((s, dir) => {
      val visited = graft.operators.GraphAnnIndex.query(s,
        graphAnnDeletedPath(s, dir), QueryVec.values, beam = 16, hops = 6)
      graphAnnRecallRow(s, dir, visited, "graph_delete", 0.8,
        corpus = Tables.embeddings(s, dir)
          .filter(pmod(col("vec_id"), lit(7)) =!= 0))
    }),

    // BATCHED multi-query serving (GraphAnnIndex.queryBatch): ONE job
    // set walks all 8 queries against the staged index — every relation
    // in the walk keyed by (q_id, node), per-query frontiers via one
    // window — instead of 8 independent walks (the N+1 serving shape;
    // cf. the reference's per-email fetch, email_fetching.py:38-40).
    // The oracle replays EVERY query's full single-walk (shared graph
    // CTEs, one walk chain per query), so per-query batch ≡ single is
    // hash-checked; BENCH measures the shared-job-set cost vs 8× the
    // single-query walk.
    "q_graph_ann_batch" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("distance").asc, col("id").asc)
      val qs = BatchQueryIds.map(b =>
          (b.toLong, OracleGen.QueryVec.shiftedValues(b)))
        .toDF("q_id", "q_vec")
      graft.operators.GraphAnnIndex.queryBatch(s,
          graphAnnIndexPath(s, dir), qs, beam = 16, hops = 6)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("rn"), col("id"), col("distance"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Streaming SERVING against the persisted doc-window (MaxSim) stage
    // — the late-interaction member of the serving family, closing the
    // one persisted index that had streaming ingest but no serving
    // loop: the 4 batch queries stream in over 2 micro-batches and each
    // batch is served as ONE batched pass
    // (Retrieval.maxSimBatchFromStage — windows deduplicated across the
    // batch, wtok scan pruned to the batch's token buckets), never a
    // stage pass per query. Per-query rows are batching-independent, so
    // the drained union must equal q_maxsim_batch exactly — the oracle
    // IS its per-query pruned-MaxSim replay.
    "q_stream_maxsim_serve" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      import s.implicits._
      val stage = docWindowsPath(s, dir)
      val slices = (0 until 2).map(g =>
        BatchMaxSimQueries.zipWithIndex.filter(_._2 % 2 == g)
          .map { case (q, i) => (i.toLong, q.split(" ").toSeq) }
          .toDF("q_id", "terms"))
      val srcDir = graft.streaming.Streaming.stageSlicesSource(slices,
        stagedPath("maxsim_serve_queries_2f_v1", dir))
      val src = s.readStream.schema(slices.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      graft.streaming.Streaming.drainServeFromWindows(src, stage, k = 10,
          "maxsimserve_" + Integer.toHexString(dir.hashCode))
        .orderBy(col("q_id"), col("rank"))
    }),

    // Streaming SERVING against the persisted graph-ANN index — the
    // navigable-graph completion of the serving family (q_stream_store
    // _serve is the flat-store member): the batch queries stream in over
    // 2 micro-batches (a staged one-file-per-batch source) and each
    // batch is walked as ONE batched beam search
    // (GraphAnnIndex.queryBatch), never a walk per query — the streaming
    // fix for the reference's per-item fetch loop (email_fetching
    // .py:38-40). Each query's walk is contained in its batch and the
    // batched walk is per-query ≡ the single walk, so the drained union
    // followed by per-query top-10 must equal q_graph_ann_batch exactly
    // — the oracle IS q_graph_ann_batch's per-query walk replay.
    "q_stream_graph_serve" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      import s.implicits._
      val idx = graphAnnIndexPath(s, dir)
      // 2 batches, not more: each micro-batch pays one batched-walk
      // latency REGARDLESS of how many queries it carries (the hop
      // joins are batch-size-independent — that is the point of the
      // batched walk), so every extra batch is a full walk's wall-clock
      // and two batches already prove batching-invariance
      val slices = (0 until 2).map(g =>
        BatchQueryIds.filter(_ % 2 == g)
          .map(b => (b.toLong, OracleGen.QueryVec.shiftedValues(b)))
          .toDF("q_id", "q_vec"))
      val srcDir = graft.streaming.Streaming.stageSlicesSource(slices,
        stagedPath("graph_serve_queries_2f_v1", dir))
      val src = s.readStream.schema(slices.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val visited = graft.streaming.Streaming.drainServeFromGraphAnn(src,
        idx, "graphserve_" + Integer.toHexString(dir.hashCode))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("distance").asc, col("id").asc)
      visited.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("rn"), col("id"), col("distance"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Margin-criterion bitext mining (Ann.bitextMine): cross-"language"
    // parallel-pair candidates (label parity splits the corpus into the
    // two embedding sides) scored by cosine RELATIVE to both local
    // neighbourhoods — the published fix for absolute-threshold mining
    // breaking in dense regions. Integer fixed point end to end, so the
    // mined pair list hash-replays in SQL.
    "q_bitext_mine" -> ((s, dir) => {
      Ann.bitextMine(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), col("label") % 2 === 0,
          k = 4, marginFpMin = 1050L)
        .orderBy(col("a_id"))
    }),

    // ANN recall under CLUSTER SKEW — the regime real embedding
    // distributions live in (q_ann_recall's corpus is uniform-ish, which
    // flatters every bucketing). The corpus is re-centered into 16 tight
    // clusters (hash-derived centers dominate a 0.05-scaled residual);
    // the query's entire nearest cluster then hashes to ONE bucket that
    // is NOT the query's own bucket, so single-probe LSH demonstrably
    // collapses (ceiling ≤ 0.3 asserted; measured 0.0) while multi-probe
    // (single-bit flips reach the cluster's bucket) and IVF nprobe=4
    // hold the 0.8 floor. This is why multi-probe/IVF are the scale
    // path: clustered data makes single-probe recall a coin flip on
    // which side of a hyperplane a cluster fell.
    "q_ann_recall_skewed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cl = emb.select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(63)), i =>
          ((((col("label") * 73 + i * 37) % 19) - 9).cast("double") * lit(0.3) +
            element_at(col("embedding"), i + 1).cast("double") * lit(0.05))
            .cast("float")).as("embedding"))
      val exact = Knn.knn(cl, col("embedding"), col("vec_id"),
        QueryVec.values, 10, Knn.L2).select(col("vec_id"))
      def row(method: String, bound: Double, kind: String,
              approx: DataFrame): DataFrame = {
        val rec = approx.join(exact, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select((col("n_hits").cast("double") / 10).as("recall_at_10"))
        rec.select(lit(method).as("method"), col("recall_at_10"),
          lit(bound).as("bound"), lit(kind).as("kind"),
          (if (kind == "ceiling") col("recall_at_10") <= lit(bound)
           else col("recall_at_10") >= lit(bound)).as("recall_ok"))
      }
      row("lsh_single", 0.3, "ceiling",
          Ann.annLsh(cl, col("embedding"), col("vec_id"), QueryVec.values,
            10, numPlanes = 4).select(col("vec_id")))
        .unionAll(row("lsh_multi", 0.8, "floor",
          Ann.annLshMulti(cl, col("embedding"), col("vec_id"), QueryVec.values,
            10, numPlanes = 4).select(col("vec_id"))))
        .unionAll(row("ivf_nprobe4", 0.8, "floor",
          Ann.annIvf(cl, col("embedding"), col("vec_id"), QueryVec.values,
            k = 10, nlist = 8, nprobe = 4).select(col("vec_id"))))
        .orderBy(col("method"))
    }),

    // Range (band) join: orders priced into tier bands via a non-equi join
    // against a tiny broadcast dimension — BroadcastNestedLoop, no shuffle
    // of the fact side.
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val tiers = Seq(
        ("bronze", 0L, 50000L), ("silver", 50000L, 150000L),
        ("gold", 150000L, 300000L), ("platinum", 300000L, 1000000000L))
        .toDF("tier", "lo", "hi")
      Tables.orders(s, dir)
        .join(broadcast(tiers),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
        .orderBy(col("tier"))
    }),

    // Analytic-function zoo over orders per customer: ranking, offsets,
    // distribution functions, and unbounded frames — one window shuffle
    // on (o_custkey), all functions share it.
    "q_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_us").asc, col("o_orderkey").asc)
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .withColumn("o_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .filter(col("o_custkey") < 20)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("tile4"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          first(col("o_orderkey")).over(wFull).as("first_key"),
          last(col("o_orderkey")).over(wFull).as("last_key"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // GROUPING SETS with grouping() disambiguation (completes the
    // rollup/cube/grouping-sets trio) — via the SQL surface.
    "q_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    }),

    // TPC-H Q3 shape (shipping priority): selective dimension filter
    // broadcast into a 3-way join, grouped top-10 by revenue. At scale the
    // customer side broadcasts and lineitem never shuffles before the agg.
    "q3_shipping" -> ((s, dir) => {
      val cutoff = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"), col("o_orderpriority"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), discPrice.as("rev_part"))
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_us"), col("o_orderpriority"))
        .agg(sum(col("rev_part")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // Exact second moments from integer fixed-point sums: mean, sample
    // variance/stddev, and corr(quantity, discount) computed from power
    // sums (bit-exact across engines; raw-double stddev partial-merge
    // order is not). Sums accumulate as DECIMAL(38,0) so the
    // sum-of-squares never overflows at corpus scale (see Stats).
    // ANALYZE-style CBO statistics over orders: per-column row/non-null/
    // exact-distinct counts plus numeric min/max, one aggregation pass
    // (Expand for the exact distincts; approx_count_distinct is the
    // same-shape 100 TB lever). The stats a cost-based optimizer feeds
    // selectivity estimation from.
    "q_table_stats" -> ((s, dir) => {
      graft.operators.Stats.tableStats(Tables.orders(s, dir),
          numericCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
          otherCols = Seq("o_orderstatus", "o_orderpriority"))
        .orderBy(col("col_name"))
    }),

    // Declarative data-quality expectations (graft.operators.DataQuality)
    // — the admission gate of a training pipeline, over three tables:
    // all row-level rules per table fuse into ONE scan, uniqueness is a
    // count-distinct aggregate, referential integrity a broadcast
    // anti-join. Rule mix is chosen so some PASS and some genuinely FAIL
    // on this corpus (tax cap, value cap, status set) — the audit must
    // prove it detects, not just that the data is clean.
    "q_dq_audit" -> ((s, dir) => {
      import graft.operators.DataQuality
      import graft.operators.DataQuality.RowRule
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val ev = Tables.events(s, dir)
      DataQuality.audit(Seq(
        DataQuality.rowAudit(li, Seq(
          RowRule("li_quantity_range",
            col("l_quantity").isNull ||
              col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
          RowRule("li_tax_cap",
            col("l_tax").isNull || col("l_tax") > 0.05),
          RowRule("li_shipdate_not_null", col("l_shipdate").isNull))),
        DataQuality.rowAudit(ord, Seq(
          RowRule("ord_status_accepted",
            col("o_orderstatus").isNull ||
              !col("o_orderstatus").isin("O", "F")),
          RowRule("ord_totalprice_positive",
            col("o_totalprice").isNull || col("o_totalprice") <= 0.0))),
        DataQuality.rowAudit(ev, Seq(
          RowRule("ev_value_cap",
            col("value").isNull || col("value") > 400.0))),
        DataQuality.uniqueAudit(ord, "ord_orderkey_unique", col("o_orderkey")),
        DataQuality.uniqueAudit(ev, "ev_event_id_unique", col("event_id")),
        DataQuality.fkAudit("li_orderkey_fk", li, col("l_orderkey"),
          ord, col("o_orderkey")),
        DataQuality.fkAudit("ev_user_fk", ev, col("user_id"),
          Tables.customer(s, dir), col("c_custkey"))))
    }),

    // The ANALYZE scale path: HLL-sketch NDV per column (mergeable, no
    // Expand) with a tracked within-5% flag against the exact NDV.
    "q_table_stats_approx" -> ((s, dir) => {
      graft.operators.Stats.tableStatsApprox(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
            "o_orderpriority"), rsd = 0.02, tol = 0.05)
        .orderBy(col("col_name"))
    }),

    // Exact equi-depth histogram (the CBO's other statistic) in its
    // scale-shaped form: per-nation supplier balance histograms, 4
    // equal-count bins each, deterministic tie order. The ntile window
    // PARTITIONS BY nation, so the sorts parallelize across groups — no
    // single-partition WindowExec anywhere in this plan (asserted in
    // StatsSpec + the all-queries plan sweep). The fact-table statistic
    // is the sketch path, q_histogram_approx.
    "q_histogram" -> ((s, dir) => {
      graft.operators.Stats.equiDepthHistogramBy(Tables.supplier(s, dir),
        col("s_nationkey"), col("s_acctbal"), col("s_suppkey"), buckets = 4)
    }),

    // The same statistic by the 100 TB path: sketch boundaries +
    // width_bucket binning, accuracy tracked via the tolerance flag
    // (no global sort / single-partition window in this plan).
    "q_histogram_approx" -> ((s, dir) => {
      graft.operators.Stats.equiDepthHistogramApprox(Tables.orders(s, dir),
        col("o_totalprice"), buckets = 8, accuracy = 10000, tol = 0.05)
    }),

    "q_stats_moments" -> ((s, dir) => {
      val qfp = round(col("l_quantity") * lit(100)).cast("long")
      val dfp = round(col("l_discount") * lit(100)).cast("long")
      val n = col("n")
      graft.operators.Stats.powerSums(
          Tables.lineitem(s, dir), col("l_returnflag"), qfp, dfp)
        .select(col("k").as("l_returnflag"), n,
          (col("sq").cast("double") / n / 100.0).as("mean_qty"),
          graft.operators.Stats.sampleVar(n, col("sqq"), col("sq"), 10000.0).as("var_qty"),
          sqrt(graft.operators.Stats.sampleVar(n, col("sqq"), col("sq"), 10000.0)).as("std_qty"),
          graft.operators.Stats.corrFromSums(n, col("sq"), col("sd"),
            col("sqq"), col("sdd"), col("sqd")).as("corr_qty_disc"))
        .orderBy(col("l_returnflag"))
    }),

    // Hive-style partitioned layout round-trip: write orders partitioned
    // by year (one-time setup per sf-dir, guarded by the writer's _SUCCESS
    // marker), read back filtered on the partition column — the filter
    // prunes directories (PartitionFilters in the scan), never touching
    // non-1998 files. The layout pattern that makes 100 TB scans cheap;
    // with the setup split out, the measured query IS the pruned read.
    // Schema evolution on read: the staged table holds files written under
    // two schema generations (v1: doc_id+text; v2 adds lang+n_chars) —
    // mergeSchema reconciles them into one relation with NULLs for the
    // pre-evolution rows, the lakehouse schema-drift contract. One-time
    // staging, content-fingerprinted like every staged layout.
    "q_schema_evolution" -> ((s, dir) => {
      val stage = stagedPath("schema_evo_v1", dir)
      Staging.once(stage)(Staging.written(stage, "_GRAFT_DONE")) {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        Files.createDirectories(Paths.get(stage))
        val docs = Tables.documents(s, dir)
        def writeIn(df: DataFrame, name: String): Unit = {
          val tmp = Files.createTempDirectory("graft_evo").toString
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = Files.list(Paths.get(tmp)).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error("no parquet part for schema stage"))
          Staging.moveFile(part, Paths.get(stage, name))
          Staging.deleteRec(tmp)
        }
        writeIn(docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text")), "gen1.parquet")
        writeIn(docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars")),
          "gen2.parquet")
        Files.createFile(Paths.get(stage, "_GRAFT_DONE"))
      }
      s.read.option("mergeSchema", "true").parquet(stage)
        .groupBy(coalesce(col("lang"), lit("<pre-evolution>")).as("lang2"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
        .orderBy(col("lang2"))
    }),

    "q_partition_prune" -> ((s, dir) => {
      val out = stagedPath("part_orders_v1", dir)
      Staging.once(out)(Staging.written(out)) {
        Tables.orders(s, dir)
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(out)
      }
      s.read.parquet(out)
        .filter(col("o_year") === 1998)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
        .orderBy(col("o_orderpriority"))
    }),

    // Dynamic partition pruning: the fact table is laid out by day; the
    // dim side's filter (tag = 'keep') is only known at run time, and the
    // broadcast result is re-used as a partition filter on the fact scan
    // (PartitionFilters: dynamicpruningexpression — asserted in
    // ScaleLayoutSpec). At 100 TB this is the difference between scanning
    // 3 partitions and scanning all of them when the pruning predicate
    // arrives via a join instead of a literal.
    "q_dpp_join" -> ((s, dir) => {
      val out = stagedPath("events_by_day_v1", dir)
      val dimOut = stagedPath("day_dim_v1", dir)
      Staging.once(out)(Staging.written(out)) {
        Tables.events(s, dir)
          .withColumn("day", expr("ts div 1000 div 86400000000"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
      }
      Staging.once(dimOut)(Staging.written(dimOut)) {
        import s.implicits._
        // int days match the inferred partition-column type, keeping the
        // join key the bare partition attribute (what DPP keys on); the
        // dim is a real parquet table so its runtime filter survives as
        // a Filter node (a literal local relation would constant-fold
        // and DPP would see no pruning filter to reuse)
        (19723 to 19752).map(d => (d, if (d <= 19725) "keep" else "drop"))
          .toDF("day", "tag")
          .write.mode("overwrite").parquet(dimOut)
      }
      val dim = s.read.parquet(dimOut)
      s.read.parquet(out)
        .join(broadcast(dim.filter(col("tag") === "keep")), "day")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .select(col("day").cast("long").as("day"), col("n"), col("sum_cents"))
        .orderBy(col("day"))
    }),

    // Full-outer join with unmatched sides on both ends (customers with no
    // orders / order keys outside the customer slice), classified and
    // counted.
    "q_full_outer" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_custkey") <= 1000)
        .select(col("c_custkey"))
      val ords = Tables.orders(s, dir)
        .filter(col("o_custkey") >= 500)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(col("c_custkey").isNotNull.as("has_cust"),
          col("o_custkey").isNotNull.as("has_ord"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .groupBy(col("has_cust"), col("has_ord"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n_orders")).as("sum_orders"))
        .orderBy(col("has_cust"), col("has_ord"))
    }),

    // ---- Structured Streaming, verified end-to-end (SURVEY.md §2.9) ----

    // Streaming twin of q_window_hourly: file-source readStream →
    // watermarked tumbling-window agg → drained to a distributed parquet
    // sink (foreachBatch from the executors — no driver materialization).
    // The oracle is the BATCH semantics — incremental execution must
    // converge to it.
    // Stream-static dimension enrichment: the events stream joins the
    // static customer table (user_id = c_custkey) — the planner re-reads
    // the static side per micro-batch and BROADCASTS it under the join,
    // so the streaming side stays narrow (no stream-side shuffle for the
    // join). Rolled up per market segment in Complete mode; proven over
    // >= 3 micro-batches against the one-pass batch join oracle.
    "q_stream_static_join" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = src.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec12)).cast("double").as("sum_value"))
      graft.streaming.Streaming.drainToParquet(agg,
          "static_join_" + Integer.toHexString(dir.hashCode))
        .orderBy(col("c_mktsegment"))
    }),

    // Watermark late-data semantics, proven end-to-end: the source plants
    // a final out-of-order file replaying event-times from the start of
    // the stream (stageSplitSourceWithLate) after 3 in-order batches have
    // advanced the watermark days past them. Append mode emits each hourly
    // window exactly once when the watermark passes its end; the late rows
    // MUST be dropped (their windows are finalized) and the trailing
    // windows inside the 30-min delay MUST NOT emit. The oracle computes
    // exactly that: non-late rows only, windows ending at or before
    // max-event-time − 30 min. Any double-count, loss, or premature
    // emission breaks the hash.
    "q_stream_late" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSourceWithLate(
          s, dir, "events", "ts", "event_id"))
      val agg = src
        .select(timestamp_micros(expr("ts div 1000")).as("ts_t"), col("value"))
        .withWatermark("ts_t", "30 minutes")
        .groupBy(window(col("ts_t"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec12)).cast("double").as("sum_value"))
      graft.streaming.Streaming.drainAppendToParquet(agg,
          "late_" + Integer.toHexString(dir.hashCode))
        .select(expr("unix_micros(window.start) div 3600000000").as("hour_bucket"),
          col("n"), col("sum_value"))
        .orderBy(col("hour_bucket"))
    }),

    // Streaming sketch state: per-event-type approx quantiles maintained
    // as a mergeable KLL-style sketch across >= 3 micro-batches
    // (complete-mode state = one sketch per key, never the rows). The
    // tolerance flags score the converged stream sketch against the
    // exact batch quantiles — the q_table_stats_approx contract, here
    // proving the sketch survives incremental merge.
    "q_stream_quantiles" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
      val agg = src.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"),
            array(lit(0.5), lit(0.9)), lit(10000)).as("qs"),
          count(lit(1)).as("n"))
      val streamed = graft.streaming.Streaming.drainToParquet(agg,
        "quantiles_" + Integer.toHexString(dir.hashCode))
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.5D, 0.9D))").as("eqs"),
          (max(col("value")) - min(col("value"))).as("rng"))
      streamed.join(exact, "event_type")
        .select(col("event_type"), col("n"),
          (abs(element_at(col("qs"), 1) - element_at(col("eqs"), 1)) <=
            lit(0.05) * col("rng")).as("p50_within_tol"),
          (abs(element_at(col("qs"), 2) - element_at(col("eqs"), 2)) <=
            lit(0.05) * col("rng")).as("p90_within_tol"))
        .orderBy(col("event_type"))
    }),

    "q_stream_hourly" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
      val agg = src
        .select(timestamp_micros(expr("ts div 1000")).as("ts_t"), col("value"))
        .withWatermark("ts_t", "2 hours")
        .groupBy(window(col("ts_t"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec12)).cast("double").as("sum_value"))
      graft.streaming.Streaming.drainToParquet(agg,
          "hourly_" + Integer.toHexString(dir.hashCode))
        .select(expr("unix_micros(window.start) div 3600000000").as("hour_bucket"),
          col("n"), col("sum_value"))
        .orderBy(col("hour_bucket"))
    }),

    // Checkpoint recovery (streaming durability): the q_stream_hourly
    // aggregation drained through a KILLED-AND-RESTARTED query — run 1
    // dies on a planted failure after committing only micro-batch 0, run 2
    // resumes from the explicit checkpoint. The restarted source never
    // re-reads batch 0's file (offset log), so matching the whole-table
    // batch oracle proves the state store recovered batch 0's counts from
    // the checkpoint. drainWithRestart also audits the commit log to rule
    // out a silent from-scratch rerun.
    "q_stream_restart" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val srcDir = graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts")
      val schema = Tables.events(s, dir).schema
      val mk = () => s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(timestamp_micros(expr("ts div 1000")).as("ts_t"), col("value"))
        .withWatermark("ts_t", "2 hours")
        .groupBy(window(col("ts_t"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec12)).cast("double").as("sum_value"))
      graft.streaming.Streaming.drainWithRestart(mk,
          "restart_" + Integer.toHexString(dir.hashCode))
        .select(expr("unix_micros(window.start) div 3600000000").as("hour_bucket"),
          col("n"), col("sum_value"))
        .orderBy(col("hour_bucket"))
    }),

    // Checkpoint recovery of DEDUP STATE: every event is delivered twice
    // in consecutive micro-batches (stageSplitSourceWithRetrans), the
    // query is killed between first and second deliveries and resumed
    // from the checkpoint. The exactly-once oracle is the falsifier: a
    // from-scratch rerun would lose the state store, re-admit the
    // straddling duplicates, and hash-mismatch. The watermark delay is
    // SIZED FROM THE STAGED SPLIT WIDTH (state must outlive exactly one
    // micro-batch, which needs delay > width/2; we use 2·width + 1h),
    // not a constant — the width is (max ts − min ts)/3 of whatever
    // events table the driver generated, so a wider-spanned testdata
    // generation widens the watermark with it instead of silently
    // evicting dedup state before the retransmission lands.
    "q_stream_restart_dedup" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val (srcDir, widthNanos) = graft.streaming.Streaming
        .stageSplitSourceWithRetrans(s, dir, "events", "ts")
      val delayHours = 2L * widthNanos / 3600000000000L + 1L
      val schema = Tables.events(s, dir).schema
      val mk = () => s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ts_t"))
        .withWatermark("ts_t", s"$delayHours hours")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
      graft.streaming.Streaming.drainAppendWithRestart(mk,
        "restartdd_" + Integer.toHexString(dir.hashCode))
    }),

    // Streaming session windows (session_window, 30-min gap): one row per
    // (user, session), session end = last event + gap. Batch-oracled like
    // q_stream_hourly (the oracle is lag-based sessionization SQL).
    "q_stream_sessions" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
      val sess = graft.streaming.Streaming.sessionCounts(
        src.select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts_t")),
        "ts_t", "user_id", gap = "30 minutes")
      graft.streaming.Streaming.drainToParquet(sess,
          "sessions_" + Integer.toHexString(dir.hashCode))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // Watermarked stream-stream interval join (append mode — join rows
    // are final on emission): errors within 1 hour after a purchase by
    // the same user. Both sides watermarked so join state is bounded and
    // evictable; drained through the append parquet sink. The oracle is
    // the equivalent batch interval join.
    "q_stream_join" -> ((s0, dir) => {
      // a stream-stream join keeps FOUR state stores per partition, each
      // paying fixed checkpoint/commit cost per micro-batch — at this
      // state volume fewer, larger stores win (now the session default,
      // measured ~9% across the twin family); a real deployment sizes
      // this to state bytes per partition, not CPU count.
      val s = graft.streaming.Streaming.streamSession(s0, partitions = 4)
      val schema = Tables.events(s, dir).schema
      val staged = graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts")
      def src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
          timestamp_micros(expr("ts div 1000")).as("p_ts"))
      val errors = src.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("event_id").as("e_event"),
          timestamp_micros(expr("ts div 1000")).as("e_ts"))
      val joined = graft.streaming.Streaming.intervalJoinKeys(
          purchases, errors, "p_user", "e_user", "p_ts", "e_ts",
          within = "1 hour", watermarkDelay = "2 hours")
        .select(col("p_user").as("user_id"), col("p_event"), col("e_event"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("e_ts")).as("e_us"))
      graft.streaming.Streaming.drainAppendToParquet(joined,
        "join_" + Integer.toHexString(dir.hashCode))
    }),

    // Stream-stream LEFT OUTER interval join: purchases that saw no error
    // within the hour emit with NULL error columns — but only once the
    // watermark proves no match can still arrive, so the tail of the
    // stream would otherwise sit in state forever. A flush-sentinel file
    // (one far-future purchase + error pair, event_id = -1, filtered out
    // of the result) pushes the watermark past every real row; the
    // drained result then equals the batch left join exactly.
    "q_stream_left_join" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0, partitions = 4)
      val schema = Tables.events(s, dir).schema
      val staged = graft.streaming.Streaming.stageSplitSourceWithFlush(
        s, dir, "events", "ts", "flushlj",
        (df, mx) => df.limit(1).select(
          lit(-1L).as("event_id"),
          lit(mx + 365L * 24 * 3600 * 1000000000L).as("ts"),
          lit(-1L).as("user_id"),
          explode(array(lit("purchase"), lit("error"))).as("event_type"),
          lit(0.0).as("value"), lit("").as("props")))
      def src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
          timestamp_micros(expr("ts div 1000")).as("p_ts"))
      val errors = src.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("event_id").as("e_event"),
          timestamp_micros(expr("ts div 1000")).as("e_ts"))
      val joined = graft.streaming.Streaming.intervalJoinKeys(
          purchases, errors, "p_user", "e_user", "p_ts", "e_ts",
          within = "1 hour", watermarkDelay = "2 hours",
          joinType = "left_outer")
        .select(col("p_user").as("user_id"), col("p_event"), col("e_event"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("e_ts")).as("e_us"))
      // the sentinel filter must run on the DRAINED result, not in the
      // stream: as a left-side predicate Catalyst would push it below the
      // purchase-side EventTimeWatermark node, which then never sees the
      // sentinel and pins the min-policy watermark forever (measured:
      // the last watermark-delay's worth of null rows never flushed)
      graft.streaming.Streaming.drainAppendToParquet(joined,
          "ljoin_" + Integer.toHexString(dir.hashCode))
        .filter(col("p_event") =!= -1L)
    }),

    // At-least-once ingest dedup (dropDuplicatesWithinWatermark): every
    // event is delivered TWICE — the original and a retransmit one minute
    // later with the same event_id (the classic at-least-once delivery
    // shape). The watermarked dedup emits each id exactly once and keeps
    // state only within the watermark horizon, unlike dropDuplicates
    // whose state grows forever. Projecting only columns identical
    // across the two copies makes the output deterministic regardless of
    // which copy wins the race inside a micro-batch.
    "q_stream_dedup_wm" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val schema = Tables.events(s, dir).schema
      val staged = graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts")
      def src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val once = src.select(col("event_id"), col("user_id"),
        col("event_type"), timestamp_micros(expr("ts div 1000")).as("ts_t"))
      val retrans = src.select(col("event_id"), col("user_id"),
        col("event_type"),
        (timestamp_micros(expr("ts div 1000")) +
          expr("INTERVAL 1 MINUTE")).as("ts_t"))
      val deduped = once.unionByName(retrans)
        .withWatermark("ts_t", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
      graft.streaming.Streaming.drainAppendToParquet(deduped,
        "dedupwm_" + Integer.toHexString(dir.hashCode))
    }),

    // Streaming ingest-and-embed (the reference's E1 pipeline as a
    // stream): file-source documents → hash-embed (stateless narrow
    // stage, identical code to the batch path) → append drain. One row
    // per doc with the fixed-point embedding checksum; oracle is the
    // batch embed.
    "q_stream_embed" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "documents", "doc_id"))
      val emb = graft.streaming.Streaming.embedStream(src, "doc_id", "text")
        .select(col("doc_id"),
          aggregate(transform(col("embedding"),
              x => floor(x * lit(1000000000000.0)).cast("long")),
            lit(0L), (acc, v) => acc + v).as("emb_fp"))
      graft.streaming.Streaming.drainAppendToParquet(emb,
        "embed_" + Integer.toHexString(dir.hashCode))
    }),

    // Clean-ON-INGEST: the corpus-cleaning ops composed into the
    // streaming path — per micro-batch, the planted docs are PII-scrubbed
    // (stateless narrow regex) and boilerplate-filtered against a STATIC
    // heavy-hitter line set computed batch-side and broadcast under every
    // micro-batch (the stream-static shape; the set must be static — a
    // per-batch line-df would make early batches see less boilerplate).
    // Stateless transforms → the emitted per-doc rows are an
    // order-independent set the one-pass batch chain oracles exactly.
    "q_stream_clean" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      def planted(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), concat_ws("\n",
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com")),
          lit("Subscribe to our newsletter"),
          concat(lit("Group footer "), (col("doc_id") % 7).cast("string")))
          .as("text"))
      def scrub(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"),
          regexp_replace(col("text"), TrainData.EmailPattern, "<EMAIL>")
            .as("text"))
      // static boilerplate set from the full (scrubbed) corpus
      val bl = broadcast(scrub(planted(Tables.documents(s, dir)))
        .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
        .groupBy(col("line")).agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 50)
        .agg(coalesce(collect_list(col("line")),
          array().cast("array<string>")).as("bl")))
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "documents", "doc_id"))
      val out = scrub(planted(src))
        .select(col("doc_id"), split(col("text"), "\n").as("ls"))
        .crossJoin(bl)
        .select(col("doc_id"),
          filter(col("ls"), x => !array_contains(col("bl"), x)).as("kept"),
          size(col("ls")).as("n_lines"))
        .select(col("doc_id"), size(col("kept")).cast("long").as("n_kept"),
          (col("n_lines") - size(col("kept"))).cast("long").as("n_dropped"),
          md5(array_join(col("kept"), "\n")).as("clean_md5"))
      graft.streaming.Streaming.drainAppendToParquet(out,
        "clean_" + Integer.toHexString(dir.hashCode))
        .orderBy(col("doc_id"))
    }),

    // Audit-ON-INGEST (Streaming.drainBatchAudit): the data-quality
    // expectations run per micro-batch — one fused aggregate per batch,
    // no second read — and the per-batch ledger (batch, rule,
    // violations, rows) is the hash-checked output. The production
    // quarantine gate: a batch whose violation rate spikes is caught
    // before it lands. Batches are the deterministic event_id range
    // splits, so the oracle replays each batch's counts relationally.
    "q_stream_dq" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      import graft.operators.DataQuality.RowRule
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir,
          "events", "event_id"))
      graft.streaming.Streaming.drainBatchAudit(src, Seq(
          RowRule("ev_type_accepted", col("event_type").isNull ||
            !col("event_type").isin("click", "view", "purchase", "signup")),
          RowRule("ev_user_not_null", col("user_id").isNull),
          RowRule("ev_value_cap", col("value").isNull || col("value") > 400.0)),
          "dq_" + Integer.toHexString(dir.hashCode))
        .select(col("b"), col("rule"), col("n_violations"),
          col("n_rows"), col("pass"))
        .orderBy(col("b"), col("rule"))
    }),

    // Streaming exact dedup — the core training-data op, incremental:
    // dropDuplicates keeps one state entry per content hash and append
    // mode emits each distinct content exactly once (first arrival). The
    // emitted SET is order-independent, so the batch DISTINCT oracles it.
    // Streaming CDC-apply (MERGE sink): the events change-log streams in
    // over >= 3 micro-batches; each batch collapses to latest-per-user and
    // MERGEs onto the persisted snapshot (update existing users, insert
    // new ones) — after the final batch the snapshot is exactly the latest
    // event per user, which is what the oracle computes in one batch pass.
    // Cross-batch correctness is the point: a user updated in batches 0
    // and 2 must surface batch 2's row.
    "q_stream_merge" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
          col("value"))
      val snap = graft.streaming.Streaming.drainMergeSnapshot(src,
        sys.props("java.io.tmpdir") + "/graft_stream_merge_snap_" +
          Integer.toHexString(dir.hashCode),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
      snap.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("value").cast(dec12)).cast("double").as("sum_value"),
          sum(col("user_id")).as("sum_users"))
        .orderBy(col("event_type"))
    }),

    "q_stream_dedup" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "documents", "doc_id"))
      val distinctHashes = src.select(md5(col("text")).as("text_md5"))
        .dropDuplicates("text_md5")
      graft.streaming.Streaming.drainAppendToParquet(distinctHashes,
        "dedup_" + Integer.toHexString(dir.hashCode))
    }),

    // Streaming near-dup ingest gate: documents stream in over >= 3
    // micro-batches; each batch is screened against the staged reference
    // corpus (the planted near-dup copies), rejected rows are the docs
    // whose copy is already in the reference, and the audit sink pins
    // every verdict with its batch id. n_batches = 3 in both rows proves
    // the gate really ran per micro-batch.
    "q_stream_dedup_gate" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val sigStage = gateRefSigsPath(s, dir)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "documents", "doc_id"))
        .select(col("doc_id").as("id"), col("text"))
      val audit = graft.streaming.Streaming.drainDedupGate(src, sigStage,
        "gate_" + Integer.toHexString(dir.hashCode), threshold = 0.5)
      audit.groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("id")).cast("long").as("sum_ids"),
          count_distinct(col("_batch_id")).as("n_batches"))
        .orderBy(col("status"))
    }),

    // The GROWING-reference gate — the full production ingest loop:
    // screen each micro-batch, absorb what was accepted, so later
    // batches are also gated against earlier accepted documents (not
    // just the fixed reference). Batch order is pinned by
    // stageSplitSource's mtimes, so the oracle replays the exact
    // sequence by unrolling the three batches.
    "q_stream_dedup_absorb" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val sigStage = gateRefSigsPath(s, dir)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "documents", "doc_id"))
        .select(col("doc_id").as("id"), col("text"))
      val audit = graft.streaming.Streaming.drainDedupGateGrowing(src, sigStage,
        "gateg_" + Integer.toHexString(dir.hashCode), threshold = 0.5)
      audit.groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("id")).cast("long").as("sum_ids"),
          count_distinct(col("_batch_id")).as("n_batches"))
        .orderBy(col("status"))
    }),

    // Streaming ingest INTO the persisted vector store (the reference's
    // continuous fetch → embed → store-add loop against the partitioned
    // layout): documents stream in over >= 3 micro-batches, each batch
    // hash-embeds (stateless narrow) and lands in the bucket-partitioned
    // store — first batch creates, later batches append idempotently.
    // The measured probe reads only the probed bucket partitions of the
    // streamed-in store; the oracle is the batch embed + bucket probe.
    "q_stream_vector_ingest" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "documents", "doc_id"))
      val vecs = graft.streaming.Streaming.embedStream(src, "doc_id", "text")
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val store = stagedPath("stream_vec_store_v1", dir)
      graft.streaming.Streaming.drainToVectorStore(vecs, store, "embedding", "vec_id")
      graft.operators.VectorStore.queryL2(s, store, "embedding", "vec_id",
          QueryVec.values, 5)
        .select(col("vec_id"), col("bucket"), col("distance"))
    }),

    // The full serving loop of the reference's chat as a STREAM:
    // follow-up turns resolve statefully (flatMapGroupsWithState), each
    // micro-batch's turns retrieve from the STATIC persisted postings
    // index (stream-static — the corpus side never re-tokenizes), k=5
    // per turn. Turns are Append-emitted once and retrieval is per-turn
    // independent, so the drained union must equal the one-shot batch
    // retrieval — the same oracle as q_conversation_rag.
    //
    // Cost floor, measured in round 16 (sf0.1 solo, 2 rounds):
    // full drain 7.2 s; the identical pipeline with a NO-OP sink
    // (stateful resolve + state-store commits + machinery, zero
    // retrieval) 1.8 s; the ONE-SHOT batch retrieval over the same
    // turns 4.1-4.8 s. So the residue above the one-shot is ~0.6 s/batch
    // of streaming machinery plus per-batch retrieval-plan overhead
    // (scheduling + sink write + dfreq broadcast) — NOT growing work:
    // a micro-batch of 3k turns pays the same fixed cost as one of 30,
    // so it amortizes with real batch sizes. The round-13 "2×"
    // aspiration is closed as measured-infeasible at this fixture: the
    // target (~2.8 s) is below the one-shot batch retrieval itself
    // (4.1 s solo), i.e. below the cost of the WORK, not the wrapper.
    "q_stream_conversation_rag" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      import s.implicits._
      val stage = docPostingsPath(s, dir)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir,
          "documents", "doc_id"))
      val turns = graft.operators.Conversation.deriveTurns(src)
        .as[graft.streaming.Streaming.TurnC]
      val resolved = graft.streaming.Streaming.resolveConversation(turns).toDF()
      graft.streaming.Streaming.drainRetrieveFromStage(resolved, stage,
          k = 5, ConvMaxPostings,
          "convrag_" + Integer.toHexString(dir.hashCode))
        .orderBy(col("conv_id"), col("turn_no"), col("rank"))
    }),

    // Streaming ingest INTO the persisted postings index — the lexical
    // twin of q_stream_graph_ann: documents stream in over ≥3
    // micro-batches; the first builds the stage, later batches go
    // through the INCREMENTAL append (touched tokens re-ranked, df
    // merged, globals advanced — affected hash-bucket partitions only),
    // and a final compact keeps file counts flat. Because append ≡
    // rebuild and compact is invariant, BM25 from the drained index
    // must equal BM25 over a one-shot full build — which is what the
    // oracle replays (same full-corpus replay as q_bm25).
    //
    // Cost shape (profiled at sf0.1): ~1.1 s is streaming machinery;
    // the rest is the per-batch maintenance passes themselves, each a
    // build-or-append of 3 hash-bucketed relations whose partitioned
    // writes bottom out at ~1-2 s each locally (partition-column sort +
    // one task per bucket) — a fixed per-pass cost that amortizes at
    // real batch sizes; the stream family's growth is measured linear
    // with bounded state in BENCH_SCALE.json.
    //
    // Why the round-16 LSM append (written bytes ∝ touched posting
    // lists, no partition rewritten — see appendPostings) does NOT move
    // THIS measurement: the fixture's batches are thirds of the corpus,
    // and a third of a text corpus contains nearly every vocabulary
    // token, so the re-ranked set ≈ the whole relation either way. The
    // write-amplification fix is proven at the file level
    // (RetrievalSpec: no pre-existing postings file is ever rewritten)
    // and pays off in the real regime — micro-batches ≪ corpus, where
    // the old path rewrote keep ∪ rerank for every touched partition
    // (≈ the corpus per append at 64 buckets) and the LSM path writes
    // only the batch's tokens' re-ranked lists.
    "q_stream_postings_ingest" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir,
          "documents", "doc_id"))
      val stage = stagedPath("stream_postings_v3", dir)
      graft.streaming.Streaming.drainToPostingsStage(
        src.select(col("doc_id"), col("text")), stage, "doc_id", "text")
      graft.operators.Retrieval.bm25FromStage(s, stage,
          RagQuery.split(" ").toSeq)
        .orderBy(col("score_fp").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("n_terms"), col("score_fp"))
    }),

    // Streaming SERVING against the persisted vector store — queries
    // stream in over ≥3 micro-batches (every 125th embedding, spread
    // across the range splits so each batch carries ≥1) and each batch
    // is served as ONE batched multi-probe (VectorStore.queryL2Batch):
    // the query-side twin of the ingest drains, and the streaming
    // completion of the N+1 serving fix. Per-query results are
    // batching-invariant, so the drained union must equal the one-shot
    // batched probe — the oracle replays every query's multi-probe
    // chain from the embeddings table.
    "q_stream_store_serve" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val path = vectorStorePath(s, dir)
      val src = s.readStream.schema(Tables.embeddings(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir,
          "embeddings", "vec_id"))
      val queries = src.filter(col("vec_id") % 125 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.streaming.Streaming.drainServeFromStore(queries, path, k = 5,
          "storeserve_" + Integer.toHexString(dir.hashCode))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Streaming ingest INTO the persisted doc-window (MaxSim) index —
    // the late-interaction twin of q_stream_postings_ingest: documents
    // stream in over ≥3 micro-batches; the first builds the stage,
    // later batches go through the purely-additive appendWindows, and a
    // final compact flattens small files (and GCs vocabulary orphans).
    // Because append ≡ rebuild by construction and compact is
    // invariant, pruned MaxSim from the drained index must equal the
    // one-shot full build — the same full-corpus replay oracle as
    // q_maxsim_staged. Same cost shape as q_stream_postings_ingest:
    // per-batch maintenance passes (3 partitioned relation writes each)
    // dominate; streaming machinery itself is ~1.1 s.
    "q_stream_windows_ingest" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir,
          "documents", "doc_id"))
      val stage = stagedPath("stream_windows_v2", dir)
      graft.streaming.Streaming.drainToWindowsStage(
        src.select(col("doc_id"), col("text")), stage, "doc_id", "text")
      graft.operators.Retrieval.maxSimPrunedFromStage(s, stage,
          RagQuery.split(" ").toSeq)
        .orderBy(col("maxsim_fp").desc, col("doc_id"))
        .limit(10)
    }),

    // Streaming ingest INTO the persisted graph-ANN index (the
    // reference's add-on-ingest implicit HNSW build, email_fetching
    // .py:54-57, against the staged layout): embeddings stream in over
    // >= 3 micro-batches — the first builds the index, later batches go
    // through the INCREMENTAL append (touched destination buckets only).
    // Because append ≡ rebuild, the drained index must serve exactly
    // what a one-shot build over the whole corpus serves — which is what
    // the oracle replays (same full build+walk as q_graph_ann_recall,
    // method-tagged).
    "q_stream_graph_ann" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.embeddings(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir,
          "embeddings", "vec_id"))
      val idx = stagedPath("stream_graph_ann_v1", dir)
      graft.streaming.Streaming.drainToGraphAnnIndex(
        src.select(col("vec_id"), col("embedding")), idx, "vec_id", "embedding")
      val visited = graft.operators.GraphAnnIndex.query(s, idx,
        QueryVec.values, beam = 16, hops = 6)
      graphAnnRecallRow(s, dir, visited, "graph_stream", 0.8)
    }),

    // Custom keyed state (flatMapGroupsWithState) over the event stream:
    // running per-user count + exact integer cents sum, emitted in Update
    // mode across >= 3 micro-batches; the drain keeps each user's LATEST
    // update (max batch id), which after the final batch is the converged
    // state — the batch GROUP BY oracles it.
    // Sliding (overlapping) event-time windows: 2-hour windows every
    // hour, so each event lands in exactly two windows — the overlap
    // bookkeeping the tumbling q_stream_hourly doesn't exercise. Same
    // watermark/state machinery, ≥3 micro-batches.
    "q_stream_sliding" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
      val agg = src
        .select(timestamp_micros(expr("ts div 1000")).as("ts_t"))
        .withWatermark("ts_t", "3 hours")
        .groupBy(window(col("ts_t"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.drainToParquet(agg,
          "sliding_" + Integer.toHexString(dir.hashCode))
        .select(expr("unix_micros(window.start) div 3600000000").as("win_start_hour"),
          col("n"))
        .orderBy(col("win_start_hour"))
    }),

    // Streaming heavy hitters: running per-user event counts (complete-
    // mode state) re-emitting the top-10 every micro-batch — the live
    // leaderboard/abuse-detection shape. Cross-batch state merge must
    // converge to the batch GROUP BY oracle.
    "q_stream_topk" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
      val agg = src.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.drainTopK(agg,
          "topk_" + Integer.toHexString(dir.hashCode), 10,
          Seq(col("n").desc, col("user_id")))
        .orderBy(col("n").desc, col("user_id"))
    }),

    "q_stream_user_stats" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      import s.implicits._
      val src = s.readStream.schema(Tables.events(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "events", "ts"))
      val ev = src.select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[graft.streaming.Streaming.UserEventC]
      val stats = graft.streaming.Streaming.runningUserStatsExact(ev).toDF()
      graft.streaming.Streaming.drainUpdateToParquet(stats,
        "userstats_" + Integer.toHexString(dir.hashCode), Seq("user_id"))
    }),

    // Multi-turn conversation state (rag.py:169-196's chat loop made
    // stateful): every 5th doc is a turn in one of 8 conversations;
    // short elliptical turns are follow-ups that inherit the most recent
    // anchor's terms. Resolution is ONE window pass per conversation.
    "q_conversation_resolve" -> ((s, dir) => {
      graft.operators.Conversation.resolveTurns(
          graft.operators.Conversation.deriveTurns(Tables.documents(s, dir)))
        .select(col("conv_id"), col("turn_no"), col("is_followup"),
          col("resolved_query"))
        .orderBy(col("conv_id"), col("turn_no"))
    }),

    // Follow-up-aware retrieval for EVERY turn as one inverted-index
    // equi-join (turn terms ⋈ postings on token, integer tf·idf, window
    // top-5 per turn) — never a per-turn loop.
    // Served from the persisted postings stage (shared with q_bm25 and
    // q_conversation_context — ONE index build per corpus feeds the
    // whole lexical family); the oracle replays the from-corpus build.
    "q_conversation_rag" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val resolved = graft.operators.Conversation.resolveTurns(
        graft.operators.Conversation.deriveTurns(docs))
      graft.operators.Conversation.retrieveForTurnsFromStage(resolved, s,
          docPostingsPath(s, dir), k = 5, maxPostings = ConvMaxPostings)
        .orderBy(col("conv_id"), col("turn_no"), col("rank"))
    }),

    // Per-turn ordered context assembly (A2 per turn): top-3 docs joined
    // back to text, concatenated in rank order — the context the M2
    // generation stage would consume at each turn of the conversation.
    "q_conversation_context" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val resolved = graft.operators.Conversation.resolveTurns(
        graft.operators.Conversation.deriveTurns(docs))
      val topk = graft.operators.Conversation.retrieveForTurnsFromStage(
        resolved, s, docPostingsPath(s, dir), k = 3,
        maxPostings = ConvMaxPostings)
      graft.operators.Conversation.assemblePerTurn(topk, docs)
        .orderBy(col("conv_id"), col("turn_no"))
    }),

    // Streaming twin of q_conversation_resolve: live conversation state
    // via flatMapGroupsWithState keyed by conv_id (last anchor utterance,
    // O(1) per conversation). Turn derivation is stateless arithmetic so
    // the SAME deriveTurns runs on the readStream; the converged Append
    // output must equal the batch window resolution.
    "q_stream_conversation" -> ((s0, dir) => {
      val s = graft.streaming.Streaming.streamSession(s0)
      import s.implicits._
      val src = s.readStream.schema(Tables.documents(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(graft.streaming.Streaming.stageSplitSource(s, dir, "documents", "doc_id"))
      val turns = graft.operators.Conversation.deriveTurns(src)
        .as[graft.streaming.Streaming.TurnC]
      val resolved = graft.streaming.Streaming.resolveConversation(turns).toDF()
      graft.streaming.Streaming.drainAppendToParquet(resolved,
          "conv_" + Integer.toHexString(dir.hashCode))
        .orderBy(col("conv_id"), col("turn_no"))
    })
  )

  /** Shared DuckDB mirror of the IVF probe (Ann.annIvf nlist=8 nprobe=2
    * k=10): nearest-of-8 cell assignment via the least-distance CASE
    * (first-wins tie-break, same as Ann.cellOf), probe the 2 cells nearest
    * the query, exact re-rank. Used by both ann_ivf (in-memory cells) and
    * q_ivf_layout (cell-partitioned persisted layout) — the two Spark
    * paths must serve identical rows.
    */
  /** IVF probe replay: static-centroid cell assignment + pruned exact
    * top-10. `where` restricts the corpus (the delete-lifecycle oracle
    * replays on the remaining rows).
    */
  /** Full-corpus persisted IVF index, built once per sf dir — the
    * serving-side stage q_ivf_probe_batch / q_stream_ivf_serve probe.
    */
  private def ivfIndexFullPath(s: SparkSession, dir: String): String = {
    val path = stagedPath("ivf_idx_full_v1", dir)
    Staging.once(path)(graft.operators.IvfIndex.exists(path)) {
      graft.operators.IvfIndex.build(Tables.embeddings(s, dir),
        "vec_id", "embedding", path, nlist = 8, dim = 64)
    }
  }

  /** Batched/streamed IVF serving replay: the shared static-centroid
    * cell assignment, then one probe chain per batch query (its own
    * driver-computed probe set + shifted l2), top-10 each, unioned.
    */
  private def ivfBatchOracleSql: String = {
    val nlist = 8
    val dCols = (0 until nlist)
      .map(j => s"    ${OracleGen.l2ToCentroid("embedding", j, 64)} AS d$j")
      .mkString(",\n")
    val caseArms = (0 until nlist - 1)
      .map(j => s"WHEN d$j = mind THEN $j").mkString(" ")
    val selects = BatchQueryIds.map { b =>
      val probes = Ann.ivfProbes(OracleGen.QueryVec.shiftedValues(b),
        nlist, 2).mkString(", ")
      s"""(SELECT CAST($b AS BIGINT) AS q_id,
         |  CAST(row_number() OVER (ORDER BY distance ASC, vec_id ASC)
         |    AS BIGINT) AS rn, vec_id, cell, distance FROM (
         |  SELECT vec_id, cell,
         |    ${OracleGen.l2ToQueryShifted("embedding", b)} AS distance
         |  FROM cells)
         |WHERE cell IN ($probes)
         |ORDER BY distance ASC, vec_id ASC LIMIT 10)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH dists AS (
       |  SELECT vec_id, embedding,
       |$dCols
       |  FROM embeddings),
       |cells AS (
       |  SELECT vec_id, embedding,
       |    CASE $caseArms ELSE ${nlist - 1} END AS cell
       |  FROM (SELECT *, least(${(0 until nlist).map("d" + _).mkString(", ")}) AS mind
       |        FROM dists))
       |$selects
       |ORDER BY q_id, rn""".stripMargin
  }

  private def ivfProbeOracleSqlOn(where: String): String = {
    val nlist = 8
    val probes = Ann.ivfProbes(QueryVec.values, nlist, 2)
    val dCols = (0 until nlist)
      .map(j => s"    ${OracleGen.l2ToCentroid("embedding", j, 64)} AS d$j")
      .mkString(",\n")
    val caseArms = (0 until nlist - 1)
      .map(j => s"WHEN d$j = mind THEN $j").mkString(" ")
    s"""WITH dists AS (
       |  SELECT vec_id, label, embedding,
       |$dCols
       |  FROM embeddings$where),
       |cells AS (
       |  SELECT vec_id, label, embedding,
       |    CASE $caseArms ELSE ${nlist - 1} END AS cell
       |  FROM (SELECT *, least(${(0 until nlist).map("d" + _).mkString(", ")}) AS mind
       |        FROM dists))
       |SELECT vec_id, label, cell, ${OracleGen.l2ToQuery("embedding")} AS distance
       |FROM cells WHERE cell IN (${probes.mkString(", ")})
       |ORDER BY distance ASC, vec_id ASC LIMIT 10""".stripMargin
  }

  private lazy val ivfProbeOracleSql: String = ivfProbeOracleSqlOn("")

  /** Per-query BM25 replay of the 4-query lexical batch — shared by
    * q_bm25_batch (static-literal pruning) and q_bm25_batch_pruned
    * (forced broadcast-semi-join pruning): the bounded-plan guard must
    * not change a single row, so both hash-check against the same SQL.
    */
  private lazy val bm25BatchOracleSql: String = {
    val chains = BatchLexQueries.zipWithIndex.map { case (q, i) =>
      bm25CtesNamed(s"b${i}_", q.split(" ").toSeq, "documents")
    }.mkString(",\n")
    val selects = BatchLexQueries.indices.map { i =>
      s"""(SELECT CAST($i AS BIGINT) AS q_id,
         |  CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id)
         |    AS BIGINT) AS rank, doc_id, n_terms, score_fp FROM (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
         |  FROM b${i}_scored GROUP BY doc_id)
         |ORDER BY score_fp DESC, doc_id LIMIT 10)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $chains\n$selects\nORDER BY q_id, rank"
  }

  /** DuckDB `AS MATERIALIZED` hints on every non-recursive CTE of every
    * oracle: DuckDB re-evaluates a CTE per downstream REFERENCE inside
    * the long replay chains, so a staged replay whose late members each
    * touch several early ones goes super-linear in chain depth —
    * measured at sf0.01, the corpus-build replay fell 591 s → 0.5 s,
    * k-means 54 s → 1.1 s, the batched-RRF replay 56 s → 0.9 s, and the
    * IVF-PQ batch replays stopped OOM-killing the checker worker. The
    * hint is REPLAY COST ONLY — results are bit-identical (the self-gate
    * re-asserts every query after the change) — but it is what lets a
    * driver-side checker with bounded memory/time survive the full
    * oracle set. Self-referencing (recursive) members are left alone:
    * MATERIALIZED is invalid on them. Brace-matching, not SQL parsing:
    * a CTE is `name AS (`...matched close...`)`, recursion is the name
    * occurring in its own body (false positives just skip the hint).
    */
  private[graft] def materializeCtes(sql: String): String = {
    // Per-char non-structural mask: parens (and `name AS (` matches)
    // inside a single-quoted literal, a double-quoted identifier, or a
    // `--` line comment are TEXT, not structure — counting them would
    // mis-extract a body whose literal/identifier/comment holds an
    // unbalanced paren (e.g. a "col(1)" identifier) and could stamp
    // MATERIALIZED on a recursive CTE (DuckDB rejects that). The naive
    // quote TOGGLE is exactly right for SQL's doubled-quote escape in
    // both quote kinds: `''`/`""` toggles out-then-in, so the escaped
    // quote's tail stays marked in-string. Block comments (/* */) are
    // the one remaining exclusion — no oracle generator emits them.
    val inStr = new Array[Boolean](sql.length)
    var q = false      // inside '...'
    var dq = false     // inside "..."
    var cmt = false    // inside -- ... \n
    var i = 0
    while (i < sql.length) {
      val c = sql(i)
      if (cmt) { inStr(i) = true; if (c == '\n') cmt = false }
      else if (q) { inStr(i) = true; if (c == '\'') q = false }
      else if (dq) { inStr(i) = true; if (c == '"') dq = false }
      else if (c == '\'') { inStr(i) = true; q = true }
      else if (c == '"') { inStr(i) = true; dq = true }
      else if (c == '-' && i + 1 < sql.length && sql(i + 1) == '-') {
        inStr(i) = true; cmt = true
      } else inStr(i) = false
      i += 1
    }
    val m = java.util.regex.Pattern.compile("(\\w+) AS\\s*\\(").matcher(sql)
    var edits = List.empty[(Int, String)] // prepend ⇒ descending positions
    while (m.find()) if (!inStr(m.start())) {
      val name = m.group(1)
      var depth = 1
      var j = m.end()
      while (depth > 0 && j < sql.length) {
        if (!inStr(j)) {
          if (sql(j) == '(') depth += 1
          else if (sql(j) == ')') depth -= 1
        }
        j += 1
      }
      val body = sql.substring(m.end(), j - 1)
      val recursive = java.util.regex.Pattern
        .compile("\\b" + java.util.regex.Pattern.quote(name) + "\\b")
        .matcher(body).find()
      // `name AS (` also matches named WINDOW clauses — a CTE body is a
      // query (SELECT/VALUES/WITH/FROM-first), a window spec is not
      val isQuery = {
        val head = body.dropWhile(_.isWhitespace).take(6).toUpperCase
        Seq("SELECT", "VALUES", "WITH", "FROM").exists(head.startsWith)
      }
      if (!recursive && isQuery) edits ::= (m.start(), name)
    }
    edits.foldLeft(sql) { case (s, (pos, name)) =>
      s.substring(0, pos) + s.substring(pos).replaceFirst(
        java.util.regex.Pattern.quote(name) + " AS",
        name + " AS MATERIALIZED")
    }
  }

  def oracleSql: Map[String, String] =
    oracleSqlRaw.view.mapValues(materializeCtes).toMap

  private def oracleSqlRaw: Map[String, String] = {
    val l2 = OracleGen.l2ToQuery("embedding")
    val cos = OracleGen.cosineToQuery("embedding")
    val dotQ = OracleGen.dotToQuery("embedding")
    Map(
      "knn_l2" ->
        s"SELECT vec_id, label, $l2 AS distance FROM embeddings ORDER BY distance ASC, vec_id ASC LIMIT 10",

      "knn_cosine" ->
        s"SELECT vec_id, label, $cos AS score FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10",

      "knn_dot" ->
        s"SELECT vec_id, label, $dotQ AS score FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10",

      "knn_per_label" ->
        s"""SELECT vec_id, label, distance, rn FROM (
           |  SELECT vec_id, label, distance,
           |         CAST(row_number() OVER (PARTITION BY label ORDER BY distance ASC, vec_id ASC) AS BIGINT) AS rn
           |  FROM (SELECT vec_id, label, $l2 AS distance FROM embeddings)
           |) WHERE rn <= 3 ORDER BY label, rn""".stripMargin,

      "q_rand_proj" ->
        s"""WITH proj AS (
           |  SELECT vec_id, label,
           |${(0 until 8).map(j => s"    (${OracleGen.randProjChain("embedding", j)}) AS p$j").mkString(",\n")}
           |  FROM embeddings),
           |qp AS (SELECT
           |${(0 until 8).map(j => s"    (${OracleGen.randProjQueryChain(j)}) AS q$j").mkString(",\n")})
           |SELECT vec_id, label,
           |  sqrt(${(0 until 8).map(j => s"(p$j - q$j) * (p$j - q$j)").mkString(" + ")}) / sqrt(8.0) AS pdist
           |FROM proj, qp
           |ORDER BY pdist ASC, vec_id ASC LIMIT 10""".stripMargin,

      "knn_rand_proj" ->
        s"""WITH proj AS (
           |  SELECT vec_id, label, embedding,
           |${(0 until 8).map(j => s"    (${OracleGen.randProjChain("embedding", j)}) AS p$j").mkString(",\n")}
           |  FROM embeddings),
           |qp AS (SELECT
           |${(0 until 8).map(j => s"    (${OracleGen.randProjQueryChain(j)}) AS q$j").mkString(",\n")}),
           |cand AS (
           |  SELECT vec_id, label, embedding,
           |    sqrt(${(0 until 8).map(j => s"(p$j - q$j) * (p$j - q$j)").mkString(" + ")}) / sqrt(8.0) AS pdist
           |  FROM proj, qp
           |  ORDER BY pdist ASC, vec_id ASC LIMIT 50)
           |SELECT vec_id, label, $l2 AS distance
           |FROM cand
           |ORDER BY distance ASC, vec_id ASC LIMIT 10""".stripMargin,

      "q1_pricing" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin,

      // one-pass aggregation over the full table — equality with the
      // split-and-merged Spark result proves the partial-agg algebra
      "q_incr_agg" ->
        s"""SELECT l_returnflag, count(*) AS n,
           |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price
           |FROM lineitem
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      "q_merge_upsert" ->
        """WITH src AS (
          |  SELECT c.c_custkey, c.c_name, c.c_nationkey,
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS c_acctbal,
          |    'UPDATED' AS c_mktsegment
          |  FROM customer c JOIN orders ON o_custkey = c_custkey
          |  WHERE c_custkey % 10 = 0
          |  GROUP BY c.c_custkey, c.c_name, c.c_nationkey
          |  UNION ALL
          |  SELECT s_suppkey + 10000000, s_name, s_nationkey, s_acctbal, 'NEW'
          |  FROM supplier),
          |merged AS (
          |  SELECT
          |    coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
          |    CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
          |    CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
          |  FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey)
          |SELECT c_mktsegment, count(*) AS n,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
          |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
          |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

      // The oracle reads the SOURCE table: equality proves the
      // export+re-read lost nothing.
      "q_jsonl_roundtrip" ->
        """SELECT lang, count(*) AS n,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
          |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      "q_orc_roundtrip" ->
        """SELECT lang, source, count(*) AS n,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
          |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
          |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

      "q_corpus_diff" ->
        """WITH snap1 AS (SELECT doc_id AS id, md5(text) AS fp FROM documents),
          |snap2 AS (
          |  SELECT doc_id AS id,
          |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
          |  FROM documents WHERE doc_id % 13 <> 0
          |  UNION ALL
          |  SELECT doc_id + 200000 AS id, md5(text) AS fp
          |  FROM documents WHERE doc_id % 11 = 0),
          |d AS (
          |  SELECT coalesce(o.id, n.id) AS id,
          |    CASE WHEN o.id IS NULL THEN 'added'
          |         WHEN n.id IS NULL THEN 'removed'
          |         WHEN o.fp = n.fp THEN 'unchanged'
          |         ELSE 'changed' END AS status
          |  FROM snap1 o FULL OUTER JOIN snap2 n ON o.id = n.id)
          |SELECT status, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_ids
          |FROM d GROUP BY status ORDER BY status""".stripMargin,

      "q_scd2" ->
        """WITH m AS (
          |  SELECT user_id, event_type, ts, event_id,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |  FROM events),
          |runs AS (
          |  SELECT user_id, event_type, ts AS valid_from,
          |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
          |  FROM m WHERE prev IS NULL OR event_type <> prev)
          |SELECT event_type AS state, count(*) AS n_intervals,
          |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
          |  CAST(coalesce(sum(epoch_us(valid_to) - epoch_us(valid_from)), 0) AS BIGINT) AS dur_us
          |FROM runs GROUP BY event_type ORDER BY state""".stripMargin,

      "q_revenue_nation" ->
        s"""SELECT n_name,
           |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
           |  count(*) AS n_items
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN orders ON o_custkey = c_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |GROUP BY n_name
           |ORDER BY n_name""".stripMargin,

      "q_topk_events" ->
        """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
          |FROM events ORDER BY ts_us DESC, event_id ASC LIMIT 100""".stripMargin,

      "q_window_topk" ->
        """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
          |  SELECT p_brand, p_partkey, p_retailprice,
          |         CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rn
          |  FROM part
          |) WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

      "q_percentiles" ->
        """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med,
          |  quantile_cont(o_totalprice, 0.9) AS p90, count(*) AS n
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "q_distinct" ->
        """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs,
          |  count(*) AS n_orders
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "q_rollup" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          |  count(*) AS n
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

      "q_semi_join" ->
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey
          |                AND o_orderdate >= TIMESTAMP '1995-01-01'
          |                AND o_orderdate < TIMESTAMP '1996-01-01')
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

      "q_anti_join" ->
        """SELECT c_nationkey, count(*) AS n_customers FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

      "q_running_total" ->
        """SELECT o_custkey, o_orderkey,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
          |FROM orders WHERE o_custkey % 100 = 0
          |ORDER BY o_custkey, o_orderkey""".stripMargin,

      "q_event_gaps" ->
        """SELECT user_id, count(*) AS n_gaps,
          |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
          |  max(gap_us) AS max_gap_us
          |FROM (
          |  SELECT user_id,
          |         epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
          |           PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS gap_us
          |  FROM events)
          |WHERE gap_us IS NOT NULL
          |GROUP BY user_id ORDER BY user_id""".stripMargin,

      "dedup_minhash" ->
        s"""WITH $minhashPairsCteSql
           |SELECT p.a_id, p.b_id,
           |       CAST(${OracleGen.sigMatchCount("sa.sig", "sb.sig", 8)} AS DOUBLE) / 8 AS est_jaccard
           |FROM pairs p
           |JOIN sg sa ON sa.id = p.a_id
           |JOIN sg sb ON sb.id = p.b_id
           |ORDER BY a_id, b_id""".stripMargin,

      "dedup_incremental" ->
        s"""WITH ${minhashSigBandsCte("c", "SELECT doc_id AS id, text FROM documents")},
           |${minhashSigBandsCte("n",
              "SELECT doc_id + 100000 AS id, text || ' zz extra token' AS text " +
                "FROM documents WHERE doc_id % 10 = 0", capped = false)},
           |cand AS (
           |  SELECT DISTINCT c.id AS corpus_id, n.id AS new_id
           |  FROM cbands c JOIN nbands n
           |    ON c.band_idx = n.band_idx AND c.band = n.band)
           |SELECT cand.corpus_id, cand.new_id,
           |  CAST(${OracleGen.sigMatchCount("cs.sig", "ns.sig", 8)} AS DOUBLE) / 8 AS est_jaccard
           |FROM cand
           |JOIN csg cs ON cs.id = cand.corpus_id
           |JOIN nsg ns ON ns.id = cand.new_id
           |ORDER BY corpus_id, new_id""".stripMargin,

      // Delete-then-gate ≡ rebuild-on-remaining: the dedup_incremental
      // replay with the corpus side restricted to the surviving docs
      // (the hot-bucket cap applies AFTER the delete, exactly as the
      // survivor stage's banding sees it).
      "q_dedup_sig_delete" ->
        s"""WITH ${minhashSigBandsCte("c",
              "SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 <> 0")},
           |${minhashSigBandsCte("n",
              "SELECT doc_id + 100000 AS id, text || ' zz extra token' AS text " +
                "FROM documents WHERE doc_id % 10 = 0", capped = false)},
           |cand AS (
           |  SELECT DISTINCT c.id AS corpus_id, n.id AS new_id
           |  FROM cbands c JOIN nbands n
           |    ON c.band_idx = n.band_idx AND c.band = n.band)
           |SELECT cand.corpus_id, cand.new_id,
           |  CAST(${OracleGen.sigMatchCount("cs.sig", "ns.sig", 8)} AS DOUBLE) / 8 AS est_jaccard
           |FROM cand
           |JOIN csg cs ON cs.id = cand.corpus_id
           |JOIN nsg ns ON ns.id = cand.new_id
           |ORDER BY corpus_id, new_id""".stripMargin,

      // The gate's verdict is reference-fixed (hot-bucket cap applies only
      // to the fixed reference side — Dedup.incrementalPairs), so the
      // oracle replays the union of batches with the stream side UNCAPPED:
      // rejected = docs with a band-bucket hit in the capped reference at
      // est_jaccard >= 0.5. Batch ids re-derive from stageSplitSource's
      // range arithmetic (thirds of the id domain).
      "q_stream_dedup_gate" ->
        s"""WITH ${minhashSigBandsCte("s",
              "SELECT doc_id AS id, text FROM documents", capped = false)},
           |${minhashSigBandsCte("r",
              "SELECT doc_id + 100000 AS id, text || ' zz extra token' AS text " +
                "FROM documents WHERE doc_id % 10 = 0")},
           |rej AS (
           |  SELECT DISTINCT n.id
           |  FROM sbands n JOIN rbands r
           |    ON n.band_idx = r.band_idx AND n.band = r.band
           |  JOIN ssg ns ON ns.id = n.id
           |  JOIN rsg rs ON rs.id = r.id
           |  WHERE CAST(${OracleGen.sigMatchCount("ns.sig", "rs.sig", 8)}
           |          AS DOUBLE) / 8 >= 0.5),
           |st AS (
           |  SELECT d.doc_id AS id,
           |    CASE WHEN rej.id IS NULL THEN 'accepted' ELSE 'rejected' END AS status
           |  FROM documents d LEFT JOIN rej ON d.doc_id = rej.id),
           |mm AS (SELECT min(doc_id) AS mn,
           |              (max(doc_id) - min(doc_id)) // 3 + 1 AS w FROM documents)
           |SELECT status, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_ids,
           |  CAST(count(DISTINCT (id - mm.mn) // mm.w) AS BIGINT) AS n_batches
           |FROM st CROSS JOIN mm GROUP BY status ORDER BY status""".stripMargin,

      // Growing-gate replay: batches are id thirds in pinned order;
      // accepted(i) joins the screening set for batches > i. Both sides
      // UNCAPPED (the growing drain passes no hot-bucket cap — cap
      // semantics on a growing side would couple the cap to history).
      // A doc is rejected iff it band-hits the reference at est >= 0.5,
      // OR an EARLIER-batch ACCEPTED doc; same-batch docs never screen
      // each other (absorption happens after the whole batch).
      "q_stream_dq" ->
        """WITH mm AS (
          |  SELECT CAST(min(event_id) AS BIGINT) AS mn,
          |    (CAST(max(event_id) AS BIGINT) - CAST(min(event_id) AS BIGINT))
          |      // 3 + 1 AS w
          |  FROM events),
          |ba AS (
          |  SELECT (CAST(event_id AS BIGINT) - mm.mn) // mm.w AS b,
          |    event_type, user_id, value
          |  FROM events CROSS JOIN mm),
          |agg AS (
          |  SELECT b, CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(coalesce(sum(CASE WHEN event_type IS NULL OR event_type
          |      NOT IN ('click', 'view', 'purchase', 'signup')
          |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_type,
          |    CAST(coalesce(sum(CASE WHEN user_id IS NULL
          |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_user,
          |    CAST(coalesce(sum(CASE WHEN value IS NULL OR value > 400.0
          |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_val
          |  FROM ba GROUP BY b)
          |SELECT * FROM (
          |  SELECT b, 'ev_type_accepted' AS rule, v_type AS n_violations,
          |    n_rows, v_type = 0 AS pass FROM agg
          |  UNION ALL SELECT b, 'ev_user_not_null', v_user, n_rows,
          |    v_user = 0 FROM agg
          |  UNION ALL SELECT b, 'ev_value_cap', v_val, n_rows,
          |    v_val = 0 FROM agg)
          |ORDER BY b, rule""".stripMargin,

      "q_stream_dedup_absorb" -> {
        val sim = (a: String, b: String) =>
          s"CAST(${OracleGen.sigMatchCount(a, b, 8)} AS DOUBLE) / 8 >= 0.5"
        s"""WITH ${minhashSigBandsCte("s",
              "SELECT doc_id AS id, text FROM documents", capped = false)},
           |${minhashSigBandsCte("r",
              "SELECT doc_id + 100000 AS id, text || ' zz extra token' AS text " +
                "FROM documents WHERE doc_id % 10 = 0", capped = false)},
           |mm AS (SELECT min(doc_id) AS mn,
           |              (max(doc_id) - min(doc_id)) // 3 + 1 AS w FROM documents),
           |bid AS (SELECT g.id, (g.id - mm.mn) // mm.w AS b
           |        FROM ssg g CROSS JOIN mm),
           |hr AS (
           |  SELECT DISTINCT n.id
           |  FROM sbands n JOIN rbands r
           |    ON n.band_idx = r.band_idx AND n.band = r.band
           |  JOIN ssg ns ON ns.id = n.id
           |  JOIN rsg rs ON rs.id = r.id
           |  WHERE ${sim("ns.sig", "rs.sig")}),
           |hd AS (
           |  SELECT DISTINCT n.id, e.id AS src
           |  FROM sbands n JOIN sbands e
           |    ON n.band_idx = e.band_idx AND n.band = e.band AND n.id <> e.id
           |  JOIN ssg ns ON ns.id = n.id
           |  JOIN ssg es ON es.id = e.id
           |  WHERE ${sim("ns.sig", "es.sig")}),
           |acc0 AS (
           |  SELECT b.id FROM bid b
           |  WHERE b.b = 0 AND b.id NOT IN (SELECT id FROM hr)),
           |acc1 AS (
           |  SELECT b.id FROM bid b
           |  WHERE b.b = 1 AND b.id NOT IN (SELECT id FROM hr)
           |    AND b.id NOT IN (
           |      SELECT h.id FROM hd h WHERE h.src IN (SELECT id FROM acc0))),
           |acc2 AS (
           |  SELECT b.id FROM bid b
           |  WHERE b.b = 2 AND b.id NOT IN (SELECT id FROM hr)
           |    AND b.id NOT IN (
           |      SELECT h.id FROM hd h WHERE h.src IN (
           |        SELECT id FROM acc0 UNION ALL SELECT id FROM acc1))),
           |acc AS (SELECT id FROM acc0 UNION ALL SELECT id FROM acc1
           |        UNION ALL SELECT id FROM acc2),
           |st AS (
           |  SELECT b.id, b.b,
           |    CASE WHEN a.id IS NULL THEN 'rejected' ELSE 'accepted' END AS status
           |  FROM bid b LEFT JOIN acc a ON a.id = b.id)
           |SELECT status, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_ids,
           |  CAST(count(DISTINCT b) AS BIGINT) AS n_batches
           |FROM st GROUP BY status ORDER BY status""".stripMargin
      },

      "dedup_prefix_jaccard" -> {
        val t = "CAST(0.6 AS DOUBLE)"
        s"""WITH corpus AS ($nearDupCorpusSql),
           |tok AS (SELECT id, ${OracleGen.toksSql("text")} AS tk0 FROM corpus),
           |tk0 AS (SELECT id, list_distinct(${OracleGen.shinglesOfToks("tk0")}) AS tk
           |        FROM tok),
           |ex AS (SELECT id, unnest(tk) AS tok FROM tk0),
           |dfs AS (SELECT tok, count(*) AS df FROM ex GROUP BY tok),
           |otk AS (
           |  SELECT e.id, list(e.tok ORDER BY d.df, e.tok) AS otk,
           |    count(*) AS sz
           |  FROM ex e JOIN dfs d ON e.tok = d.tok GROUP BY e.id),
           |pref AS (
           |  SELECT id, sz, unnest(list_slice(otk, 1,
           |    greatest(CAST(sz - ceil($t * sz) + 1 AS INTEGER), 1))) AS ptok
           |  FROM otk),
           |cand AS (
           |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
           |  FROM pref a JOIN pref b ON a.ptok = b.ptok AND a.id < b.id
           |    AND $t * greatest(a.sz, b.sz) <= least(a.sz, b.sz)),
           |v AS (
           |  SELECT c.a_id, c.b_id,
           |    CAST(len(list_intersect(ta.tk, tb.tk)) AS BIGINT) AS inter,
           |    len(ta.tk) AS a_sz, len(tb.tk) AS b_sz
           |  FROM cand c
           |  JOIN tk0 ta ON ta.id = c.a_id
           |  JOIN tk0 tb ON tb.id = c.b_id)
           |SELECT a_id, b_id, inter,
           |  CAST(inter AS DOUBLE) / (a_sz + b_sz - inter) AS jaccard
           |FROM v
           |WHERE CAST(inter AS DOUBLE) / (a_sz + b_sz - inter) >= $t
           |ORDER BY a_id, b_id""".stripMargin
      },

      // hash-min label propagation == min reachable id: the oracle derives
      // each node's component as least(id, min over the transitive
      // reachability set) via a recursive CTE over the same capped LSH
      // candidate pairs
      "dedup_clusters" ->
        s"""WITH RECURSIVE $minhashPairsCteSql,
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION SELECT b_id, a_id FROM pairs),
           |reach AS (
           |  SELECT src AS id, dst AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r),
           |comp AS (
           |  SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id)
           |SELECT comp AS comp_id, count(*) AS n_members, max(id) AS max_id
           |FROM comp GROUP BY comp ORDER BY comp_id""".stripMargin,

      "dedup_simhash" ->
        s"""WITH corpus AS ($nearDupCorpusSql),
           |tok AS (SELECT id, list_transform(${OracleGen.toksSql("text")},
           |                 t -> ${OracleGen.tokenHash32Sql("t")}) AS th FROM corpus),
           |fp AS (SELECT id, ${OracleGen.simhashOfTokenHashes("th")} AS simhash FROM tok)
           |SELECT a.id AS a_id, b.id AS b_id, a.simhash AS a_fp, b.simhash AS b_fp,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM fp a JOIN fp b ON b.id = a.id + 100000
           |ORDER BY a_id""".stripMargin,

      "dedup_ngram_jaccard" ->
        s"""WITH corpus AS ($nearDupCorpusSql),
           |tok AS (SELECT id, ${OracleGen.toksSql("text")} AS tk FROM corpus),
           |sh2 AS (SELECT id, list_distinct(${OracleGen.shinglesOfToks("tk")}) AS sh FROM tok),
           |pairs AS (SELECT id AS a_id, id + 100000 AS b_id FROM corpus
           |          WHERE id < 100000 AND id % 10 = 0)
           |SELECT p.a_id, p.b_id,
           |       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
           |         (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
           |FROM pairs p
           |JOIN sh2 sa ON sa.id = p.a_id
           |JOIN sh2 sb ON sb.id = p.b_id
           |ORDER BY a_id""".stripMargin,

      "neardup_cosine" ->
        s"""WITH sides AS (
           |  SELECT vec_id, embedding,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket
           |  FROM embeddings)
           |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |       ${OracleGen.cosineCols("a.embedding", "b.embedding")} AS cos_sim
           |FROM sides a JOIN sides b
           |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |ORDER BY cos_sim DESC, a_id ASC, b_id ASC LIMIT 20""".stripMargin,

      "dedup_semantic" ->
        s"""WITH ${kmeansCtesSql(4, 2)},
           |asg AS (SELECT vec_id AS id, embedding, cid FROM a2),
           |sizes AS (SELECT cid, count(*) AS n FROM asg GROUP BY cid),
           |scoped AS (
           |  SELECT a.id, a.embedding, a.cid FROM asg a
           |  JOIN sizes s ON a.cid = s.cid AND s.n <= 400),
           |pairs AS (
           |  SELECT * FROM (
           |    SELECT x.cid AS cid, x.id AS xid, y.id AS yid,
           |      CAST(floor((${OracleGen.cosineCols("x.embedding", "y.embedding")})
           |        * 1000000.0) AS BIGINT) AS cos_fp
           |    FROM scoped x JOIN scoped y
           |      ON x.cid = y.cid AND x.id < y.id)
           |  WHERE cos_fp >= 300000),
           |dups AS (
           |  SELECT cid, yid AS dup_id, max(cos_fp) AS best_fp
           |  FROM pairs GROUP BY cid, yid),
           |dupagg AS (
           |  SELECT cid, count(*) AS n_dup,
           |    CAST(sum(best_fp) AS BIGINT) AS sim_fp
           |  FROM dups GROUP BY cid),
           |kept AS (
           |  SELECT a.cid, CAST(sum(a.id) AS BIGINT) AS sum_kept_ids
           |  FROM asg a WHERE a.id NOT IN (SELECT dup_id FROM dups)
           |  GROUP BY a.cid)
           |SELECT CAST(s.cid AS INTEGER) AS cid, s.n, s.n > 400 AS capped,
           |  CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
           |  CAST(coalesce(k.sum_kept_ids, 0) AS BIGINT) AS sum_kept_ids,
           |  CAST(coalesce(d.sim_fp, 0) AS BIGINT) AS sim_fp
           |FROM sizes s
           |LEFT JOIN dupagg d ON s.cid = d.cid
           |LEFT JOIN kept k ON s.cid = k.cid
           |ORDER BY cid""".stripMargin,

      "q_hard_negatives" ->
        s"""WITH sides AS (
           |  SELECT vec_id, embedding, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket
           |  FROM embeddings),
           |pairs AS (
           |  SELECT a.vec_id AS anchor_id, a.label, b.vec_id AS neg_id,
           |         ${OracleGen.cosineCols("a.embedding", "b.embedding")} AS cos_sim
           |  FROM sides a JOIN sides b
           |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
           |band AS (
           |  SELECT anchor_id, label, neg_id, cos_sim,
           |    row_number() OVER (PARTITION BY anchor_id
           |                       ORDER BY cos_sim DESC, neg_id) AS rn
           |  FROM pairs WHERE cos_sim >= 0.2 AND cos_sim < 0.8)
           |SELECT label, count(*) AS n_pairs,
           |  count(DISTINCT anchor_id) AS n_anchors,
           |  CAST(sum(neg_id) AS BIGINT) AS sum_neg_ids,
           |  CAST(sum(CAST(floor(cos_sim * 1000000.0) AS BIGINT)) AS BIGINT) AS sim_fp
           |FROM band WHERE rn <= 2
           |GROUP BY label ORDER BY label""".stripMargin,

      "dedup_simhash_pairs" ->
        s"""WITH corpus AS ($nearDupCorpusSql),
           |tok AS (SELECT id, list_transform(${OracleGen.toksSql("text")},
           |                 t -> ${OracleGen.tokenHash32Sql("t")}) AS th FROM corpus),
           |fps AS (SELECT id, ${OracleGen.simhashOfTokenHashes("th")} AS fp FROM tok),
           |bands0 AS (
           |  SELECT id, fp, j AS band_idx, (fp >> (j * 8)) & 255 AS band
           |  FROM fps, (SELECT unnest(range(0, 4)) AS j)),
           |bands AS (
           |  SELECT b.* FROM bands0 b
           |  JOIN (SELECT band_idx, band FROM bands0
           |        GROUP BY band_idx, band HAVING count(*) <= 50) keep
           |    USING (band_idx, band)),
           |pairs AS (
           |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.id < b.id)
           |SELECT p.a_id, p.b_id,
           |       CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
           |FROM pairs p
           |JOIN fps fa ON fa.id = p.a_id
           |JOIN fps fb ON fb.id = p.b_id
           |WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
           |ORDER BY a_id, b_id""".stripMargin,

      "ann_lsh_multi" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""SELECT vec_id, label, bucket, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      "q_vector_store" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""SELECT vec_id, label, bucket, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      // Same probe chain with the metadata WHERE applied before the
      // top-5 — post-filter semantics replayed exactly.
      "q_vector_store_filtered" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""SELECT vec_id, label, bucket, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings)
           |WHERE bucket IN ($probes) AND label = 2
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      // Batched probe ≡ per-query probes: one replay per batch query
      // (its own probe set + shifted l2 chain), top-5 each, unioned.
      "q_vector_store_batch" -> BatchQueryIds.map { b =>
        val probes = Ann.probesOf(OracleGen.QueryVec.shiftedValues(b), 4)
          .mkString(", ")
        s"""(SELECT CAST($b AS BIGINT) AS q_id,
           |  CAST(row_number() OVER (ORDER BY distance ASC, vec_id ASC)
           |    AS BIGINT) AS rn, vec_id, bucket, distance FROM (
           |  SELECT vec_id,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQueryShifted("embedding", b)} AS distance
           |  FROM embeddings)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY q_id, rn"),

      // probe over the compacted store is invariant — identical SQL to
      // q_vector_store
      "q_vector_store_compact" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""SELECT vec_id, label, bucket, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      "q_vector_store_upsert" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""WITH store AS (
           |  SELECT vec_id, label,
           |    CASE WHEN vec_id % 3 = 0
           |         THEN list_transform(embedding,
           |                x -> CAST(CAST(x AS DOUBLE) * 0.5 AS FLOAT))
           |         ELSE embedding END AS embedding
           |  FROM embeddings)
           |SELECT vec_id, label, bucket, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM store)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      // the full lifecycle collapses to: surviving ids (%4<>0), with the
      // %3==0 rows re-embedded and relabeled by the upsert; the replayed
      // append contributes nothing (idempotent), and the residue/file
      // counters are the maintenance contract's fixed points
      "q_vector_store_lifecycle" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""WITH store AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % 3 = 0 THEN label + 1000 ELSE label END AS label,
           |    CASE WHEN vec_id % 3 = 0
           |         THEN list_transform(embedding,
           |                x -> CAST(CAST(x AS DOUBLE) * 0.5 AS FLOAT))
           |         ELSE embedding END AS embedding
           |  FROM embeddings WHERE vec_id % 4 <> 0)
           |SELECT vec_id, label, bucket, distance,
           |  CAST(0 AS BIGINT) AS n_deleted_left,
           |  CAST(1 AS BIGINT) AS max_files_per_bucket
           |FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM store)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      // relational replay of every committed version: v0 = the initial
      // corpus, v1 = after the %3 re-embed upsert, v2 = after the %4
      // delete, v3 = compaction (row-identical to v2 by contract)
      "q_vector_store_timetravel" ->
        s"""WITH base AS (
           |  SELECT vec_id, label, CAST(embedding[1] AS DOUBLE) AS e0
           |  FROM embeddings),
           |upd AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % 3 = 0 THEN label + 1000 ELSE label END AS label,
           |    CASE WHEN vec_id % 3 = 0
           |         THEN CAST(CAST(CAST(e0 AS FLOAT) AS DOUBLE) * 0.5 AS FLOAT)
           |         ELSE CAST(e0 AS FLOAT) END AS e0f
           |  FROM base),
           |v0 AS (SELECT vec_id, label, e0 FROM base),
           |v1 AS (SELECT vec_id, label, CAST(e0f AS DOUBLE) AS e0 FROM upd),
           |v2 AS (SELECT * FROM v1 WHERE vec_id % 4 <> 0),
           |agg AS (
           |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
           |         sum(vec_id) AS sum_id, sum(label) AS sum_label,
           |         sum(CAST(floor(e0 * 1000000) AS BIGINT)) AS emb_fp FROM v0
           |  UNION ALL
           |  SELECT CAST(1 AS BIGINT), count(*), sum(vec_id), sum(label),
           |         sum(CAST(floor(e0 * 1000000) AS BIGINT)) FROM v1
           |  UNION ALL
           |  SELECT CAST(2 AS BIGINT), count(*), sum(vec_id), sum(label),
           |         sum(CAST(floor(e0 * 1000000) AS BIGINT)) FROM v2
           |  UNION ALL
           |  SELECT CAST(3 AS BIGINT), count(*), sum(vec_id), sum(label),
           |         sum(CAST(floor(e0 * 1000000) AS BIGINT)) FROM v2)
           |SELECT version, CAST(n_rows AS BIGINT) AS n_rows,
           |       CAST(sum_id AS BIGINT) AS sum_id,
           |       CAST(sum_label AS BIGINT) AS sum_label,
           |       CAST(emb_fp AS BIGINT) AS emb_fp
           |FROM agg ORDER BY version""".stripMargin,

      // retained versions (2, 3) both equal the post-delete row set (the
      // v3 compact is row-identical); floor/refused/history-dir counts
      // are protocol constants of the keep=2 lifecycle
      "q_vector_store_retain" ->
        s"""WITH base AS (
           |  SELECT vec_id, label, CAST(embedding[1] AS DOUBLE) AS e0
           |  FROM embeddings),
           |upd AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % 3 = 0 THEN label + 1000 ELSE label END AS label,
           |    CASE WHEN vec_id % 3 = 0
           |         THEN CAST(CAST(CAST(e0 AS FLOAT) AS DOUBLE) * 0.5 AS FLOAT)
           |         ELSE CAST(e0 AS FLOAT) END AS e0f
           |  FROM base),
           |v2 AS (SELECT vec_id, label, CAST(e0f AS DOUBLE) AS e0
           |       FROM upd WHERE vec_id % 4 <> 0),
           |agg AS (
           |  SELECT CAST(2 AS BIGINT) AS version, count(*) AS n_rows,
           |         sum(vec_id) AS sum_id, sum(label) AS sum_label,
           |         sum(CAST(floor(e0 * 1000000) AS BIGINT)) AS emb_fp FROM v2
           |  UNION ALL
           |  SELECT CAST(3 AS BIGINT), count(*), sum(vec_id), sum(label),
           |         sum(CAST(floor(e0 * 1000000) AS BIGINT)) FROM v2)
           |SELECT version, CAST(n_rows AS BIGINT) AS n_rows,
           |       CAST(sum_id AS BIGINT) AS sum_id,
           |       CAST(sum_label AS BIGINT) AS sum_label,
           |       CAST(emb_fp AS BIGINT) AS emb_fp,
           |       CAST(2 AS BIGINT) AS retain_floor,
           |       CAST(2 AS BIGINT) AS n_refused_below_floor,
           |       CAST(1 AS BIGINT) AS n_history_dirs
           |FROM agg ORDER BY version""".stripMargin,

      // post-delete store == fresh write of the surviving corpus; the
      // leftover-victims count asserts the tombstoning actually removed
      // every targeted id from ALL partitions
      "q_vector_store_delete" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""SELECT vec_id, label, bucket, distance,
           |  CAST(0 AS BIGINT) AS n_deleted_left
           |FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings WHERE vec_id % 4 <> 0)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      // the recovered store must be indistinguishable from a clean
      // delete's — identical post-delete probe SQL
      "q_vector_store_recover" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""SELECT vec_id, label, bucket, distance,
           |  CAST(0 AS BIGINT) AS n_deleted_left
           |FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings WHERE vec_id % 4 <> 0)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      // write-half + append-half + idempotent re-append must serve the
      // same probe result as a fresh full write, so the oracle is the
      // identical full-corpus probe SQL
      "q_vector_store_append" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""SELECT vec_id, label, bucket, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      "ann_lsh" ->
        s"""SELECT vec_id, label, bucket, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings)
           |WHERE bucket = ${OracleGen.lshBucketOfQuery(4)}
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin,

      // bucket-local LSH semantics (ann_lsh), NOT exact top-5: if the
      // optimizer rule fails to rewrite, the Spark side returns the exact
      // answer and this oracle hash-mismatches — the rule is in the gate
      "q_lsh_rule_knn" ->
        s"""SELECT vec_id, label, distance FROM (
           |  SELECT vec_id, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("embedding")} AS distance
           |  FROM embeddings)
           |WHERE bucket = ${OracleGen.lshBucketOfQuery(4)}
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin,

      "q_bloom_prune" ->
        s"""SELECT l_returnflag,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           |  count(*) AS n_items
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE o_orderpriority = '1-URGENT'
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      "q_bucketed_join" ->
        s"""SELECT c_mktsegment, count(*) AS n_orders,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

      "q_embed_docs" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)}
           |SELECT id AS doc_id, i AS pos, emb[CAST(i AS INTEGER)] AS val
           |FROM d_emb, range(1, 65) t(i) ORDER BY doc_id, pos""".stripMargin,

      // the batched path must be indistinguishable from the expression
      // path — identical oracle to q_embed_docs
      "q_embed_batched" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)}
           |SELECT id AS doc_id, i AS pos, emb[CAST(i AS INTEGER)] AS val
           |FROM d_emb, range(1, 65) t(i) ORDER BY doc_id, pos""".stripMargin,

      // …and so must the fault-isolating variant on a healthy corpus
      "q_embed_batched_safe" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)}
           |SELECT id AS doc_id, i AS pos, emb[CAST(i AS INTEGER)] AS val
           |FROM d_emb, range(1, 65) t(i) ORDER BY doc_id, pos""".stripMargin,

      // the batched generation seam: the stand-in generator is pure
      // string arithmetic on the M2 prompt (extractive first-context-
      // line answer), replayed verbatim — prompt template from the
      // engine's own promptOf stage, so the replay covers both
      "q_generate_batched" ->
        """SELECT doc_id,
          |  'A: ' || substr(split_part(
          |    split_part('Context:' || chr(10) || text || chr(10) ||
          |               chr(10) || 'Question: customer order for table part data',
          |               'Context:' || chr(10), 2),
          |    chr(10), 1), 1, 80) AS completion
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_rag_topk" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)},
           |${OracleGen.embedCte("q", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)},
           |topk AS (
           |  SELECT d.id AS doc_id, ${OracleGen.l2DoubleCols("d.emb", "q.emb")} AS distance
           |  FROM d_emb d, q_emb q
           |  ORDER BY distance ASC, doc_id ASC LIMIT 5)
           |SELECT topk.doc_id, topk.distance, documents.lang, documents.source
           |FROM topk JOIN documents ON topk.doc_id = documents.doc_id
           |ORDER BY topk.distance, topk.doc_id""".stripMargin,

      "q_mmr" -> mmrOracleSql(n = 20, k = 5),

      "q_rag_context" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)},
           |${OracleGen.embedCte("q", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)},
           |topk AS (
           |  SELECT d.id AS doc_id, ${OracleGen.l2DoubleCols("d.emb", "q.emb")} AS distance
           |  FROM d_emb d, q_emb q
           |  ORDER BY distance ASC, doc_id ASC LIMIT 5),
           |ctx AS (
           |  SELECT string_agg(t.text, chr(10) || chr(10)
           |           ORDER BY topk.distance, topk.doc_id) AS context
           |  FROM topk JOIN documents t ON topk.doc_id = t.doc_id)
           |SELECT '$RagQuery' AS query, 'product_search' AS intent, context,
           |       'Context:' || chr(10) || context || chr(10) || chr(10) ||
           |       'Question: ' || '$RagQuery' AS prompt
           |FROM ctx""".stripMargin,

      "q_products_pipeline" ->
        s"""WITH src AS (
           |  SELECT p_partkey AS id,
           |    p_name || ', category: ' || p_type || ', color: ' || p_brand ||
           |    ', price: ' || CAST(p_retailprice AS VARCHAR) || '$$' ||
           |    ', image: img-' || CAST(p_partkey AS VARCHAR) ||
           |    ', description: size ' || CAST(p_size AS VARCHAR) AS content
           |  FROM part),
           |${OracleGen.embedCte("p", "src", "id", "content", 64)}
           |SELECT s.id AS product_id, s.content AS content,
           |  CAST(list_sum(list_transform(e.emb,
           |    x -> CAST(floor(x * 1000000000000.0) AS BIGINT))) AS BIGINT) AS emb_fp
           |FROM src s JOIN p_emb e ON e.id = s.id
           |ORDER BY product_id""".stripMargin,

      "q_response_shape" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)},
           |${OracleGen.embedCte("q", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)},
           |topk AS (
           |  SELECT d.id AS doc_id, ${OracleGen.l2DoubleCols("d.emb", "q.emb")} AS distance
           |  FROM d_emb d, q_emb q
           |  ORDER BY distance ASC, doc_id ASC LIMIT 5),
           |ids AS (SELECT list_sort(list(doc_id)) AS ids FROM topk)
           |SELECT '{"response":"Found ' || CAST(len(ids) AS VARCHAR) ||
           |       ' documents","products":["' ||
           |       array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), '","') ||
           |       '"],"follow-up_question":"Want more?"}' AS json
           |FROM ids""".stripMargin,

      "q_chunk" ->
        s"""WITH src AS (
           |  SELECT doc_id, ${OracleGen.toksSql("text")} AS tk
           |  FROM documents WHERE doc_id % 20 = 0),
           |c AS (
           |  SELECT doc_id, tk,
           |         CASE WHEN len(tk) > 0
           |              THEN CAST(floor(CAST(len(tk) - 1 AS DOUBLE) / 10) AS BIGINT) + 1
           |              ELSE 0 END AS nc
           |  FROM src)
           |SELECT doc_id, u.chunk_idx AS chunk_idx, u.chunk AS chunk,
           |       CAST(len(list_filter(string_split_regex(lower(trim(u.chunk)), '\\s+'),
           |            t -> t <> '')) AS BIGINT) AS chunk_tokens
           |FROM (
           |  SELECT doc_id, unnest(list_transform(range(0, nc), i ->
           |    {'chunk_idx': i, 'chunk': array_to_string(tk[i*10+1 : i*10+20], ' ')})) AS u
           |  FROM c)
           |ORDER BY doc_id, chunk_idx""".stripMargin,

      "q_chunk_rag" -> {
        val chunkRel =
          s"""(SELECT doc_id, u.chunk_idx AS chunk_idx,
             |        doc_id * 1000 + u.chunk_idx AS chunk_id, u.chunk AS chunk
             | FROM (
             |   SELECT doc_id, unnest(list_transform(range(0, nc), i ->
             |     {'chunk_idx': i, 'chunk': array_to_string(tk[i*10+1 : i*10+20], ' ')})) AS u
             |   FROM (
             |     SELECT doc_id, tk,
             |            CASE WHEN len(tk) > 0
             |                 THEN CAST(floor(CAST(len(tk) - 1 AS DOUBLE) / 10) AS BIGINT) + 1
             |                 ELSE 0 END AS nc
             |     FROM (SELECT doc_id, ${OracleGen.toksSql("text")} AS tk
             |           FROM documents WHERE doc_id % 20 = 0))))""".stripMargin
        s"""WITH ${OracleGen.embedCte("c", chunkRel, "chunk_id", "chunk", 64)},
           |${OracleGen.embedCte("q", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)},
           |topk AS (
           |  SELECT c.id AS chunk_id, ${OracleGen.l2DoubleCols("c.emb", "q.emb")} AS distance
           |  FROM c_emb c, q_emb q
           |  ORDER BY distance ASC, chunk_id ASC LIMIT 5)
           |SELECT chunk_id // 1000 AS doc_id, chunk_id % 1000 AS chunk_idx,
           |       chunk_id, distance
           |FROM topk ORDER BY distance, chunk_id""".stripMargin
      },

      "q_intent_dist" -> {
        val prod = TextFunctions.ProductWords
          .map(w => s"lower(text) LIKE '%$w%'").mkString("(", " OR ", ")")
        val adv = TextFunctions.AdviceWords
          .map(w => s"lower(text) LIKE '%$w%'").mkString("(", " OR ", ")")
        s"""SELECT intent, count(*) AS n_docs FROM (
           |  SELECT CASE WHEN $prod AND $adv THEN 'mixed'
           |              WHEN $adv THEN 'niche_advice'
           |              ELSE 'product_search' END AS intent
           |  FROM documents)
           |GROUP BY intent ORDER BY intent""".stripMargin
      },

      "q_product_content" ->
        """SELECT p_partkey,
          |  p_name || ', category: ' || p_type || ', color: ' || p_brand ||
          |  ', price: ' || CAST(p_retailprice AS VARCHAR) || '$' ||
          |  ', image: img-' || CAST(p_partkey AS VARCHAR) ||
          |  ', description: size ' || CAST(p_size AS VARCHAR) AS content
          |FROM part ORDER BY p_partkey""".stripMargin,

      "q_mime_roundtrip" ->
        """SELECT doc_id, text || chr(10) || 'tail part' AS document
          |FROM documents ORDER BY doc_id""".stripMargin,

      "knn_join" ->
        s"""SELECT q_id, c_id, distance, rn FROM (
           |  SELECT q_id, c_id, distance,
           |         CAST(row_number() OVER (PARTITION BY q_id
           |           ORDER BY distance ASC, c_id ASC) AS BIGINT) AS rn
           |  FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |           ${OracleGen.l2FloatCols("c.embedding", "q.embedding")} AS distance
           |    FROM embeddings q CROSS JOIN embeddings c
           |    WHERE q.vec_id < 3))
           |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

      "ann_join" ->
        s"""WITH cb AS (
           |  SELECT vec_id AS c_id, embedding,
           |    ${OracleGen.lshBucket("embedding", 5, 64)} AS bucket
           |  FROM embeddings),
           |qb AS (
           |  SELECT vec_id AS q_id, embedding,
           |    ${OracleGen.lshBucket("embedding", 5, 64)} AS bucket
           |  FROM embeddings WHERE vec_id < 3),
           |cand AS (
           |  SELECT q.q_id, c.c_id,
           |    ${OracleGen.l2FloatCols("c.embedding", "q.embedding")} AS distance
           |  FROM cb c JOIN qb q
           |    ON c.bucket IN ($annJoinProbesSql))
           |SELECT q_id, c_id, distance, rn FROM (
           |  SELECT q_id, c_id, distance,
           |    CAST(row_number() OVER (PARTITION BY q_id
           |      ORDER BY distance ASC, c_id ASC) AS BIGINT) AS rn
           |  FROM cand)
           |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

      "q_ann_ivf_trained" ->
        s"""WITH ${kmeansCtesSql(4, 2)},
           |qd AS (
           |  SELECT cid, ${OracleGen.l2ToQuery("cvec")} AS qdist FROM c2),
           |probes AS (
           |  SELECT cid FROM (
           |    SELECT cid, row_number() OVER (ORDER BY qdist, cid) AS rn FROM qd)
           |  WHERE rn <= 2),
           |fd AS (
           |  SELECT e.vec_id, c.cid,
           |    ${OracleGen.l2FloatCols("e.embedding", "c.cvec", 64)} AS dist
           |  FROM embeddings e CROSS JOIN c2 c),
           |fa AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM fd) WHERE rn = 1),
           |ann AS (
           |  SELECT e.vec_id FROM embeddings e
           |  JOIN fa ON fa.vec_id = e.vec_id
           |  WHERE fa.cid IN (SELECT cid FROM probes)
           |  ORDER BY ${OracleGen.l2ToQuery("embedding")} ASC, e.vec_id ASC
           |  LIMIT 10),
           |exact AS (
           |  SELECT vec_id FROM embeddings
           |  ORDER BY ${OracleGen.l2ToQuery("embedding")} ASC, vec_id ASC LIMIT 10),
           |hits AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n FROM ann JOIN exact USING (vec_id))
           |SELECT 'ivf_trained_nprobe2' AS method,
           |  CAST(h.n AS DOUBLE) / 10 AS recall_at_10,
           |  CAST(0.5 AS DOUBLE) AS min_recall,
           |  CAST(h.n AS DOUBLE) / 10 >= CAST(0.5 AS DOUBLE) AS recall_ok
           |FROM hits h""".stripMargin,

      "q_pq_knn" -> pqOracleSql(m = 8, subDim = 8, k = 16, iters = 2, shortlist = 100),

      // Serve-after-republish ≡ train-on-refreshed-corpus: the same PQ
      // replay with every stage reading the surviving half.
      "q_pq_republish" -> pqOracleSql(m = 8, subDim = 8, k = 16, iters = 2,
        shortlist = 100, src = "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)",
        method = "pq_adc_republished_v2_rerank100"),

      // Serve-after-retention ≡ train-on-refreshed-corpus: retention
      // only deletes sub-floor history, so the current publication's
      // replay is q_pq_republish's with the v3 corpus filter.
      "q_pq_retain" -> pqOracleSql(m = 8, subDim = 8, k = 16, iters = 2,
        shortlist = 100, src = "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)",
        method = "pq_adc_retained_v3_rerank100"),

      "q_ivf_pq_batch" -> ivfPqBatchOracleSql(m = 8, subDim = 8, k = 16,
        iters = 2, nlist = 8, nprobe = 3, shortlist = 100,
        bs = BatchQueryIds),
      "q_ivf_pq" -> ivfPqOracleSql(m = 8, subDim = 8, k = 16, iters = 2,
        nlist = 8, nprobe = 3, shortlist = 100),

      "q_retrieval_metrics" -> {
        val wfp = dcgWeightFp(5)
        val wCase = (1 to 5).map(rn => s"WHEN $rn THEN ${wfp(rn - 1)}")
          .mkString("CASE rn ", " ", " END")
        s"""WITH cb AS (
           |  SELECT vec_id AS c_id, embedding,
           |    ${OracleGen.lshBucket("embedding", 5, 64)} AS bucket
           |  FROM embeddings),
           |qb AS (
           |  SELECT vec_id AS q_id, embedding,
           |    ${OracleGen.lshBucket("embedding", 5, 64)} AS bucket
           |  FROM embeddings WHERE vec_id < 3),
           |allp AS (
           |  SELECT q.q_id, c.c_id,
           |    ${OracleGen.l2FloatCols("c.embedding", "q.embedding")} AS distance
           |  FROM cb c CROSS JOIN qb q),
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY distance ASC, c_id ASC) AS rn FROM allp)
           |  WHERE rn <= 5),
           |cand AS (
           |  SELECT q.q_id, c.c_id,
           |    ${OracleGen.l2FloatCols("c.embedding", "q.embedding")} AS distance
           |  FROM cb c JOIN qb q
           |    ON c.bucket IN ($annJoinProbesSql)),
           |ann AS (
           |  SELECT q_id, c_id, rn FROM (
           |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY distance ASC, c_id ASC) AS rn FROM cand)
           |  WHERE rn <= 5),
           |marked AS (
           |  SELECT a.q_id, a.rn,
           |    CASE WHEN e.c_id IS NULL THEN 0 ELSE 1 END AS rel
           |  FROM ann a LEFT JOIN exact e
           |    ON a.q_id = e.q_id AND a.c_id = e.c_id),
           |per AS (
           |  SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel,
           |    min(CASE WHEN rel = 1 THEN rn END) AS first_rel,
           |    CAST(sum(CASE WHEN rel = 1 THEN $wCase ELSE 0 END) AS BIGINT)
           |      AS dcg_fp
           |  FROM marked GROUP BY q_id)
           |SELECT q_id, n_rel,
           |  coalesce(CAST(1 AS DOUBLE) / first_rel, CAST(0 AS DOUBLE)) AS mrr,
           |  CAST(dcg_fp AS DOUBLE) / CAST(${wfp.sum} AS DOUBLE) AS ndcg
           |FROM per ORDER BY q_id""".stripMargin
      },

      "q_ann_join_recall" ->
        s"""WITH cb AS (
           |  SELECT vec_id AS c_id, embedding,
           |    ${OracleGen.lshBucket("embedding", 5, 64)} AS bucket
           |  FROM embeddings),
           |qb AS (
           |  SELECT vec_id AS q_id, embedding,
           |    ${OracleGen.lshBucket("embedding", 5, 64)} AS bucket
           |  FROM embeddings WHERE vec_id < 3),
           |allp AS (
           |  SELECT q.q_id, c.c_id,
           |    ${OracleGen.l2FloatCols("c.embedding", "q.embedding")} AS distance
           |  FROM cb c CROSS JOIN qb q),
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY distance ASC, c_id ASC) AS rn FROM allp)
           |  WHERE rn <= 5),
           |cand AS (
           |  SELECT q.q_id, c.c_id,
           |    ${OracleGen.l2FloatCols("c.embedding", "q.embedding")} AS distance
           |  FROM cb c JOIN qb q
           |    ON c.bucket IN ($annJoinProbesSql)),
           |ann AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY distance ASC, c_id ASC) AS rn FROM cand)
           |  WHERE rn <= 5),
           |hits AS (
           |  SELECT a.q_id, count(*) AS n FROM ann a
           |  JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
           |  GROUP BY a.q_id)
           |SELECT q.q_id, CAST(coalesce(h.n, 0) AS DOUBLE) / 5 AS recall_at_5,
           |  CAST(0.6 AS DOUBLE) AS min_recall,
           |  CAST(coalesce(h.n, 0) AS DOUBLE) / 5 >= CAST(0.6 AS DOUBLE) AS recall_ok
           |FROM qb q LEFT JOIN hits h ON q.q_id = h.q_id ORDER BY q.q_id""".stripMargin,

      "q_email_pipeline" ->
        s"""WITH src AS (
           |  SELECT doc_id AS id, text || chr(10) || 'tail part' AS document
           |  FROM documents),
           |${OracleGen.embedCte("m", "src", "id", "document", 64)}
           |SELECT s.id AS doc_id, s.document AS document,
           |  CAST(list_sum(list_transform(e.emb,
           |    x -> CAST(floor(x * 1000000000000.0) AS BIGINT))) AS BIGINT) AS emb_fp
           |FROM src s JOIN m_emb e ON e.id = s.id
           |ORDER BY doc_id""".stripMargin,

      "q_graph_ann_recall" ->
        graphAnnOracleSql(edgesPerBucket = 3, beam = 16, hops = 6, k = 10,
          sampleMod = 16, floor = 0.8),

      // The replay IS the full build+walk, so matching it proves the
      // staged-index query returns the rebuild path's rows; the
      // runs_identical literal pins the Spark side's two-run comparison
      // (any cross-run nondeterminism would flip the column and fail).
      "q_graph_ann_persisted" ->
        graphAnnOracleSql(edgesPerBucket = 3, beam = 16, hops = 6, k = 10,
          sampleMod = 16, floor = 0.8, method = "graph_persisted",
          extraSelect = ",\n  TRUE AS runs_identical"),

      // Append-then-query must equal rebuild-then-query: the oracle
      // replays the FULL-corpus build although the Spark side built on
      // 2/3 and appended the rest incrementally.
      "q_graph_ann_append" ->
        graphAnnOracleSql(edgesPerBucket = 3, beam = 16, hops = 6, k = 10,
          sampleMod = 16, floor = 0.8, method = "graph_append"),

      // Waved appends then policy-fired compaction must equal the
      // one-shot full build (append ≡ rebuild, compact row-invariant) —
      // same full-corpus replay, method-tagged.
      "q_graph_ann_autocompact" ->
        graphAnnOracleSql(edgesPerBucket = 3, beam = 16, hops = 6, k = 10,
          sampleMod = 16, floor = 0.8, method = "graph_autoc"),

      // The streamed-in index (first batch builds, later batches append
      // incrementally) must converge to the one-shot full build — same
      // replay, method-tagged.
      "q_stream_graph_ann" ->
        graphAnnOracleSql(edgesPerBucket = 3, beam = 16, hops = 6, k = 10,
          sampleMod = 16, floor = 0.8, method = "graph_stream"),

      // Delete-then-query ≡ rebuild-on-remaining: the replay builds the
      // whole index over the corpus MINUS the victims.
      "q_graph_ann_delete" ->
        graphAnnOracleSql(edgesPerBucket = 3, beam = 16, hops = 6, k = 10,
          sampleMod = 16, floor = 0.8, method = "graph_delete",
          corpusWhere = " WHERE vec_id % 7 <> 0"),

      // Batched serving ≡ per-query single walks: one walk-replay chain
      // PER batch query (shared graph CTEs), per-query top-10 unioned.
      "q_graph_ann_batch" ->
        graphAnnBatchOracleSql(BatchQueryIds, edgesPerBucket = 3,
          beam = 16, hops = 6, k = 10, sampleMod = 16),

      // Streamed serving ≡ one-shot batched serving ≡ per-query single
      // walks: the drained micro-batch union must reproduce exactly the
      // same per-query walk replay as q_graph_ann_batch.
      "q_stream_graph_serve" ->
        graphAnnBatchOracleSql(BatchQueryIds, edgesPerBucket = 3,
          beam = 16, hops = 6, k = 10, sampleMod = 16),

      "q_bitext_mine" ->
        s"""WITH sides AS (
           |  SELECT vec_id, embedding, label,
           |         ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket
           |  FROM embeddings),
           |cand AS (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |    CAST(floor((${OracleGen.cosineCols("a.embedding", "b.embedding")})
           |      * 1000000) AS BIGINT) AS cos_fp
           |  FROM sides a JOIN sides b ON a.bucket = b.bucket
           |  WHERE a.label % 2 = 0 AND b.label % 2 = 1),
           |pos AS (SELECT * FROM cand WHERE cos_fp >= 0),
           |ra AS (
           |  SELECT *, row_number() OVER (PARTITION BY a_id
           |    ORDER BY cos_fp DESC, b_id) AS rn_a FROM pos),
           |rb AS (
           |  SELECT *, row_number() OVER (PARTITION BY b_id
           |    ORDER BY cos_fp DESC, a_id) AS rn_b FROM pos),
           |avga AS (
           |  SELECT a_id, CAST(sum(cos_fp) // count(*) AS BIGINT) AS avg_a
           |  FROM ra WHERE rn_a <= 4 GROUP BY a_id),
           |avgb AS (
           |  SELECT b_id, CAST(sum(cos_fp) // count(*) AS BIGINT) AS avg_b
           |  FROM rb WHERE rn_b <= 4 GROUP BY b_id),
           |m AS (
           |  SELECT t.a_id, t.b_id, t.cos_fp,
           |    CAST((avg_a + avg_b) // 2 AS BIGINT) AS denom
           |  FROM (SELECT a_id, b_id, cos_fp FROM ra WHERE rn_a = 1) t
           |  JOIN avga USING (a_id) JOIN avgb USING (b_id))
           |SELECT a_id, b_id, cos_fp,
           |  CAST(cos_fp * 1000 // denom AS BIGINT) AS margin_fp
           |FROM m WHERE denom > 0 AND cos_fp * 1000 // denom >= 1050
           |ORDER BY a_id""".stripMargin,

      "q_ann_recall_skewed" -> {
        val l2 = OracleGen.l2ToQuery("embedding")
        val singleBucket = Ann.bucketOfQuery(QueryVec.values, 4)
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        val nlist = 8
        val ivfProbes = Ann.ivfProbes(QueryVec.values, nlist, 4).mkString(", ")
        val dCols = (0 until nlist)
          .map(j => s"    ${OracleGen.l2ToCentroid("embedding", j, 64)} AS d$j")
          .mkString(",\n")
        val caseArms = (0 until nlist - 1)
          .map(j => s"WHEN d$j = mind THEN $j").mkString(" ")
        s"""WITH cl AS (
           |  SELECT vec_id, label,
           |    list_transform(range(0, 64), i ->
           |      CAST((((label * 73 + i * 37) % 19) - 9) * 0.3 +
           |           CAST(embedding[i + 1] AS DOUBLE) * 0.05 AS FLOAT))
           |      AS embedding
           |  FROM embeddings),
           |exact_l2 AS (
           |  SELECT vec_id FROM cl ORDER BY $l2 ASC, vec_id ASC LIMIT 10),
           |lshs AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |           $l2 AS distance
           |    FROM cl)
           |  WHERE bucket = $singleBucket ORDER BY distance ASC, vec_id ASC LIMIT 10),
           |lshm AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |           $l2 AS distance
           |    FROM cl)
           |  WHERE bucket IN ($probes) ORDER BY distance ASC, vec_id ASC LIMIT 10),
           |dists AS (
           |  SELECT vec_id, embedding,
           |$dCols
           |  FROM cl),
           |cells AS (
           |  SELECT vec_id, embedding,
           |    CASE $caseArms ELSE ${nlist - 1} END AS cell
           |  FROM (SELECT *, least(${(0 until nlist).map("d" + _).mkString(", ")}) AS mind
           |        FROM dists)),
           |ivf AS (
           |  SELECT vec_id FROM cells WHERE cell IN ($ivfProbes)
           |  ORDER BY $l2 ASC, vec_id ASC LIMIT 10),
           |r AS (
           |  SELECT 'lsh_single' AS method,
           |    CAST((SELECT count(*) FROM lshs
           |          WHERE vec_id IN (SELECT vec_id FROM exact_l2)) AS DOUBLE) / 10
           |      AS recall_at_10,
           |    CAST(0.3 AS DOUBLE) AS bound, 'ceiling' AS kind
           |  UNION ALL SELECT 'lsh_multi',
           |    CAST((SELECT count(*) FROM lshm
           |          WHERE vec_id IN (SELECT vec_id FROM exact_l2)) AS DOUBLE) / 10,
           |    CAST(0.8 AS DOUBLE), 'floor'
           |  UNION ALL SELECT 'ivf_nprobe4',
           |    CAST((SELECT count(*) FROM ivf
           |          WHERE vec_id IN (SELECT vec_id FROM exact_l2)) AS DOUBLE) / 10,
           |    CAST(0.8 AS DOUBLE), 'floor')
           |SELECT method, recall_at_10, bound, kind,
           |  CASE WHEN kind = 'ceiling' THEN recall_at_10 <= bound
           |       ELSE recall_at_10 >= bound END AS recall_ok
           |FROM r ORDER BY method""".stripMargin
      },

      "q_ann_recall" -> {
        val l2 = OracleGen.l2ToQuery("embedding")
        val dotQ = OracleGen.dotToQuery("embedding")
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        val nlist = 8
        val ivfProbes = Ann.ivfProbes(QueryVec.values, nlist, 4).mkString(", ")
        val dCols = (0 until nlist)
          .map(j => s"    ${OracleGen.l2ToCentroid("embedding", j, 64)} AS d$j")
          .mkString(",\n")
        val caseArms = (0 until nlist - 1)
          .map(j => s"WHEN d$j = mind THEN $j").mkString(" ")
        val (codes, qMaxAbs) = Quantize.quantizeQuery(QueryVec.values)
        val qdotChain = (1 to 64).map(k => s"codes[$k] * (${codes(k - 1)})").mkString(" + ")
        s"""WITH exact_l2 AS (
           |  SELECT vec_id FROM embeddings ORDER BY $l2 ASC, vec_id ASC LIMIT 10),
           |exact_dot AS (
           |  SELECT vec_id FROM embeddings ORDER BY $dotQ DESC, vec_id ASC LIMIT 10),
           |lshm AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket,
           |           $l2 AS distance
           |    FROM embeddings)
           |  WHERE bucket IN ($probes) ORDER BY distance ASC, vec_id ASC LIMIT 10),
           |dists AS (
           |  SELECT vec_id, embedding,
           |$dCols
           |  FROM embeddings),
           |cells AS (
           |  SELECT vec_id, embedding,
           |    CASE $caseArms ELSE ${nlist - 1} END AS cell
           |  FROM (SELECT *, least(${(0 until nlist).map("d" + _).mkString(", ")}) AS mind
           |        FROM dists)),
           |ivf AS (
           |  SELECT vec_id FROM cells WHERE cell IN ($ivfProbes)
           |  ORDER BY $l2 ASC, vec_id ASC LIMIT 10),
           |qv AS (
           |  SELECT vec_id, maxabs,
           |    list_transform(embedding, x -> CAST(CASE WHEN maxabs = 0 THEN 0
           |      ELSE round(CAST(x AS DOUBLE) * 127.0 / maxabs) END AS BIGINT)) AS codes
           |  FROM (SELECT vec_id, embedding,
           |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
           |        FROM embeddings)),
           |quant AS (
           |  SELECT vec_id
           |  FROM (SELECT vec_id, maxabs, $qdotChain AS qdot FROM qv)
           |  ORDER BY (CAST(qdot AS DOUBLE) * (maxabs / 127.0)) * ($qMaxAbs / 127.0) DESC,
           |           vec_id ASC LIMIT 10),
           |r AS (
           |  SELECT 'ivf_nprobe4' AS method,
           |    CAST((SELECT count(*) FROM ivf
           |          WHERE vec_id IN (SELECT vec_id FROM exact_l2)) AS DOUBLE) / 10
           |      AS recall_at_10,
           |    CAST(0.4 AS DOUBLE) AS min_recall
           |  UNION ALL SELECT 'lsh_multi',
           |    CAST((SELECT count(*) FROM lshm
           |          WHERE vec_id IN (SELECT vec_id FROM exact_l2)) AS DOUBLE) / 10,
           |    CAST(0.8 AS DOUBLE)
           |  UNION ALL SELECT 'quantized',
           |    CAST((SELECT count(*) FROM quant
           |          WHERE vec_id IN (SELECT vec_id FROM exact_dot)) AS DOUBLE) / 10,
           |    CAST(0.8 AS DOUBLE))
           |SELECT method, recall_at_10, min_recall,
           |       recall_at_10 >= min_recall AS recall_ok
           |FROM r ORDER BY method""".stripMargin
      },

      "dedup_exact" ->
        """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
          |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

      "q_lang_id" ->
        s"""SELECT lang, predicted, count(*) AS n FROM (
           |  SELECT lang, $LangIdCaseSql AS predicted
           |  FROM (SELECT lang, ${OracleGen.toksSql("text")} AS tk FROM documents))
           |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,

      "q_quality" -> {
        val stop = "len(list_filter(tk, t -> t IN ('the','a','of','and','to','in')))"
        s"""SELECT bucket, count(*) AS n FROM (
           |  SELECT CAST(floor((
           |    (least(CAST(len(tk) AS DOUBLE), 60.0) / 60.0) * 0.7 +
           |    (CASE WHEN len(tk) > 0
           |          THEN CAST($stop AS DOUBLE) / CAST(len(tk) AS DOUBLE)
           |          ELSE 0.0 END) * 0.3) * 10) AS BIGINT) AS bucket
           |  FROM (SELECT ${OracleGen.toksSql("text")} AS tk FROM documents))
           |GROUP BY bucket ORDER BY bucket""".stripMargin
      },

      "q_repetition" ->
        s"""SELECT bucket, count(*) AS n FROM (
           |  SELECT CAST(floor((1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
           |    / CAST(len(sh) AS DOUBLE)) * 10) AS BIGINT) AS bucket
           |  FROM (SELECT ${OracleGen.shinglesOfToks("tk")} AS sh
           |        FROM (SELECT ${OracleGen.toksSql("text")} AS tk FROM (
           |          SELECT text FROM documents
           |          UNION ALL
           |          SELECT text || ' ' || text AS text FROM documents
           |          WHERE doc_id % 10 = 0))))
           |GROUP BY bucket ORDER BY bucket""".stripMargin,

      "q_clean_funnel" -> {
        val stop = "len(list_filter(tk, t -> t IN ('the','a','of','and','to','in')))"
        s"""WITH corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS id, text || ' ' || text AS text
           |  FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id + 200000 AS id, text FROM documents WHERE doc_id % 7 = 0),
           |f AS (
           |  SELECT id, md5(text) AS ck,
           |    ($LangIdCaseSql) <> 'und' AS p_lang,
           |    ((least(CAST(len(tk) AS DOUBLE), 60.0) / 60.0) * 0.7 +
           |     (CASE WHEN len(tk) > 0
           |           THEN CAST($stop AS DOUBLE) / CAST(len(tk) AS DOUBLE)
           |           ELSE 0.0 END) * 0.3) >= 0.3 AS p_q,
           |    (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
           |      / CAST(len(sh) AS DOUBLE)) < 0.3 AS p_rep
           |  FROM (SELECT id, text, tk, ${OracleGen.shinglesOfToks("tk")} AS sh
           |        FROM (SELECT id, text, ${OracleGen.toksSql("text")} AS tk
           |              FROM corpus)))
           |SELECT count(*) AS n_total,
           |  CAST(count(CASE WHEN p_lang THEN 1 END) AS BIGINT) AS n_lang,
           |  CAST(count(CASE WHEN p_lang AND p_q THEN 1 END) AS BIGINT) AS n_quality,
           |  CAST(count(CASE WHEN p_lang AND p_q AND p_rep THEN 1 END) AS BIGINT)
           |    AS n_repetition,
           |  CAST(count(DISTINCT CASE WHEN p_lang AND p_q AND p_rep THEN ck END)
           |    AS BIGINT) AS n_unique
           |FROM f""".stripMargin
      },

      "q_training_build" -> {
        val stop = "len(list_filter(tk, t -> t IN ('the','a','of','and','to','in')))"
        s"""WITH corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS id, text || ' ' || text AS text
           |  FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id + 200000 AS id, text FROM documents WHERE doc_id % 7 = 0),
           |gated AS (
           |  SELECT id, text FROM (
           |    SELECT id, text, tk, ${OracleGen.shinglesOfToks("tk")} AS sh
           |    FROM (SELECT id, text, ${OracleGen.toksSql("text")} AS tk FROM corpus))
           |  WHERE ($LangIdCaseSql) <> 'und'
           |    AND ((least(CAST(len(tk) AS DOUBLE), 60.0) / 60.0) * 0.7 +
           |         (CASE WHEN len(tk) > 0
           |               THEN CAST($stop AS DOUBLE) / CAST(len(tk) AS DOUBLE)
           |               ELSE 0.0 END) * 0.3) >= 0.3
           |    AND (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
           |         / CAST(len(sh) AS DOUBLE)) < 0.3),
           |dedup AS (
           |  SELECT min(id) AS id, max(text) AS text
           |  FROM gated GROUP BY md5(text)),
           |train AS (
           |  SELECT id, text FROM dedup
           |  WHERE id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 < 80),
           |t AS (
           |  SELECT id,
           |    id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 % 4 AS shard,
           |    CAST(len(${OracleGen.toksSql("text")}) AS BIGINT) AS n_tokens
           |  FROM train),
           |c AS (
           |  SELECT shard, id, n_tokens,
           |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |  FROM t)
           |SELECT shard, (cum - n_tokens) // 512 AS bin, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |  min(id) AS min_id, max(id) AS max_id
           |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin
      },

      "q_corpus_build" -> {
        val stop = "len(list_filter(tk, t -> t IN ('the','a','of','and','to','in')))"
        val knuth = "CAST(2654435761 AS BIGINT) % 4294967296"
        s"""WITH RECURSIVE ${lrWeightsCteSql(3)},
           |base AS (
           |  SELECT doc_id AS id,
           |    CASE WHEN doc_id * $knuth % 100 < 2
           |           OR (doc_id * $knuth % 100 >= 90
           |               AND doc_id * $knuth % 100 < 92)
           |      THEN text || ' leak alpha beta gamma delta epsilon zeta eta'
           |      ELSE text END AS text
           |  FROM documents),
           |corpus AS (
           |  SELECT id, text FROM base
           |  UNION ALL
           |  SELECT id + 100000 AS id, text || ' ' || text AS text
           |  FROM base WHERE id % 10 = 0
           |  UNION ALL
           |  SELECT id + 200000 AS id, text FROM base WHERE id % 7 = 0),
           |gated AS (
           |  SELECT id, text FROM (
           |    SELECT id, text, tk, ${OracleGen.shinglesOfToks("tk")} AS sh
           |    FROM (SELECT id, text, ${OracleGen.toksSql("text")} AS tk FROM corpus))
           |  WHERE ($LangIdCaseSql) <> 'und'
           |    AND ((least(CAST(len(tk) AS DOUBLE), 60.0) / 60.0) * 0.7 +
           |         (CASE WHEN len(tk) > 0
           |               THEN CAST($stop AS DOUBLE) / CAST(len(tk) AS DOUBLE)
           |               ELSE 0.0 END) * 0.3) >= 0.3
           |    AND (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
           |         / CAST(len(sh) AS DOUBLE)) < 0.3),
           |dedup AS (
           |  SELECT min(id) AS id, max(text) AS text
           |  FROM gated GROUP BY md5(text)),
           |${minhashSigBandsCte("nd", "SELECT id, text FROM dedup")},
           |ndpairs AS (
           |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
           |  FROM ndbands a JOIN ndbands b
           |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.id < b.id),
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM ndpairs
           |  UNION SELECT b_id, a_id FROM ndpairs),
           |reach AS (
           |  SELECT src AS id, dst AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r),
           |comp AS (SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id),
           |kept AS (
           |  SELECT d.id, d.text,
           |    CASE WHEN d.id * $knuth % 100 < 80 THEN 'train'
           |         WHEN d.id * $knuth % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM dedup d LEFT JOIN comp c ON d.id = c.id
           |  WHERE c.comp IS NULL OR c.comp = d.id),
           |ksh0 AS (
           |  SELECT id, split,
           |    unnest(list_distinct(${OracleGen.shinglesOfToks("ktk")})) AS sh
           |  FROM (SELECT id, split, ${OracleGen.toksSql("text")} AS ktk
           |        FROM kept WHERE split IN ('train', 'test'))),
           |ksh AS (
           |  SELECT * FROM ksh0 WHERE sh NOT IN (
           |    SELECT sh FROM ksh0 GROUP BY sh HAVING count(*) > 50)),
           |contam AS (
           |  SELECT DISTINCT tr_id AS id FROM (
           |    SELECT t.id AS t_id, tr.id AS tr_id
           |    FROM ksh t JOIN ksh tr ON t.sh = tr.sh
           |    WHERE t.split = 'test' AND tr.split = 'train'
           |    GROUP BY 1, 2 HAVING count(*) >= 5)),
           |decon AS (
           |  SELECT id, text FROM kept
           |  WHERE split = 'train' AND id NOT IN (SELECT id FROM contam)),
           |sfr AS (
           |  SELECT id,
           |    CAST(len(stk) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter(stk,
           |      t -> t IN ('the','a','of','and','to','in'))) AS BIGINT) AS stop,
           |    CAST(coalesce(list_sum(list_transform(stk, t -> len(t))), 0)
           |      AS BIGINT) AS sum_len
           |  FROM (SELECT id, ${OracleGen.toksSql("text")} AS stk FROM decon)),
           |sfe AS (
           |  SELECT id,
           |    LEAST(n_tok, 200) * 5 AS f1,
           |    CASE WHEN n_tok > 0 THEN stop * 1000 // n_tok ELSE 0 END AS f2,
           |    LEAST(CASE WHEN n_tok > 0 THEN sum_len * 1000 // n_tok ELSE 0 END,
           |      20000) // 20 AS f3
           |  FROM sfr),
           |scored AS (
           |  SELECT f.id, ${lrPSql("w")} AS p FROM sfe f, wt3 w),
           |scstats AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_sc,
           |    CAST(sum(p) AS BIGINT) AS sum_sc FROM scored),
           |keptq AS (
           |  SELECT k.id FROM scored k, scstats a WHERE k.p * a.n_sc > a.sum_sc),
           |pt AS (
           |  SELECT id, id * $knuth % 100 % 4 AS shard,
           |    CAST(len(${OracleGen.toksSql("text")}) AS BIGINT) AS n_tokens
           |  FROM (SELECT d.id, d.text FROM decon d JOIN keptq k ON d.id = k.id)),
           |pc AS (
           |  SELECT shard, id, n_tokens,
           |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |  FROM pt),
           |pk AS (
           |  SELECT shard, (cum - n_tokens) // 512 AS bin, count(*) AS n_docs,
           |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |    min(id) AS min_id, max(id) AS max_id
           |  FROM pc GROUP BY shard, bin)
           |SELECT CAST(shard AS BIGINT) AS shard,
           |  CAST(count(*) AS BIGINT) AS n_bins,
           |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
           |  CAST(sum(sum_tokens) AS BIGINT) AS sum_tokens,
           |  min(min_id) AS min_id, max(max_id) AS max_id
           |FROM pk GROUP BY shard ORDER BY shard""".stripMargin
      },

      "q_token_bpe" ->
        """SELECT source,
          |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))) AS BIGINT) AS sum_bpe,
          |  count(*) AS n_docs
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,

      "q_fingerprint" -> {
        val nested = (1 to 32).foldLeft("CAST(0 AS BIGINT)") { (h, i) =>
          s"(($h * 31 + ascii(substr(p, $i, 1))) % 1000000007)"
        }
        s"""SELECT doc_id, CAST($nested AS BIGINT) AS fp FROM (
           |  SELECT doc_id, rpad(regexp_replace(text, '[^ -~]', '', 'g'), 32, ' ') AS p
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin
      },

      "q_events_json" ->
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q_json_corrupt" ->
        """SELECT event_type, NOT json_valid(p) AS corrupt, count(*) AS n,
          |  CAST(sum(CASE WHEN json_valid(p)
          |                THEN CAST(regexp_extract(p, '"k":\s*(\d+)', 1) AS BIGINT)
          |                ELSE 0 END) AS BIGINT) AS sum_k
          |FROM (SELECT event_type,
          |        CASE WHEN event_id % 7 = 0 THEN 'xx' || props ELSE props END AS p
          |      FROM events)
          |GROUP BY event_type, corrupt ORDER BY event_type, corrupt""".stripMargin,

      "q_skew_report" ->
        """WITH kc AS (SELECT user_id AS k, count(*) AS n
          |            FROM events GROUP BY user_id)
          |SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
          |  CAST(max(n) AS BIGINT) AS max_n,
          |  CAST(min(CASE WHEN n = (SELECT max(n) FROM kc) THEN k END)
          |    AS BIGINT) AS hot_key,
          |  CAST(max(n) * 1000 * count(*) // sum(n) AS BIGINT) AS skew_fp
          |FROM kc""".stripMargin,

      // the map round-trip collapses to the plain grouped counts — which
      // is the point: construction/filter/explosion must be lossless
      "q_map_ops" ->
        """SELECT user_id, event_type, n FROM (
          |  SELECT user_id, event_type, count(*) AS n
          |  FROM events GROUP BY user_id, event_type)
          |WHERE n >= 2 ORDER BY user_id, event_type""".stripMargin,

      "q_window_hourly" ->
        """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY hour_bucket ORDER BY hour_bucket""".stripMargin,

      "q_asof_join" ->
        """SELECT event_id, ts_us, user_id, o_orderkey, o_us FROM (
          |  SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
          |         o.o_orderkey, epoch_us(o.o_orderdate) AS o_us,
          |         row_number() OVER (PARTITION BY e.event_id
          |           ORDER BY epoch_us(o.o_orderdate) DESC, o.o_orderkey ASC) AS rn
          |  FROM events e JOIN orders o
          |    ON o.o_custkey = e.user_id AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
          |  WHERE e.event_id % 100 = 0)
          |WHERE rn = 1 ORDER BY event_id""".stripMargin,

      "q_asof_custom" ->
        """SELECT event_id, ts_us, user_id, o_orderkey, o_us FROM (
          |  SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
          |         o.o_orderkey, epoch_us(o.o_orderdate) AS o_us,
          |         row_number() OVER (PARTITION BY e.event_id
          |           ORDER BY epoch_us(o.o_orderdate) DESC NULLS LAST,
          |                    o.o_orderkey ASC NULLS LAST) AS rn
          |  FROM events e LEFT JOIN orders o
          |    ON o.o_custkey = e.user_id AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
          |  WHERE e.event_id % 100 = 0)
          |WHERE rn = 1 ORDER BY event_id""".stripMargin,

      "q_asof_forward" ->
        """SELECT event_id, ts_us, user_id, o_orderkey, o_us FROM (
          |  SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
          |         o.o_orderkey, epoch_us(o.o_orderdate) AS o_us,
          |         row_number() OVER (PARTITION BY e.event_id
          |           ORDER BY epoch_us(o.o_orderdate) ASC NULLS LAST,
          |                    o.o_orderkey ASC NULLS LAST) AS rn
          |  FROM events e LEFT JOIN orders o
          |    ON o.o_custkey = e.user_id
          |   AND epoch_us(o.o_orderdate) >= epoch_us(e.ts)
          |   AND epoch_us(o.o_orderdate) - epoch_us(e.ts) <= 7776000000000
          |  WHERE e.event_id % 100 = 0)
          |WHERE rn = 1 ORDER BY event_id""".stripMargin,

      "q_set_ops" ->
        """SELECT user_id FROM events WHERE event_type = 'error'
          |GROUP BY user_id HAVING count(*) >= 14
          |EXCEPT
          |SELECT user_id FROM events WHERE event_type = 'purchase'
          |GROUP BY user_id HAVING count(*) >= 14
          |ORDER BY user_id""".stripMargin,

      "q_except_all" ->
        """SELECT user_id, count(*) AS n_surplus FROM (
          |  SELECT user_id FROM events WHERE event_type = 'view'
          |  EXCEPT ALL
          |  SELECT user_id FROM events WHERE event_type = 'click')
          |GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q_intersect_all" ->
        """SELECT user_id, count(*) AS n_common FROM (
          |  SELECT user_id FROM events WHERE event_type = 'view'
          |  INTERSECT ALL
          |  SELECT user_id FROM events WHERE event_type = 'click')
          |GROUP BY user_id ORDER BY user_id""".stripMargin,

      // Frame features computed ARITHMETICALLY from the sample formula —
      // the Spark side got the samples by parsing WAV bytes (chunk walk,
      // sign extension), so any decode bug diverges here. DuckDB
      // list_slice is begin/end-inclusive (vs Spark's start/length).
      "q_audio_features" ->
        s"""WITH clips AS (
           |  SELECT doc_id AS clip_id, 48 + (doc_id % 5) * 16 AS n
           |  FROM documents WHERE doc_id < 100),
           |wsm AS (
           |  SELECT clip_id,
           |    list_transform(range(n), i -> (clip_id*7 + i*13) % 201 - 100) AS s
           |  FROM clips),
           |wfr AS (
           |  SELECT clip_id, s, unnest(range((len(s) + 15) // 16)) AS frame
           |  FROM wsm),
           |wsub AS (
           |  SELECT clip_id, frame,
           |    list_slice(s, frame*16 + 1, frame*16 + 16) AS sub
           |  FROM wfr)
           |SELECT clip_id, CAST(frame AS BIGINT) AS frame,
           |  CAST(len(sub) AS BIGINT) AS n,
           |  CAST(list_sum(list_transform(sub, x -> x*x)) AS BIGINT) AS sumsq,
           |  CAST(coalesce(list_sum(list_transform(range(len(sub) - 1),
           |    i -> CASE WHEN sub[i+1]*sub[i+2] < 0 THEN 1 ELSE 0 END)), 0)
           |    AS BIGINT) AS n_zc,
           |  CAST(list_max(list_transform(sub, x -> abs(x))) AS BIGINT) AS peak
           |FROM wsub ORDER BY clip_id, frame""".stripMargin,

      // The dHash fingerprints computed ARITHMETICALLY from the pixel
      // formula — the Spark side got them by parsing the BMP bytes, so
      // any decode bug (offset, stride, bottom-up order, block mean,
      // grayscale) diverges here.
      "q_image_dhash" ->
        s"""WITH $ImageFpCtes
           |SELECT img_id, fp_hi, fp_lo FROM fp ORDER BY img_id""".stripMargin,

      // Banded Hamming replay over the arithmetic fingerprints: 4×16-bit
      // bands from the (hi, lo) halves, hot-bucket cap 50, exact Hamming
      // ≤ 3 filter — the planted twins (src ≡ 0 mod 10, one bumped
      // pixel) must appear as (src, src+100000) pairs.
      "q_image_neardup" ->
        s"""WITH $ImageFpCtes,
           |ifp AS (SELECT img_id AS id, fp_hi, fp_lo FROM fp),
           |${hammingReplaySql("ifp")}
           |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
           |FROM hpairs WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,

      // Audio near-dup replay: fingerprints computed ARITHMETICALLY from
      // the sample formula (time-scaled energy windows → gradient bits,
      // as (hi, lo) 32-bit halves — never touching WAV bytes), then the
      // same banding, hot-bucket cap and exact Hamming filter as the
      // image miner.
      "q_audio_neardup" ->
        s"""WITH clips AS (
           |  SELECT doc_id AS clip_id, doc_id AS src, 0 AS bump
           |  FROM documents WHERE doc_id < 100
           |  UNION ALL
           |  SELECT doc_id + 100000, doc_id, 60
           |  FROM documents WHERE doc_id < 100 AND doc_id % 10 = 0),
           |params AS (
           |  SELECT clip_id, src, bump, 48 + (src % 5) * 16 AS n FROM clips),
           |sm AS (
           |  SELECT clip_id, n, i,
           |    ((src*7 + i*13) % 201) - 100
           |      + CASE WHEN i = 3 THEN bump ELSE 0 END AS s
           |  FROM params, (SELECT unnest(range(112)) AS i)
           |  WHERE i < n),
           |en0 AS (
           |  SELECT clip_id, k, sum(s*s) AS e
           |  FROM sm, (SELECT unnest(range(64)) AS k)
           |  WHERE i >= (k*n)//64 AND i < ((k+1)*n)//64
           |  GROUP BY clip_id, k),
           |en AS (
           |  SELECT g.clip_id, g.k, coalesce(en0.e, 0) AS e
           |  FROM (SELECT clip_id, k
           |        FROM params, (SELECT unnest(range(64)) AS k)) g
           |  LEFT JOIN en0 ON en0.clip_id = g.clip_id AND en0.k = g.k),
           |gbits AS (
           |  SELECT a.clip_id, a.k FROM en a
           |  JOIN en b ON b.clip_id = a.clip_id AND b.k = a.k - 1
           |  WHERE a.e > b.e),
           |afp AS (
           |  SELECT c.clip_id,
           |    CAST(coalesce(sum(CASE WHEN k >= 32
           |      THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS BIGINT) AS fp_hi,
           |    CAST(coalesce(sum(CASE WHEN k < 32
           |      THEN CAST(1 AS BIGINT) << k END), 0) AS BIGINT) AS fp_lo
           |  FROM (SELECT DISTINCT clip_id FROM clips) c
           |  LEFT JOIN gbits USING (clip_id)
           |  GROUP BY c.clip_id),
           |aid AS (SELECT clip_id AS id, fp_hi, fp_lo FROM afp),
           |${hammingReplaySql("aid")}
           |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
           |FROM hpairs WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,

      // Per-frame video fingerprints computed ARITHMETICALLY from the
      // pixel formula — the Spark side got the pixels by parsing Y4M
      // bytes (header walk, frame markers, chroma stride), so any
      // decode bug diverges here. Per-frame grid: raw cell for mono,
      // block sum // 4 for 18-wide.
      "q_video_decode" ->
        s"""WITH $VideoCellsCtes,
           |vfg AS (
           |  SELECT vid_id, t, ty, tx,
           |    CASE WHEN src % 2 = 0 THEN c ELSE c // 4 END AS g
           |  FROM vcells0),
           |vgb AS (
           |  SELECT a.vid_id, a.t, a.ty*8 + a.tx AS k
           |  FROM vfg a JOIN vfg b
           |    ON b.vid_id = a.vid_id AND b.t = a.t
           |   AND b.ty = a.ty AND b.tx = a.tx + 1
           |  WHERE a.tx < 8 AND a.g < b.g),
           |vfp AS (
           |  SELECT ft.vid_id, ft.t,
           |    CAST(coalesce(sum(CASE WHEN k >= 32
           |      THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS BIGINT) AS fp_hi,
           |    CAST(coalesce(sum(CASE WHEN k < 32
           |      THEN CAST(1 AS BIGINT) << k END), 0) AS BIGINT) AS fp_lo
           |  FROM (SELECT DISTINCT vid_id, t FROM vcells0) ft
           |  LEFT JOIN vgb ON vgb.vid_id = ft.vid_id AND vgb.t = ft.t
           |  GROUP BY ft.vid_id, ft.t)
           |SELECT vid_id, CAST(t AS BIGINT) AS frame, fp_hi, fp_lo
           |FROM vfp ORDER BY vid_id, frame""".stripMargin,

      // Chunked decode ≡ the same frames of the full decode: the
      // q_video_decode replay restricted to the window 1 <= t < 3
      // (videos have 2-5 frames, so frame 1 always exists and frame 2
      // exists only for nf >= 3 — the window edge is exercised).
      "q_video_chunk" ->
        s"""WITH $VideoCellsCtes,
           |vfg AS (
           |  SELECT vid_id, t, ty, tx,
           |    CASE WHEN src % 2 = 0 THEN c ELSE c // 4 END AS g
           |  FROM vcells0 WHERE t >= 1 AND t < 3),
           |vgb AS (
           |  SELECT a.vid_id, a.t, a.ty*8 + a.tx AS k
           |  FROM vfg a JOIN vfg b
           |    ON b.vid_id = a.vid_id AND b.t = a.t
           |   AND b.ty = a.ty AND b.tx = a.tx + 1
           |  WHERE a.tx < 8 AND a.g < b.g),
           |vfp AS (
           |  SELECT ft.vid_id, ft.t,
           |    CAST(coalesce(sum(CASE WHEN k >= 32
           |      THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS BIGINT) AS fp_hi,
           |    CAST(coalesce(sum(CASE WHEN k < 32
           |      THEN CAST(1 AS BIGINT) << k END), 0) AS BIGINT) AS fp_lo
           |  FROM (SELECT DISTINCT vid_id, t FROM vcells0
           |        WHERE t >= 1 AND t < 3) ft
           |  LEFT JOIN vgb ON vgb.vid_id = ft.vid_id AND vgb.t = ft.t
           |  GROUP BY ft.vid_id, ft.t)
           |SELECT vid_id, CAST(t AS BIGINT) AS frame, fp_hi, fp_lo
           |FROM vfp ORDER BY vid_id, frame""".stripMargin,

      // Video near-dup replay: temporal-sum grids (sum of per-frame
      // cells; the 18-wide block division happens AFTER the temporal
      // sum, exactly as the Spark side sums planes before gridding) →
      // gradient bits → the same banding, hot-bucket cap and exact
      // Hamming filter as the image miner. The planted twins (src ≡ 0
      // mod 10, one bumped pixel in one frame) must appear as
      // (src, src+100000) pairs.
      "q_video_neardup" ->
        s"""WITH $VideoCellsCtes,
           |vsum AS (
           |  SELECT vid_id, ty, tx,
           |    CASE WHEN min(src) % 2 = 0 THEN sum(c) ELSE sum(c) // 4 END AS g
           |  FROM vcells0 GROUP BY vid_id, ty, tx),
           |vgb AS (
           |  SELECT a.vid_id, a.ty*8 + a.tx AS k
           |  FROM vsum a JOIN vsum b
           |    ON b.vid_id = a.vid_id AND b.ty = a.ty AND b.tx = a.tx + 1
           |  WHERE a.tx < 8 AND a.g < b.g),
           |vfp AS (
           |  SELECT v.vid_id AS id,
           |    CAST(coalesce(sum(CASE WHEN k >= 32
           |      THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS BIGINT) AS fp_hi,
           |    CAST(coalesce(sum(CASE WHEN k < 32
           |      THEN CAST(1 AS BIGINT) << k END), 0) AS BIGINT) AS fp_lo
           |  FROM (SELECT DISTINCT vid_id FROM vids) v
           |  LEFT JOIN vgb ON vgb.vid_id = v.vid_id
           |  GROUP BY v.vid_id),
           |${hammingReplaySql("vfp")}
           |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
           |FROM hpairs WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,

      // Builds the SAME container blobs (PNG/GIF/BMP headers around the
      // text payload) with DuckDB blob/hex functions, then parses magic +
      // dimensions back OUT of the hex — an independent decode of real
      // header bytes, so an endianness or offset bug on either engine
      // hash-fails. Offsets are 1-based hex-string positions (byte k ->
      // char 2k+1): PNG w@16 h@20 big-endian; GIF w@6 h@8 LE16;
      // BMP w@18 h@22 LE32.
      "q_multimodal_decode" -> {
        def le16(e: String) =
          s"from_hex(substr(lpad(to_hex($e),4,'0'),3,2) || substr(lpad(to_hex($e),4,'0'),1,2))"
        def le32(e: String) =
          s"from_hex(substr(lpad(to_hex($e),8,'0'),7,2) || substr(lpad(to_hex($e),8,'0'),5,2) || " +
            s"substr(lpad(to_hex($e),8,'0'),3,2) || substr(lpad(to_hex($e),8,'0'),1,2))"
        def be32(e: String) = s"from_hex(lpad(to_hex($e),8,'0'))"
        val w = "(16 + doc_id % 240)"
        val h = "(16 + (doc_id * 3) % 240)"
        s"""WITH m AS (
           |  SELECT doc_id,
           |    CASE CAST(doc_id % 3 AS INTEGER)
           |      WHEN 0 THEN from_hex('89504E470D0A1A0A0000000D49484452') ||
           |        ${be32(w)} || ${be32(h)} || from_hex('0802000000') || encode(text)
           |      WHEN 1 THEN encode('GIF89a') || ${le16(w)} || ${le16(h)} ||
           |        from_hex('F70000') || encode(text)
           |      ELSE encode('BM') || from_hex('000000000000000000000000') ||
           |        from_hex('28000000') || ${le32(w)} || ${le32(h)} || encode(text)
           |    END AS b
           |  FROM documents),
           |p AS (
           |  SELECT doc_id, hex(b) AS hx,
           |    CAST(octet_length(b) AS BIGINT) AS byte_len,
           |    CASE
           |      WHEN substr(hex(b),1,16) = '89504E470D0A1A0A'
           |       AND substr(hex(b),25,8) = '49484452' THEN 'png'
           |      WHEN substr(hex(b),1,8) = '47494638'
           |       AND substr(hex(b),11,2) = '61' THEN 'gif'
           |      WHEN substr(hex(b),1,4) = '424D' THEN 'bmp'
           |      ELSE 'bin' END AS magic
           |  FROM m)
           |SELECT doc_id, magic, byte_len,
           |  CAST(CASE magic
           |    WHEN 'png' THEN CAST(('0x' || substr(hx,33,8)) AS BIGINT)
           |    WHEN 'gif' THEN CAST(('0x' || substr(hx,15,2) || substr(hx,13,2)) AS BIGINT)
           |    WHEN 'bmp' THEN CAST(('0x' || substr(hx,43,2) || substr(hx,41,2) ||
           |      substr(hx,39,2) || substr(hx,37,2)) AS BIGINT)
           |    ELSE 0 END AS BIGINT) AS width,
           |  CAST(CASE magic
           |    WHEN 'png' THEN CAST(('0x' || substr(hx,41,8)) AS BIGINT)
           |    WHEN 'gif' THEN CAST(('0x' || substr(hx,19,2) || substr(hx,17,2)) AS BIGINT)
           |    -- BMP biHeight is SIGNED int32 (negative = top-down):
           |    -- sign-extend and report the magnitude, like the decoder
           |    WHEN 'bmp' THEN abs(CASE
           |      WHEN CAST(('0x' || substr(hx,51,2) || substr(hx,49,2) ||
           |        substr(hx,47,2) || substr(hx,45,2)) AS BIGINT) >= 2147483648
           |      THEN CAST(('0x' || substr(hx,51,2) || substr(hx,49,2) ||
           |        substr(hx,47,2) || substr(hx,45,2)) AS BIGINT) - 4294967296
           |      ELSE CAST(('0x' || substr(hx,51,2) || substr(hx,49,2) ||
           |        substr(hx,47,2) || substr(hx,45,2)) AS BIGINT) END)
           |    ELSE 0 END AS BIGINT) AS height
           |FROM p ORDER BY doc_id""".stripMargin
      },

      "q_frame_sample" ->
        """SELECT doc_id AS id, unnest(range(0, 1 + byte_len % 7, 2)) AS frame
          |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
          |      FROM documents WHERE doc_id % 3 = 2)
          |ORDER BY id, frame""".stripMargin,

      "text_stats" ->
        """SELECT lang, count(*) AS n_docs,
          |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
          |           ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
          |           w -> w IN ('the','a','of','and','to','in')))) AS BIGINT) AS sum_stop,
          |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
          |           ELSE len(string_split_regex(trim(text), '\s+')) END) AS DOUBLE) / count(*) AS avg_tokens
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      "q_vocab" ->
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(${OracleGen.toksSql("text")}) AS tok FROM documents)
           |SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
           |FROM tok GROUP BY tok HAVING count(*) >= 2
           |ORDER BY tf DESC, tok ASC LIMIT 100""".stripMargin,

      "q_bigrams" ->
        s"""WITH tok AS (SELECT ${OracleGen.toksSql("text")} AS tk FROM documents),
           |bg AS (
           |  SELECT tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i + 1 AS INTEGER)] AS bigram
           |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tok))
           |SELECT bigram, count(*) AS n FROM bg
           |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

      "q_bpe_train" -> bpeUnrolledSql(6,
        (1 to 6).map(t =>
          s"SELECT CAST($t AS BIGINT) AS rank, l AS lhs, r AS rhs, cnt FROM b$t")
          .mkString("", "\nUNION ALL\n", "\nORDER BY rank")),

      "q_bpe_encode" -> bpeUnrolledSql(6,
        s"""SELECT d.source, CAST(count(*) AS BIGINT) AS n_words,
           |       CAST(sum(e.n_sub) AS BIGINT) AS n_subwords
           |FROM (SELECT source, unnest(tk) AS word FROM tok) d
           |JOIN (SELECT word, CAST(len(syms) AS BIGINT) AS n_sub FROM w6) e
           |  ON d.word = e.word
           |GROUP BY d.source ORDER BY d.source""".stripMargin),

      "q_unigram_lm" ->
        s"""WITH tok AS (
           |  SELECT doc_id AS id, unnest(${OracleGen.toksSql("text")}) AS tok
           |  FROM documents),
           |tf AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok)
           |SELECT id, count(*) AS n_tok, CAST(sum(tf.tf) AS BIGINT) AS sum_tf,
           |  CAST(CAST(sum(tf.tf) AS BIGINT) * 1000 // count(*) AS BIGINT) AS lm_fp
           |FROM tok JOIN tf USING (tok)
           |GROUP BY id ORDER BY id""".stripMargin,

      "q_perplexity_buckets" ->
        s"""WITH base AS (
           |  SELECT doc_id AS id, text, lang = 'en' AS is_ref FROM documents),
           |tok AS (
           |  SELECT id, is_ref, unnest(${OracleGen.toksSql("text")}) AS tok
           |  FROM base),
           |reftf AS (
           |  SELECT tok, count(*) AS tf FROM tok WHERE is_ref GROUP BY tok),
           |scored AS (
           |  SELECT id,
           |    CAST(CAST(sum(coalesce(tf, 0) + 1) AS BIGINT) * 1000
           |      // count(*) AS BIGINT) AS score_fp
           |  FROM tok LEFT JOIN reftf USING (tok) GROUP BY id),
           |mx AS (SELECT max(score_fp) AS mx, count(*) AS n_total FROM scored),
           |binned AS (
           |  SELECT id, score_fp,
           |    CAST(score_fp * 256 // (mx + 1) AS BIGINT) AS bin
           |  FROM scored, mx),
           |cum AS (
           |  SELECT bin, count(*) AS c,
           |    sum(count(*)) OVER (ORDER BY bin
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM binned GROUP BY bin),
           |cuts AS (
           |  SELECT min(CASE WHEN cum * 3 >= n_total THEN bin END) AS b33,
           |    min(CASE WHEN cum * 3 >= n_total * 2 THEN bin END) AS b66
           |  FROM cum, mx)
           |SELECT * FROM (
           |  SELECT
           |    CASE WHEN bin <= b33 THEN 'tail'
           |         WHEN bin <= b66 THEN 'middle' ELSE 'head' END AS bucket,
           |    count(*) AS n_docs, CAST(sum(id) AS BIGINT) AS sum_ids,
           |    CAST(sum(score_fp) AS BIGINT) AS sum_score_fp,
           |    min(score_fp) AS min_score, max(score_fp) AS max_score
           |  FROM binned, cuts
           |  GROUP BY 1
           |  UNION ALL
           |  SELECT 'empty' AS bucket, count(*) AS n_docs,
           |    CAST(sum(id) AS BIGINT) AS sum_ids,
           |    CAST(0 AS BIGINT) AS sum_score_fp,
           |    CAST(0 AS BIGINT) AS min_score, CAST(0 AS BIGINT) AS max_score
           |  FROM base WHERE len(${OracleGen.toksSql("text")}) = 0
           |  HAVING count(*) > 0
           |) ORDER BY bucket""".stripMargin,

      "q_lexical_diversity" ->
        s"""WITH tok AS (
           |  SELECT doc_id AS id, unnest(${OracleGen.toksSql("text")}) AS tok
           |  FROM documents),
           |tc AS (SELECT id, tok, count(*) AS c FROM tok GROUP BY id, tok),
           |agg AS (
           |  SELECT id, CAST(sum(c) AS BIGINT) AS n_tok,
           |    CAST(count(*) AS BIGINT) AS n_types,
           |    CAST(sum(c * c) AS BIGINT) AS sumsq
           |  FROM tc GROUP BY id)
           |SELECT id, n_tok, n_types,
           |  CAST((n_tok * n_tok - sumsq) * 1000000 // (n_tok * n_tok)
           |    AS BIGINT) AS gini_fp
           |FROM agg ORDER BY id""".stripMargin,

      "q_bigram_lm" ->
        s"""WITH tok AS (
           |  SELECT doc_id AS id, ${OracleGen.toksSql("text")} AS tk
           |  FROM documents),
           |pr AS (
           |  SELECT id,
           |    unnest(list_transform(range(0, len(tk) - 1), i -> tk[i+1])) AS w1,
           |    unnest(list_transform(range(0, len(tk) - 1),
           |      i -> tk[i+1] || ' ' || tk[i+2])) AS bg
           |  FROM tok WHERE len(tk) >= 2),
           |c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY w1),
           |c12 AS (SELECT bg, count(*) AS c12 FROM pr GROUP BY bg),
           |scored AS (
           |  SELECT pr.id, CAST(c12.c12 * 1000000 // c1.c1 AS BIGINT) AS p_fp
           |  FROM pr JOIN c12 USING (bg) JOIN c1 USING (w1))
           |SELECT id, count(*) AS n_pairs, CAST(sum(p_fp) AS BIGINT) AS sum_p_fp,
           |  CAST(CAST(sum(p_fp) AS BIGINT) // count(*) AS BIGINT) AS bigram_lm_fp
           |FROM scored GROUP BY id ORDER BY id""".stripMargin,

      "q_lr_quality" -> lrQualityOracleSql(steps = 3),

      "q_shard_manifest" ->
        s"""WITH t AS (
           |  SELECT doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 8
           |      AS shard,
           |    doc_id,
           |    CAST(len(${OracleGen.toksSql("text")}) AS BIGINT) AS n_tokens,
           |    n_chars
           |  FROM documents)
           |SELECT CAST(shard AS BIGINT) AS shard,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  CAST(min(doc_id) AS BIGINT) AS min_id,
           |  CAST(max(doc_id) AS BIGINT) AS max_id
           |FROM t GROUP BY shard ORDER BY shard""".stripMargin,

      "q_token_budget" ->
        s"""WITH d AS (
           |  SELECT doc_id AS id, source,
           |    CAST(len(${OracleGen.toksSql("text")}) AS BIGINT) AS nt,
           |    md5(CAST(doc_id AS VARCHAR)) AS rk,
           |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bk
           |  FROM documents),
           |pb AS (SELECT bk, CAST(sum(nt) AS BIGINT) AS btoks FROM d GROUP BY bk),
           |offs AS (
           |  SELECT a.bk, CAST(coalesce(sum(b.btoks), 0) AS BIGINT) AS boff
           |  FROM pb a LEFT JOIN pb b ON b.bk < a.bk GROUP BY a.bk),
           |c AS (
           |  SELECT d.source, d.nt,
           |    o.boff + coalesce(sum(d.nt) OVER (PARTITION BY d.bk
           |      ORDER BY d.rk, d.id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           |  FROM d JOIN offs o USING (bk))
           |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           |  CAST(sum(nt) AS BIGINT) AS tok_kept
           |FROM c WHERE cum < 2000 GROUP BY source ORDER BY source""".stripMargin,

      "q_novelty" ->
        s"""WITH tok AS (
           |  SELECT doc_id AS id, ${OracleGen.toksSql("text")} AS tk
           |  FROM documents),
           |sh AS (
           |  SELECT id, unnest(list_distinct(${OracleGen.shinglesOfToks("tk")})) AS sh
           |  FROM tok),
           |dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY sh)
           |SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
           |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000
           |    // count(*) AS BIGINT) AS novelty_fp
           |FROM sh JOIN dfreq USING (sh)
           |GROUP BY id ORDER BY id""".stripMargin,

      "q_source_drift" ->
        s"""WITH tok AS (
           |  SELECT source, unnest(${OracleGen.toksSql("text")}) AS tok
           |  FROM documents),
           |st AS (SELECT source, CAST(count(*) AS BIGINT) AS s_tot
           |       FROM tok GROUP BY source),
           |ct AS (SELECT CAST(sum(s_tot) AS BIGINT) AS c_tot FROM st),
           |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf
           |          FROM tok GROUP BY tok ORDER BY tf DESC, tok ASC LIMIT 20),
           |obs AS (
           |  SELECT t.source, t.tok, CAST(count(*) AS BIGINT) AS obs
           |  FROM tok t JOIN vocab v USING (tok)
           |  GROUP BY t.source, t.tok),
           |grid AS (
           |  SELECT st.source, st.s_tot,
           |    CAST(v.tf * st.s_tot * 1000 // ct.c_tot AS BIGINT) AS exp_fp,
           |    CAST(coalesce(o.obs, 0) * 1000 AS BIGINT) AS o_fp
           |  FROM st CROSS JOIN vocab v CROSS JOIN ct
           |  LEFT JOIN obs o ON o.source = st.source AND o.tok = v.tok)
           |SELECT source, CAST(max(s_tot) AS BIGINT) AS n_toks,
           |  CAST(sum(CASE WHEN exp_fp > 0
           |    THEN (o_fp - exp_fp) * (o_fp - exp_fp) // (exp_fp * 1000)
           |    ELSE 0 END) AS BIGINT) AS chi2_fp
           |FROM grid GROUP BY source ORDER BY source""".stripMargin,

      "q_pii_scrub" ->
        """WITH d AS (
          |  SELECT doc_id,
          |    text || ' contact user' || doc_id || '@example.com or (' ||
          |      lpad(CAST(doc_id % 800 AS VARCHAR), 3, '0') || ') 123-' ||
          |      lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS t
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, t,
          |    regexp_replace(
          |      regexp_replace(t,
          |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
          |      '\(\d{3}\) \d{3}-\d{4}', '<PHONE>', 'g') AS clean
          |  FROM d)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(t,
          |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(t,
          |    '\(\d{3}\) \d{3}-\d{4}')) AS BIGINT) AS n_phones,
          |  CAST(length(clean) AS BIGINT) AS clean_len,
          |  md5(clean) AS clean_md5
          |FROM c ORDER BY doc_id""".stripMargin,

      "q_boilerplate" ->
        """WITH d AS (
          |  SELECT doc_id,
          |    text || chr(10) || 'Subscribe to our newsletter' || chr(10) ||
          |      'Group footer ' || (doc_id % 7) || chr(10) ||
          |      'Rare note ' || (doc_id % 250) AS t
          |  FROM documents),
          |lines AS (
          |  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d),
          |boiler AS (
          |  SELECT coalesce(list(line), []) AS bl FROM (
          |    SELECT line FROM lines
          |    GROUP BY line HAVING count(DISTINCT doc_id) >= 50)),
          |c AS (
          |  SELECT doc_id,
          |    list_filter(string_split(t, chr(10)),
          |      x -> NOT list_contains(bl, x)) AS kept,
          |    len(string_split(t, chr(10))) AS n_lines
          |  FROM d, boiler)
          |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
          |  CAST(n_lines - len(kept) AS BIGINT) AS n_dropped,
          |  md5(array_to_string(kept, chr(10))) AS clean_md5
          |FROM c ORDER BY doc_id""".stripMargin,

      "q_clean_pipeline" ->
        s"""WITH d AS (
           |  SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example.com' || chr(10) ||
           |      'Subscribe to our newsletter' || chr(10) ||
           |      'Group footer ' || (doc_id % 7) AS t
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |    regexp_replace(t,
           |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
           |      '<EMAIL>', 'g') AS t
           |  FROM d),
           |lines AS (
           |  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM sc),
           |boiler AS (
           |  SELECT coalesce(list(line), []) AS bl FROM (
           |    SELECT line FROM lines
           |    GROUP BY line HAVING count(DISTINCT doc_id) >= 50)),
           |cl AS (
           |  SELECT doc_id,
           |    array_to_string(list_filter(string_split(t, chr(10)),
           |      x -> NOT list_contains(bl, x)), chr(10)) AS clean
           |  FROM sc, boiler),
           |kept AS (
           |  SELECT doc_id, clean,
           |    CAST(len(${OracleGen.toksSql("clean")}) AS BIGINT) AS n_tok
           |  FROM cl
           |  WHERE len(${OracleGen.toksSql("clean")}) >= 10)
           |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
           |       ELSE 'test' END AS split,
           |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           |  CAST(sum(CAST(('0x' || substr(md5(clean), 1, 12)) AS BIGINT))
           |    AS BIGINT) AS corpus_fp
           |FROM (SELECT *,
           |        doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 AS b
           |      FROM kept)
           |GROUP BY 1 ORDER BY split""".stripMargin,

      "q_editdist_refine" ->
        s"""WITH $minhashPairsCteSql,
           |corpus AS ($nearDupCorpusSql)
           |SELECT p.a_id, p.b_id,
           |  CAST(levenshtein(right(ca.text, 120), right(cb.text, 120)) AS BIGINT)
           |    AS edit_dist,
           |  levenshtein(right(ca.text, 120), right(cb.text, 120)) <= 16 AS confirmed
           |FROM pairs p
           |JOIN corpus ca ON ca.id = p.a_id
           |JOIN corpus cb ON cb.id = p.b_id
           |ORDER BY a_id, b_id""".stripMargin,

      "q_split" ->
        """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
          |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  min(doc_id) AS min_id, max(doc_id) AS max_id
          |FROM (SELECT doc_id, n_chars,
          |        doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 AS b
          |      FROM documents)
          |GROUP BY 1 ORDER BY split""".stripMargin,

      // Reuses the dedup_clusters recursive-closure CTE so the group
      // labels are the identical component set, then re-derives the
      // split and the straddle count from scratch.
      "q_split_grouped" ->
        s"""WITH RECURSIVE $minhashPairsCteSql,
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION SELECT b_id, a_id FROM pairs),
           |reach AS (
           |  SELECT src AS id, dst AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r),
           |comp AS (SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id),
           |corpus AS ($nearDupCorpusSql),
           |sp AS (
           |  SELECT c.id, coalesce(k.comp, c.id) AS group_id,
           |    CASE WHEN coalesce(k.comp, c.id) * CAST(2654435761 AS BIGINT)
           |           % 4294967296 % 100 < 80 THEN 'train'
           |         WHEN coalesce(k.comp, c.id) * CAST(2654435761 AS BIGINT)
           |           % 4294967296 % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM corpus c LEFT JOIN comp k ON c.id = k.id),
           |straddle AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_straddle FROM (
           |    SELECT group_id FROM sp GROUP BY group_id
           |    HAVING count(DISTINCT split) > 1))
           |SELECT split, count(*) AS n_docs,
           |  CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
           |  CAST(sum(id) AS BIGINT) AS sum_ids, s.n_straddle
           |FROM sp CROSS JOIN straddle s
           |GROUP BY split, s.n_straddle ORDER BY split""".stripMargin,

      "q_kfold" ->
        """WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
          |SELECT CAST(doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 5
          |    AS BIGINT) AS fold,
          |  count(*) AS n_val,
          |  CAST(t.n_total - count(*) AS BIGINT) AS n_train,
          |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
          |FROM documents CROSS JOIN tot t
          |GROUP BY fold, t.n_total ORDER BY fold""".stripMargin,

      "q_sample_weighted" ->
        """WITH k AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
          |    CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
          |  FROM documents
          |  WHERE doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 <
          |        least(90, CAST(floor(n_chars / 20.0) AS BIGINT))
          |  GROUP BY lang)
          |SELECT d.lang, count(*) AS n_docs,
          |  coalesce(k.n_kept, 0) AS n_kept,
          |  coalesce(k.sum_kept_ids, 0) AS sum_kept_ids
          |FROM documents d LEFT JOIN k ON d.lang = k.lang
          |GROUP BY d.lang, k.n_kept, k.sum_kept_ids ORDER BY d.lang""".stripMargin,

      "q_sessionize" ->
        """WITH flagged AS (
          |  SELECT user_id, event_id, ts_us,
          |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
          |  FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |          lag(epoch_us(ts), 1) OVER (
          |            PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
          |        FROM events)),
          |sessions AS (
          |  SELECT user_id,
          |    CAST(sum(new_session) OVER (
          |      PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          |  FROM flagged),
          |per_session AS (
          |  SELECT user_id, session_id, count(*) AS n
          |  FROM sessions GROUP BY user_id, session_id)
          |SELECT user_id, max(session_id) AS n_sessions,
          |  CAST(sum(n) AS BIGINT) AS n_events, max(n) AS max_session_events
          |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q_sql_custom_funcs" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)},
           |${OracleGen.embedCte("q", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)}
           |SELECT d.id AS doc_id, ${OracleGen.l2DoubleCols("d.emb", "q.emb")} AS distance
           |FROM d_emb d, q_emb q
           |ORDER BY distance ASC, doc_id ASC LIMIT 5""".stripMargin,

      "q_anomaly_hours" ->
        """WITH hourly AS (
          |  SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1),
          |stats AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_hours,
          |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
          |  FROM hourly),
          |z AS (
          |  SELECT hour_bucket, n,
          |    (CAST(n AS DOUBLE) - (CAST(s1 AS DOUBLE) / n_hours))
          |      / sqrt(CAST(s2 AS DOUBLE) / n_hours
          |             - (CAST(s1 AS DOUBLE) / n_hours) * (CAST(s1 AS DOUBLE) / n_hours)) AS z
          |  FROM hourly CROSS JOIN stats)
          |SELECT hour_bucket, n, z FROM z WHERE abs(z) > 2.0
          |ORDER BY hour_bucket""".stripMargin,

      // tolerance-flag contract: exact counts compared exactly, the CMS
      // bound reported as a flag the oracle expects TRUE
      "q_heavy_hitters" ->
        """SELECT user_id, count(*) AS n, TRUE AS within_bound
          |FROM events GROUP BY user_id
          |ORDER BY n DESC, user_id LIMIT 5""".stripMargin,

      "q_funnel_conversion" ->
        """WITH v AS (
          |  SELECT user_id, min(epoch_us(ts)) AS t_view
          |  FROM events WHERE event_type = 'view' GROUP BY user_id),
          |c AS (
          |  SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
          |  FROM events e JOIN v ON e.user_id = v.user_id
          |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
          |  GROUP BY e.user_id),
          |p AS (
          |  SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
          |  FROM events e JOIN c ON e.user_id = c.user_id
          |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
          |  GROUP BY e.user_id)
          |SELECT count(*) AS n_view,
          |  CAST(count(c.t_click) AS BIGINT) AS n_click,
          |  CAST(count(p.t_purchase) AS BIGINT) AS n_purchase,
          |  CAST(sum(p.t_purchase - v.t_view) AS BIGINT) AS sum_funnel_us
          |FROM v LEFT JOIN c ON v.user_id = c.user_id
          |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,

      "q_cohort_retention" ->
        """WITH d AS (
          |  SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
          |first AS (SELECT user_id, min(d) AS d0 FROM d GROUP BY user_id),
          |act AS (SELECT DISTINCT user_id, d FROM d)
          |SELECT f.d0 // 7 AS cohort_week, (a.d - f.d0) // 7 AS age_week,
          |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
          |FROM act a JOIN first f ON a.user_id = f.user_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_tfidf" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(${OracleGen.toksSql("text")}) AS tok FROM documents),
           |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
           |dfreq AS (
           |  SELECT tok, count(*) AS dfreq
           |  FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |scored AS (
           |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.dfreq,
           |    CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.dfreq AS DOUBLE)) AS tfidf
           |  FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n)
           |SELECT doc_id, rn, tok, tf, dfreq, tfidf FROM (
           |  SELECT doc_id, tok, tf, dfreq, tfidf,
           |    CAST(row_number() OVER (
           |      PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rn
           |  FROM scored)
           |WHERE rn <= 3 AND doc_id < 10
           |ORDER BY doc_id, rn""".stripMargin,

      "q_bm25" ->
        s"""WITH $Bm25Ctes
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
           |FROM bm25_scored GROUP BY doc_id
           |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,

      // Batched scoring ≡ per-query scoring: one prefixed BM25 CTE
      // chain per batch query, each replayed independently from the
      // corpus, top-10 each, unioned.
      "q_bm25_batch" -> bm25BatchOracleSql,
      // The guard path (tok filtering in the joins instead of isin
      // literals) must be row-identical — same per-query replay.
      "q_bm25_batch_pruned" -> bm25BatchOracleSql,

      // The plan-flatness verdicts are fully determined by the guard's
      // contract: every surface's 2000-query plan stays within the
      // bound, and the literal plan is strictly larger — the oracle IS
      // the expected verdict relation, literally.
      "q_batch_serving_plan" ->
        """SELECT * FROM (VALUES
          |  ('bm25','literal_plan_larger_at_2000',TRUE),
          |  ('bm25','plan_flat_100_to_2000',TRUE),
          |  ('ivf','plan_flat_100_to_2000',TRUE),
          |  ('maxsim','plan_flat_100_to_2000',TRUE),
          |  ('store','plan_flat_100_to_2000',TRUE)
          |) AS t(surface, gate, ok)
          |ORDER BY surface, gate""".stripMargin,

      // Same full-corpus BM25 replay as q_bm25 — the Spark side built
      // the index on 2/3 and appended the rest, so matching proves the
      // append path.
      "q_postings_append" ->
        s"""WITH $Bm25Ctes
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
           |FROM bm25_scored GROUP BY doc_id
           |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,

      // Compaction (auto-triggered or not) is query-invariant — same
      // full-corpus BM25 replay as q_postings_append.
      "q_postings_autocompact" ->
        s"""WITH $Bm25Ctes
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
           |FROM bm25_scored GROUP BY doc_id
           |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,

      // The streamed-in postings index (first batch builds, later
      // batches append incrementally, final compact) must converge to
      // the one-shot full build — same full-corpus BM25 replay as
      // q_bm25.
      "q_stream_postings_ingest" ->
        s"""WITH $Bm25Ctes
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
           |FROM bm25_scored GROUP BY doc_id
           |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,

      // BM25 replay over the REMAINING docs only — the Spark side built
      // the index on everything and deleted every third doc, so matching
      // proves the incremental delete (re-rank + df decrement + globals).
      "q_postings_delete" ->
        s"""WITH ${bm25CtesOver(
             "(SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)")}
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
           |FROM bm25_scored GROUP BY doc_id
           |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,

      // Late-interaction replay: distinct first-16 doc 3-token windows,
      // one embedding per DISTINCT window string (the same
      // vocabulary-sized relation the engine builds), per-(window,
      // query-window) dots floored at 1e6, exact integer max-then-sum.
      "q_maxsim" -> {
        val qwins = RagQuery.split(" ").toSeq.sliding(3)
          .map(_.mkString(" ")).toSeq.distinct
          .map(t => s"'$t'").mkString("[", ", ", "]")
        s"""WITH dt0 AS (
           |  SELECT DISTINCT doc_id, win FROM (
           |    SELECT doc_id,
           |      unnest(list_slice(${OracleGen.shinglesOfToks("tk")}, 1, 16)) AS win
           |    FROM (SELECT doc_id, ${OracleGen.toksSql("text")} AS tk
           |          FROM documents))),
           |${OracleGen.embedCte("t", "(SELECT DISTINCT win FROM dt0)", "win", "win", 64)},
           |${OracleGen.embedCte("q", s"(SELECT unnest($qwins) AS qt)", "qt", "qt", 64)},
           |dots AS (
           |  SELECT d.doc_id, q.id AS qt,
           |    CAST(floor((${OracleGen.dotCols("t.emb", "q.emb")}) * 1000000.0)
           |      AS BIGINT) AS dot_fp
           |  FROM dt0 d JOIN t_emb t ON t.id = d.win, q_emb q),
           |best AS (
           |  SELECT doc_id, qt, max(dot_fp) AS best_fp
           |  FROM dots GROUP BY doc_id, qt)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_qt,
           |  CAST(sum(best_fp) AS BIGINT) AS maxsim_fp
           |FROM best GROUP BY doc_id
           |ORDER BY maxsim_fp DESC, doc_id LIMIT 10""".stripMargin
      },

      // The pruned-interaction replay: candidate (window, query-window)
      // pairs = share ≥1 token (posting intersection), then the same
      // exact dot + max-then-sum over candidates only.
      // The JDBC round trip must preserve every row and char length: the
      // replay aggregates the parquet table directly.
      "q_jdbc_roundtrip" ->
        """SELECT doc_id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
          |  CAST(sum(doc_id) AS BIGINT) AS sum_id
          |FROM documents WHERE doc_id % 2 = 0
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_maxsim_pruned" -> maxSimPrunedOracleSql,

      // Served from the staged doc-window index (Retrieval.stageWindows)
      // — the oracle replays the from-corpus pruned path, so stage ≡
      // rebuild is hash-checked.
      "q_maxsim_staged" -> maxSimPrunedOracleSql,

      // Same full-corpus replay — the Spark side built the window stage
      // on 2/3 and appended the rest, so matching proves the append.
      "q_windows_append" -> maxSimPrunedOracleSql,

      // Replay over the SURVIVING corpus only — the Spark side built the
      // stage on everything, deleted every third doc, and compacted, so
      // matching proves delete-then-query ≡ rebuild-on-remaining.
      "q_windows_delete" -> maxSimPrunedOracleSqlWhere("doc_id % 3 <> 0"),
      "q_windows_autocompact" -> maxSimPrunedOracleSqlWhere("doc_id % 3 <> 0"),

      // Replay over the MODIFIED corpus — the Spark side built the
      // stage on the originals and upserted every fifth doc's revision,
      // so matching proves the delete-then-append composition.
      "q_postings_upsert" ->
        s"""WITH ${bm25CtesNamed("bm25_", RagQuery.split(" ").toSeq,
             UpsertCorpusSql)}
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
           |FROM bm25_scored GROUP BY doc_id
           |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,

      // The doc-window twin — pruned MaxSim over the modified corpus.
      "q_windows_upsert" -> maxSimPrunedOracleSqlOver(UpsertCorpusSql),

      // The streamed-in doc-window index (first batch builds, later
      // batches append, final compact) must converge to the one-shot
      // full build — same full-corpus pruned-MaxSim replay.
      "q_stream_windows_ingest" -> maxSimPrunedOracleSql,

      // Streamed queries served per micro-batch via the batched probe
      // must union to the one-shot batched probe: every query's
      // multi-probe chain (own bucket + single-bit flips) replayed from
      // the embeddings table, top-5 each.
      "q_stream_store_serve" -> {
        val probes = (Seq(0) ++ (0 until 4).map(1 << _))
          .map(m => if (m == 0) "q.bucket" else s"xor(q.bucket, $m)")
          .mkString(", ")
        s"""WITH eb AS (
           |  SELECT vec_id, embedding,
           |    ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket
           |  FROM embeddings),
           |qb AS (SELECT vec_id AS q_id, embedding, bucket FROM eb
           |       WHERE vec_id % 125 = 0),
           |cand AS (
           |  SELECT q.q_id, e.vec_id, e.bucket,
           |    ${OracleGen.l2FloatCols("e.embedding", "q.embedding")} AS distance
           |  FROM eb e JOIN qb q ON e.bucket IN ($probes))
           |SELECT q_id, rn, vec_id, bucket, distance FROM (
           |  SELECT q_id, vec_id, bucket, distance,
           |    CAST(row_number() OVER (PARTITION BY q_id
           |      ORDER BY distance ASC, vec_id ASC) AS BIGINT) AS rn
           |  FROM cand)
           |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
      },

      // Batched MaxSim ≡ per-query MaxSim: shared corpus CTEs, one
      // prefixed query chain per batch member, each replayed
      // independently, top-10 each, unioned.
      "q_maxsim_batch" -> {
        val chains = BatchMaxSimQueries.zipWithIndex.map { case (q, i) =>
          maxSimQueryCtes(s"b${i}_", q)
        }.mkString(",\n")
        val selects = BatchMaxSimQueries.indices.map { i =>
          s"""(SELECT CAST($i AS BIGINT) AS q_id,
             |  CAST(row_number() OVER (ORDER BY maxsim_fp DESC, doc_id)
             |    AS BIGINT) AS rank, doc_id, n_qt, maxsim_fp FROM (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_qt,
             |    CAST(sum(best_fp) AS BIGINT) AS maxsim_fp
             |  FROM b${i}_pbest GROUP BY doc_id)
             |ORDER BY maxsim_fp DESC, doc_id LIMIT 10)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"WITH ${maxSimCorpusCtes("TRUE")},\n$chains\n$selects\n" +
          "ORDER BY q_id, rank"
      },

      // Drained streaming serve ≡ one-shot batched serve: per-query rows
      // are batching-independent, so the replay is q_maxsim_batch's.
      "q_stream_maxsim_serve" -> {
        val chains = BatchMaxSimQueries.zipWithIndex.map { case (q, i) =>
          maxSimQueryCtes(s"v${i}_", q)
        }.mkString(",\n")
        val selects = BatchMaxSimQueries.indices.map { i =>
          s"""(SELECT CAST($i AS BIGINT) AS q_id,
             |  CAST(row_number() OVER (ORDER BY maxsim_fp DESC, doc_id)
             |    AS BIGINT) AS rank, doc_id, n_qt, maxsim_fp FROM (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_qt,
             |    CAST(sum(best_fp) AS BIGINT) AS maxsim_fp
             |  FROM v${i}_pbest GROUP BY doc_id)
             |ORDER BY maxsim_fp DESC, doc_id LIMIT 10)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"WITH ${maxSimCorpusCtes("TRUE")},\n$chains\n$selects\n" +
          "ORDER BY q_id, rank"
      },

      "q_rrf_fusion" ->
        s"""WITH $RrfFusedCtes
           |SELECT doc_id, lex_rank, vec_rank, rrf_fp FROM fused
           |ORDER BY rrf_fp DESC, doc_id LIMIT 10""".stripMargin,

      // Batched hybrid ≡ per-query hybrids: one replay per batch query —
      // its own BM25 top-20 rank list, its own multi-probe store rank
      // list over the hash-embedded documents (bucket filter BEFORE the
      // rank window, exactly as queryL2Batch ranks within the probed
      // candidates), the same integer RRF fusion, top-10 — unioned.
      "q_rrf_batch" -> {
        val chains = BatchLexQueries.zipWithIndex.map { case (q, i) =>
          bm25CtesNamed(s"r${i}_", q.split(" ").toSeq, "documents")
        }.mkString(",\n")
        val qEmbeds = BatchLexQueries.zipWithIndex.map { case (q, i) =>
          OracleGen.embedCte(s"rq$i", s"(SELECT '$q' AS text)", "0", "text", 64)
        }.mkString(",\n")
        val arms = BatchLexQueries.zipWithIndex.map { case (q, i) =>
          val probes = Ann.probesOf(
            graft.expressions.HashEmbed.embed(q, 64).toSeq, 4).mkString(", ")
          s"""(SELECT CAST($i AS BIGINT) AS q_id,
             |  CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id)
             |    AS BIGINT) AS rank,
             |  doc_id, lex_rank, vec_rank, rrf_fp FROM (
             |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             |    l.rank AS lex_rank, v.rank AS vec_rank,
             |    coalesce(1000000000 // (60 + l.rank), 0)
             |      + coalesce(1000000000 // (60 + v.rank), 0) AS rrf_fp
             |  FROM (SELECT doc_id, rank FROM (
             |      SELECT doc_id,
             |        row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rank
             |      FROM (SELECT doc_id,
             |              CAST(sum(idf_fp * tfpart_fp) AS BIGINT) AS score_fp
             |            FROM r${i}_scored GROUP BY doc_id))
             |    WHERE rank <= 20) l
             |  FULL OUTER JOIN (SELECT doc_id, rank FROM (
             |      SELECT doc_id,
             |        row_number() OVER (ORDER BY distance ASC, doc_id) AS rank
             |      FROM (SELECT d.id AS doc_id,
             |              ${OracleGen.l2DoubleCols("d.emb", "q.emb")} AS distance
             |            FROM d_emb d, rq${i}_emb q
             |            WHERE ${OracleGen.lshBucket("d.emb", 4, 64)} IN ($probes)))
             |    WHERE rank <= 20) v
             |  ON l.doc_id = v.doc_id)
             |ORDER BY rrf_fp DESC, doc_id LIMIT 10)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $chains,
           |${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)},
           |$qEmbeds
           |$arms
           |ORDER BY q_id, rank""".stripMargin
      },

      // Rerank replay: RRF top-50, then the stand-in cross-encoder —
      // floor(dot·1e6) over the embed chains + 100000 × distinct shared
      // tokens — and the reranked top-10.
      "q_rerank" ->
        s"""WITH $RrfFusedCtes,
           |cand AS (SELECT doc_id, rrf_fp FROM fused
           |         ORDER BY rrf_fp DESC, doc_id LIMIT 50),
           |cd AS (SELECT c.doc_id, c.rrf_fp, d.text
           |       FROM cand c JOIN documents d USING (doc_id)),
           |${OracleGen.embedCte("dd", "cd", "doc_id", "text", 64)},
           |${OracleGen.embedCte("qq", s"(SELECT '$RagQuery' AS text)", "0", "text", 64)},
           |dtokr AS (SELECT DISTINCT doc_id, unnest(${OracleGen.toksSql("text")}) AS tok
           |          FROM cd),
           |qtokr AS (SELECT DISTINCT unnest(${OracleGen.toksSql(s"'$RagQuery'")}) AS tok),
           |ovr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
           |        FROM dtokr JOIN qtokr USING (tok) GROUP BY doc_id),
           |rscored AS (
           |  SELECT c.doc_id, c.rrf_fp,
           |    CAST(floor((${OracleGen.dotCols("d.emb", "q.emb")}) * 1000000.0)
           |        AS BIGINT)
           |      + 100000 * coalesce(o.n_shared, 0) AS rerank_fp
           |  FROM cand c
           |  JOIN dd_emb d ON d.id = c.doc_id
           |  CROSS JOIN qq_emb q
           |  LEFT JOIN ovr o ON o.doc_id = c.doc_id)
           |SELECT doc_id, rrf_fp, CAST(rerank_fp AS BIGINT) AS rerank_fp
           |FROM rscored ORDER BY rerank_fp DESC, doc_id LIMIT 10""".stripMargin,

      "q_rag_hybrid" ->
        s"""WITH $RrfFusedCtes,
           |top5 AS (
           |  SELECT doc_id, rrf_fp FROM fused
           |  ORDER BY rrf_fp DESC, doc_id LIMIT 5),
           |ctx AS (
           |  SELECT string_agg(t.text, chr(10) || chr(10)
           |           ORDER BY top5.rrf_fp DESC, top5.doc_id) AS context
           |  FROM top5 JOIN documents t ON top5.doc_id = t.doc_id)
           |SELECT '$RagQuery' AS query, context,
           |       'Context:' || chr(10) || context || chr(10) || chr(10) ||
           |       'Question: ' || '$RagQuery' AS prompt
           |FROM ctx""".stripMargin,

      "q_cube" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          |  count(*) AS n
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

      "q_pivot" ->
        """SELECT l_returnflag,
          |  CAST(sum(CASE WHEN l_linestatus = 'F'
          |           THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
          |  CAST(sum(CASE WHEN l_linestatus = 'O'
          |           THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS O
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      "q_range_join" ->
        """SELECT tier, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM orders
          |JOIN (VALUES ('bronze', 0, 50000), ('silver', 50000, 150000),
          |             ('gold', 150000, 300000), ('platinum', 300000, 1000000000))
          |  t(tier, lo, hi)
          |  ON o_totalprice >= lo AND o_totalprice < hi
          |GROUP BY tier ORDER BY tier""".stripMargin,

      "q_centroid" ->
        """SELECT label, pos, n, sum_fp,
          |  CAST(sum_fp AS DOUBLE) / 1000000000000.0 AS sum_val,
          |  CAST(sum_fp AS DOUBLE) / 1000000000000.0 / n AS centroid
          |FROM (
          |  SELECT label, i AS pos, count(*) AS n,
          |    CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
          |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS sum_fp
          |  FROM embeddings, range(1, 65) t(i)
          |  GROUP BY label, i)
          |ORDER BY label, pos""".stripMargin,

      "q_centroid_udaf" ->
        """SELECT label, pos, n, sum_fp,
          |  CAST(sum_fp AS DOUBLE) / 1000000000000.0 / n AS centroid
          |FROM (
          |  SELECT label, i AS pos, count(*) AS n,
          |    CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
          |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS sum_fp
          |  FROM embeddings, range(1, 65) t(i)
          |  GROUP BY label, i)
          |ORDER BY label, pos""".stripMargin,

      "q_pagerank" -> pagerankOracleSql(iters = 3),

      "q_transitive_closure" ->
        """WITH RECURSIVE pp AS (
          |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          |  FROM lineitem),
          |edges AS (SELECT src, dst FROM pp UNION ALL SELECT dst, src FROM pp),
          |reach AS (
          |  SELECT CAST(2 AS BIGINT) AS id, 0 AS d
          |  UNION ALL
          |  SELECT DISTINCT e.dst AS id, r.d + 1 AS d
          |  FROM reach r JOIN edges e ON e.src = r.id
          |  WHERE r.d < 3)
          |SELECT id, CAST(min(d) AS BIGINT) AS dist,
          |       CAST(count(*) AS BIGINT) AS n_levels
          |FROM reach GROUP BY id ORDER BY id""".stripMargin,

      "q_observe_metrics" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r_flag,
          |  CAST((SELECT count(*) FROM lineitem WHERE l_linestatus = 'F') AS BIGINT) AS n_f_status
          |FROM lineitem""".stripMargin,

      "q_triangles" ->
        s"""WITH po0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |keep AS (SELECT o FROM po0 GROUP BY o
          |         HAVING count(*) <= $CoOccurMaxOrderParts),
          |po AS (SELECT po0.o, po0.p FROM po0 JOIN keep ON keep.o = po0.o),
          |und AS (SELECT DISTINCT x.p AS a, y.p AS b
          |        FROM po x JOIN po y ON x.o = y.o AND x.p < y.p),
          |deg AS (SELECT n, count(*) AS d FROM
          |          (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
          |        GROUP BY n),
          |dir AS (
          |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
          |              THEN u.a ELSE u.b END AS u,
          |         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
          |              THEN u.b ELSE u.a END AS v
          |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
          |wedges AS (SELECT x.u, x.v AS p, y.v AS q
          |           FROM dir x JOIN dir y ON x.u = y.u AND x.v < y.v),
          |tri AS (SELECT count(*) AS n FROM wedges w
          |        WHERE EXISTS (SELECT 1 FROM und e WHERE e.a = w.p AND e.b = w.q))
          |SELECT CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
          |       CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges,
          |       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles""".stripMargin,

      "q_pagerank_converged" ->
        pagerankConvergedOracleSql(maxIters = 10, tolFp = 400000000000000L),
      "q_label_prop" -> labelPropOracleSql(iters = 3),
      "q_pagerank_dangling" -> pagerankDanglingOracleSql(iters = 3),
      "q_pagerank_personalized" -> pagerankPersonalizedOracleSql(iters = 3),

      "q_kmeans" -> kmeansOracleSql(k = 4, iters = 2),

      "q_kmeans_converged" ->
        kmeansConvergedOracleSql(k = 4, maxIters = 6, tolFp = 1100000L),

      // replays the unrolled Lloyd CTEs, then per point the same
      // truncated own/other centroid distances (identical double chains
      // -> identical floor'd integers)
      "q_cluster_quality" ->
        s"""WITH ${kmeansCtesSql(4, 2)},
           |q AS (
           |  SELECT a.vec_id, a.cid, c.cid AS ccid,
           |    CAST(floor(${OracleGen.l2FloatCols("a.embedding", "c.cvec", 64)}
           |      * 1000000.0) AS BIGINT) AS dist_fp
           |  FROM a2 a CROSS JOIN c2 c),
           |pp AS (
           |  SELECT vec_id, cid,
           |    CAST(sum(CASE WHEN ccid = cid THEN dist_fp END) AS BIGINT) AS intra_fp,
           |    CAST(min(CASE WHEN ccid <> cid THEN dist_fp END) AS BIGINT) AS inter_fp
           |  FROM q GROUP BY vec_id, cid)
           |SELECT CAST(cid AS INTEGER) AS cid, count(*) AS n,
           |  CAST(sum(intra_fp) AS BIGINT) AS sum_intra_fp,
           |  CAST(sum(inter_fp) AS BIGINT) AS sum_inter_fp,
           |  sum(inter_fp) > sum(intra_fp) AS separated
           |FROM pp GROUP BY cid ORDER BY cid""".stripMargin,

      "q_centroid_assign" ->
        s"""WITH $CentroidListCtes,
           |d AS (
           |  SELECT e.vec_id, e.label, c.clabel,
           |    ${OracleGen.l2FloatCols("e.embedding", "c.cvec", 64)} AS dist
           |  FROM embeddings e CROSS JOIN centlist c),
           |r AS (
           |  SELECT vec_id, label, clabel,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
           |  FROM d)
           |SELECT label, clabel AS assigned, count(*) AS n
           |FROM r WHERE rn = 1
           |GROUP BY label, clabel ORDER BY label, assigned""".stripMargin,

      "q_centroid_outliers" ->
        s"""WITH $CentroidListCtes
           |SELECT e.vec_id, e.label,
           |  ${OracleGen.l2FloatCols("e.embedding", "c.cvec", 64)} AS dist
           |FROM embeddings e JOIN centlist c ON e.label = c.clabel
           |ORDER BY dist DESC, vec_id LIMIT 10""".stripMargin,

      "q_salted_join" ->
        """SELECT o_orderpriority, count(*) AS n_items,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

      "ann_ivf" -> ivfProbeOracleSql,

      // identical semantics persisted: the partition-pruned read over the
      // cell-partitioned layout must serve the same rows as the in-memory
      // cell computation
      "q_ivf_layout" -> ivfProbeOracleSql,

      // IVF lifecycle: append ≡ rebuild (full-corpus replay), delete ≡
      // rebuild-on-remaining (replay over the surviving rows).
      "q_ivf_append" -> ivfProbeOracleSql,
      // Waved appends then policy-fired compaction ≡ one-shot build on
      // the full corpus — the same pruned-probe replay as q_ivf_append.
      "q_ivf_autocompact" -> ivfProbeOracleSql,
      // Streamed-in index (first batch builds, later batches append,
      // fragmentation policy compacts mid-drain) converges to the
      // one-shot full build — same replay.
      "q_stream_ivf_ingest" -> ivfProbeOracleSql,

      // The fleet-health rows are fully determined by the fixtures the
      // query constructs (healthy shared stages; a stale LSM stage; a
      // fragmented IVF index; a torn index; a held lock; a missing
      // stage), so the oracle IS the expected dashboard, literally.
      "q_stage_health" ->
        """SELECT * FROM (VALUES
          |  ('docs_postings','postings',TRUE,FALSE,FALSE,FALSE,TRUE,''),
          |  ('docs_signatures','signatures',TRUE,FALSE,FALSE,FALSE,TRUE,''),
          |  ('docs_windows','windows',TRUE,FALSE,FALSE,FALSE,TRUE,''),
          |  ('emb_graph_ann','graph_ann',TRUE,FALSE,FALSE,FALSE,TRUE,''),
          |  ('emb_ivf','ivf',TRUE,FALSE,FALSE,FALSE,TRUE,''),
          |  ('emb_pq','pq',TRUE,FALSE,FALSE,FALSE,TRUE,''),
          |  ('emb_pq_deep','pq',TRUE,FALSE,FALSE,TRUE,TRUE,'Pq.retain'),
          |  ('emb_store','vector_store',TRUE,FALSE,FALSE,FALSE,TRUE,''),
          |  ('ivf_fragmented','ivf',TRUE,FALSE,FALSE,TRUE,TRUE,'compact'),
          |  ('ivf_torn','ivf',TRUE,TRUE,FALSE,FALSE,FALSE,'IvfIndex.recover'),
          |  ('postings_missing','postings',FALSE,FALSE,FALSE,FALSE,FALSE,'build'),
          |  ('postings_stale','postings',TRUE,FALSE,FALSE,TRUE,TRUE,'compact'),
          |  ('store_locked','vector_store',TRUE,FALSE,TRUE,FALSE,FALSE,'VectorStore.recover')
          |) AS t(name, kind, stage_exists, torn_commit, writer_locked,
          |       needs_compact, healthy, heal)
          |ORDER BY name""".stripMargin,
      // Heal outcomes are fully determined by the heal-owned fixture
      // fleet: every unhealthy fixture's prescribed action executes and
      // re-probes clean, the missing stage stays `build` — the oracle
      // IS the expected post-apply dashboard, literally.
      "q_stage_heal" ->
        """SELECT * FROM (VALUES
          |  ('docs_postings','postings','',FALSE,'',TRUE,FALSE,TRUE,''),
          |  ('docs_signatures','signatures','',FALSE,'',TRUE,FALSE,TRUE,''),
          |  ('docs_windows','windows','',FALSE,'',TRUE,FALSE,TRUE,''),
          |  ('emb_graph_ann','graph_ann','',FALSE,'',TRUE,FALSE,TRUE,''),
          |  ('emb_ivf','ivf','',FALSE,'',TRUE,FALSE,TRUE,''),
          |  ('emb_pq','pq','',FALSE,'',TRUE,FALSE,TRUE,''),
          |  ('emb_pq_deep','pq','Pq.retain',TRUE,'',TRUE,FALSE,TRUE,''),
          |  ('emb_store','vector_store','',FALSE,'',TRUE,FALSE,TRUE,''),
          |  ('ivf_fragmented','ivf','compact',TRUE,'',TRUE,FALSE,TRUE,''),
          |  ('ivf_torn','ivf','IvfIndex.recover',TRUE,'',TRUE,FALSE,TRUE,''),
          |  ('postings_missing','postings','build',FALSE,'',FALSE,FALSE,FALSE,'build'),
          |  ('postings_stale','postings','compact',TRUE,'',TRUE,FALSE,TRUE,''),
          |  ('store_locked','vector_store','VectorStore.recover',TRUE,'',TRUE,FALSE,TRUE,'')
          |) AS t(name, kind, action, applied, error, stage_exists,
          |       needs_compact, healthy, heal)
          |ORDER BY name""".stripMargin,
      // Batched probe ≡ per-query probes (one replay per batch query);
      // the streamed serve drains to the same batched probe, so its
      // oracle is identical
      "q_ivf_probe_batch" -> ivfBatchOracleSql,
      "q_stream_ivf_serve" -> ivfBatchOracleSql,
      "q_ivf_delete" -> ivfProbeOracleSqlOn(" WHERE vec_id % 3 <> 0"),

      "q_vector_store_quantized" -> {
        val (codes, qMaxAbs) = Quantize.quantizeQuery(QueryVec.values)
        val qdotChain = (1 to 64).map(k => s"codes[$k] * (${codes(k - 1)})").mkString(" + ")
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""WITH qv AS (
           |  SELECT vec_id, label, maxabs,
           |    list_transform(embedding, x -> CAST(CASE WHEN maxabs = 0 THEN 0
           |      ELSE round(CAST(x AS DOUBLE) * 127.0 / maxabs) END AS BIGINT)) AS codes,
           |    ${OracleGen.lshBucket("embedding", 4, 64)} AS bucket
           |  FROM (SELECT vec_id, label, embedding,
           |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
           |        FROM embeddings))
           |SELECT vec_id, label, bucket, qdot,
           |  (CAST(qdot AS DOUBLE) * (maxabs / 127.0)) * ($qMaxAbs / 127.0) AS score
           |FROM (SELECT vec_id, label, bucket, maxabs, $qdotChain AS qdot FROM qv)
           |WHERE bucket IN ($probes)
           |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
      },

      "knn_quantized" -> {
        val (codes, _) = Quantize.quantizeQuery(QueryVec.values)
        val qdotChain = (1 to 64).map(k => s"codes[$k] * (${codes(k - 1)})").mkString(" + ")
        s"""WITH qv AS (
           |  SELECT vec_id, label, maxabs,
           |    list_transform(embedding, x -> CAST(CASE WHEN maxabs = 0 THEN 0
           |      ELSE round(CAST(x AS DOUBLE) * 127.0 / maxabs) END AS BIGINT)) AS codes
           |  FROM (SELECT vec_id, label, embedding,
           |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
           |        FROM embeddings))
           |SELECT vec_id, label, qdot,
           |  (CAST(qdot AS DOUBLE) * (maxabs / 127.0)) * (0.5 / 127.0) AS score
           |FROM (SELECT vec_id, label, maxabs, $qdotChain AS qdot FROM qv)
           |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
      },

      "q3_shipping" ->
        s"""SELECT l_orderkey, epoch_us(o_orderdate) AS o_us, o_orderpriority,
           |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY l_orderkey, epoch_us(o_orderdate), o_orderpriority
           |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

      "q_full_outer" ->
        """SELECT c_custkey IS NOT NULL AS has_cust,
          |  o_custkey IS NOT NULL AS has_ord,
          |  count(*) AS n_keys,
          |  CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS sum_orders
          |FROM (SELECT c_custkey FROM customer WHERE c_custkey <= 1000) c
          |FULL OUTER JOIN (
          |  SELECT o_custkey, count(*) AS n_orders FROM orders
          |  WHERE o_custkey >= 500 GROUP BY o_custkey) o
          |ON c_custkey = o_custkey
          |GROUP BY 1, 2 ORDER BY has_cust, has_ord""".stripMargin,

      "q_grouping_sets" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          |  count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

      "q_window_funcs" ->
        """SELECT o_custkey, o_orderkey,
          |  CAST(row_number() OVER w AS BIGINT) AS rn,
          |  lag(o_totalprice, 1) OVER w AS prev_price,
          |  lead(o_totalprice, 1) OVER w AS next_price,
          |  CAST(ntile(4) OVER w AS BIGINT) AS tile4,
          |  percent_rank() OVER w AS pct_rank,
          |  cume_dist() OVER w AS cdist,
          |  first_value(o_orderkey) OVER wf AS first_key,
          |  last_value(o_orderkey) OVER wf AS last_key
          |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
          |        epoch_us(o_orderdate) AS o_us
          |      FROM orders WHERE o_custkey < 20)
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_us ASC, o_orderkey ASC),
          |  wf AS (PARTITION BY o_custkey ORDER BY o_us ASC, o_orderkey ASC
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY o_custkey, rn""".stripMargin,

      "q_dq_audit" ->
        """WITH li AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(coalesce(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
          |      OR l_quantity > 50.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_qty,
          |    CAST(coalesce(sum(CASE WHEN l_tax IS NULL OR l_tax > 0.05
          |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_tax,
          |    CAST(coalesce(sum(CASE WHEN l_shipdate IS NULL
          |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_ship
          |  FROM lineitem),
          |ord AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(coalesce(sum(CASE WHEN o_orderstatus IS NULL
          |      OR o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END), 0)
          |      AS BIGINT) AS v_status,
          |    CAST(coalesce(sum(CASE WHEN o_totalprice IS NULL
          |      OR o_totalprice <= 0.0 THEN 1 ELSE 0 END), 0)
          |      AS BIGINT) AS v_price
          |  FROM orders),
          |ev AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(coalesce(sum(CASE WHEN value IS NULL OR value > 400.0
          |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_val
          |  FROM events),
          |uq_ord AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd FROM orders),
          |uq_ev AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(count(DISTINCT event_id) AS BIGINT) AS nd FROM events),
          |fk_li AS (
          |  SELECT CAST(count(*) AS BIGINT) AS nv,
          |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n
          |  FROM lineitem l WHERE NOT EXISTS (
          |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
          |fk_ev AS (
          |  SELECT CAST(count(*) AS BIGINT) AS nv,
          |    (SELECT CAST(count(*) AS BIGINT) FROM events) AS n
          |  FROM events e WHERE NOT EXISTS (
          |    SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
          |SELECT * FROM (
          |  SELECT 'li_quantity_range' AS rule, v_qty AS n_violations,
          |    n_rows, v_qty = 0 AS pass FROM li
          |  UNION ALL SELECT 'li_tax_cap', v_tax, n_rows, v_tax = 0 FROM li
          |  UNION ALL SELECT 'li_shipdate_not_null', v_ship, n_rows,
          |    v_ship = 0 FROM li
          |  UNION ALL SELECT 'ord_status_accepted', v_status, n_rows,
          |    v_status = 0 FROM ord
          |  UNION ALL SELECT 'ord_totalprice_positive', v_price, n_rows,
          |    v_price = 0 FROM ord
          |  UNION ALL SELECT 'ev_value_cap', v_val, n_rows, v_val = 0 FROM ev
          |  UNION ALL SELECT 'ord_orderkey_unique', n - nd, n,
          |    n - nd = 0 FROM uq_ord
          |  UNION ALL SELECT 'ev_event_id_unique', n - nd, n,
          |    n - nd = 0 FROM uq_ev
          |  UNION ALL SELECT 'li_orderkey_fk', nv, n, nv = 0 FROM fk_li
          |  UNION ALL SELECT 'ev_user_fk', nv, n, nv = 0 FROM fk_ev)
          |ORDER BY rule""".stripMargin,

      "q_table_stats" -> {
        def num(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
             |  count(DISTINCT $c) AS ndv,
             |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
             |FROM orders""".stripMargin
        def str(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
             |  count(DISTINCT $c) AS ndv,
             |  CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v
             |FROM orders""".stripMargin
        (Seq("o_orderkey", "o_custkey", "o_totalprice").map(num) ++
          Seq("o_orderstatus", "o_orderpriority").map(str))
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      },

      "q_table_stats_approx" ->
        (Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
          "o_orderpriority")
          .map(c => s"SELECT '$c' AS col_name, count(DISTINCT $c) AS ndv, " +
            "TRUE AS within_tol FROM orders")
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),

      "q_histogram" ->
        """WITH t AS (
          |  SELECT s_nationkey AS grp, s_acctbal AS v,
          |    ntile(4) OVER (PARTITION BY s_nationkey
          |                   ORDER BY s_acctbal, s_suppkey) AS bucket
          |  FROM supplier)
          |SELECT grp, bucket, count(*) AS n, min(v) AS lo, max(v) AS hi
          |FROM t GROUP BY grp, bucket ORDER BY grp, bucket""".stripMargin,

      // Sketch boundaries are not oracle-reproducible; the contract row is
      // the tolerance flag (cf. q_table_stats_approx).
      "q_histogram_approx" ->
        """SELECT CAST(i AS BIGINT) AS bucket, TRUE AS depth_within_tol
          |FROM range(1, 9) t(i) ORDER BY bucket""".stripMargin,

      "q_stats_moments" ->
        """SELECT l_returnflag, n,
          |  CAST(sq AS DOUBLE) / n / 100.0 AS mean_qty,
          |  CAST(n*sqq - sq*sq AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) / 10000.0 AS var_qty,
          |  sqrt(CAST(n*sqq - sq*sq AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) / 10000.0) AS std_qty,
          |  CAST(n*sqd - sq*sd AS DOUBLE) /
          |    (sqrt(CAST(n*sqq - sq*sq AS DOUBLE)) * sqrt(CAST(n*sdd - sd*sd AS DOUBLE)))
          |    AS corr_qty_disc
          |FROM (
          |  SELECT l_returnflag, count(*) AS n,
          |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(d) AS BIGINT) AS sd,
          |    CAST(sum(q*q) AS BIGINT) AS sqq, CAST(sum(d*d) AS BIGINT) AS sdd,
          |    CAST(sum(q*d) AS BIGINT) AS sqd
          |  FROM (SELECT l_returnflag,
          |          CAST(round(l_quantity * 100) AS BIGINT) AS q,
          |          CAST(round(l_discount * 100) AS BIGINT) AS d
          |        FROM lineitem)
          |  GROUP BY l_returnflag)
          |ORDER BY l_returnflag""".stripMargin,

      "q_approx_distinct" ->
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
          |  count(*) AS n, TRUE AS within_tol
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      "q_schema_evolution" ->
        """SELECT CASE WHEN doc_id % 2 = 0 THEN '<pre-evolution>' ELSE lang END AS lang2,
          |  count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
          |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars
          |FROM documents
          |GROUP BY lang2 ORDER BY lang2""".stripMargin,

      "q_partition_prune" ->
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
          |FROM orders WHERE date_part('year', o_orderdate) = 1998
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

      "q_dpp_join" ->
        """SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events
          |WHERE epoch_us(ts) // 86400000000 IN (19723, 19724, 19725)
          |GROUP BY day ORDER BY day""".stripMargin,

      "q_stream_static_join" ->
        """SELECT c_mktsegment, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM events JOIN customer ON user_id = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

      // Batch replay of the watermark contract: drop the planted late rows
      // (first ts-range ∧ event_id%5=0 — the staging predicate), keep only
      // windows finalized by the final watermark (max event ms − 30 min;
      // Spark tracks event-time stats in whole milliseconds). The split
      // width mirrors stageSplitSourceWithLate's integer arithmetic.
      "q_stream_late" ->
        """WITH b AS (
          |  SELECT min(epoch_ns(ts)) AS mn,
          |    ((max(epoch_ns(ts)) - min(epoch_ns(ts))) // 3 + 1) AS width
          |  FROM events),
          |ok AS (
          |  SELECT e.ts, e.value FROM events e, b
          |  WHERE NOT (epoch_ns(e.ts) < b.mn + b.width AND e.event_id % 5 = 0)),
          |wm AS (SELECT (max(epoch_us(ts)) // 1000) - 1800000 AS wm_ms FROM events)
          |SELECT epoch_us(ts) // 3600000000 AS hour_bucket, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM ok, wm
          |GROUP BY hour_bucket, wm_ms
          |HAVING (hour_bucket + 1) * 3600000 <= wm_ms
          |ORDER BY hour_bucket""".stripMargin,

      "q_stream_hourly" ->
        """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY hour_bucket ORDER BY hour_bucket""".stripMargin,

      // identical whole-table semantics: the killed-and-restarted drain
      // must converge to the same result as the uninterrupted stream
      "q_stream_restart" ->
        """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY hour_bucket ORDER BY hour_bucket""".stripMargin,

      // sketch values aren't oracle-reproducible; the contract rows are
      // the exact count + tolerance flags (q_table_stats_approx pattern)
      "q_stream_quantiles" ->
        """SELECT event_type, count(*) AS n,
          |  TRUE AS p50_within_tol, TRUE AS p90_within_tol
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      // Batch sessionization twin of Spark's session_window: a new session
      // starts when the gap since the previous event is >= the 30-minute
      // gap duration (session intervals are half-open [start, last+gap)),
      // session end = last event + gap.
      "q_stream_sessions" ->
        """WITH flagged AS (
          |  SELECT user_id, ts_us,
          |    CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM (SELECT user_id, epoch_us(ts) AS ts_us,
          |          lag(epoch_us(ts), 1) OVER (
          |            PARTITION BY user_id ORDER BY epoch_us(ts) ASC) AS prev_us
          |        FROM events)),
          |sess AS (
          |  SELECT user_id, ts_us,
          |    CAST(sum(new_session) OVER (
          |      PARTITION BY user_id ORDER BY ts_us ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
          |  FROM flagged)
          |SELECT user_id, min(ts_us) AS start_us,
          |  max(ts_us) + 1800000000 AS end_us, count(*) AS n_events
          |FROM sess GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

      "q_stream_join" ->
        """SELECT p.user_id AS user_id, p.event_id AS p_event,
          |  e.event_id AS e_event,
          |  epoch_us(p.ts) AS p_us, epoch_us(e.ts) AS e_us
          |FROM events p JOIN events e
          |  ON e.user_id = p.user_id
          | AND p.event_type = 'purchase' AND e.event_type = 'error'
          | AND epoch_us(e.ts) >= epoch_us(p.ts)
          | AND epoch_us(e.ts) <= epoch_us(p.ts) + 3600000000""".stripMargin,

      // the flush sentinel makes the streaming left join total: its
      // result is the plain batch left join, nulls included
      "q_stream_left_join" ->
        """SELECT p.user_id AS user_id, p.event_id AS p_event,
          |  e.event_id AS e_event,
          |  epoch_us(p.ts) AS p_us, epoch_us(e.ts) AS e_us
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
          |  ON e.user_id = p.user_id
          | AND epoch_us(e.ts) >= epoch_us(p.ts)
          | AND epoch_us(e.ts) <= epoch_us(p.ts) + 3600000000""".stripMargin,

      // doubled delivery collapses back to the event set
      "q_stream_dedup_wm" ->
        "SELECT event_id, user_id, event_type FROM events",

      // exactly-once across a kill/restart: the doubled delivery must
      // collapse back to the plain event set via RECOVERED dedup state
      "q_stream_restart_dedup" ->
        "SELECT event_id, user_id, event_type FROM events",

      "q_stream_merge" ->
        """WITH latest AS (
          |  SELECT user_id, event_type, value FROM (
          |    SELECT user_id, event_type, value,
          |      row_number() OVER (PARTITION BY user_id
          |        ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events) WHERE rn = 1)
          |SELECT event_type, count(*) AS n_users,
          |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
          |  CAST(sum(user_id) AS BIGINT) AS sum_users
          |FROM latest GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q_stream_dedup" ->
        "SELECT DISTINCT md5(text) AS text_md5 FROM documents",

      // stateless clean-on-ingest: set-equal to the one-pass batch chain
      "q_stream_clean" ->
        s"""WITH d AS (
           |  SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example.com' || chr(10) ||
           |      'Subscribe to our newsletter' || chr(10) ||
           |      'Group footer ' || (doc_id % 7) AS t
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |    regexp_replace(t,
           |      '${graft.functions.TextFunctions.EmailRe}',
           |      '<EMAIL>', 'g') AS t
           |  FROM d),
           |lines AS (
           |  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM sc),
           |boiler AS (
           |  SELECT coalesce(list(line), []) AS bl FROM (
           |    SELECT line FROM lines
           |    GROUP BY line HAVING count(DISTINCT doc_id) >= 50)),
           |c AS (
           |  SELECT doc_id,
           |    list_filter(string_split(t, chr(10)),
           |      x -> NOT list_contains(bl, x)) AS kept,
           |    len(string_split(t, chr(10))) AS n_lines
           |  FROM sc, boiler)
           |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
           |  CAST(n_lines - len(kept) AS BIGINT) AS n_dropped,
           |  md5(array_to_string(kept, chr(10))) AS clean_md5
           |FROM c ORDER BY doc_id""".stripMargin,

      "q_stream_embed" ->
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)}
           |SELECT id AS doc_id,
           |  CAST(list_sum(list_transform(emb,
           |    x -> CAST(floor(x * 1000000000000.0) AS BIGINT))) AS BIGINT) AS emb_fp
           |FROM d_emb""".stripMargin,

      // every event (hour h) lands in the two 2h/1h-slide windows that
      // start at h-1 and h
      "q_stream_sliding" ->
        """WITH e AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
          |w AS (SELECT h AS ws FROM e UNION ALL SELECT h - 1 AS ws FROM e)
          |SELECT ws AS win_start_hour, count(*) AS n
          |FROM w GROUP BY ws ORDER BY ws""".stripMargin,

      "q_stream_topk" ->
        """SELECT user_id, count(*) AS n FROM events
          |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""".stripMargin,

      "q_stream_user_stats" ->
        """SELECT user_id, count(*) AS n_events,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY user_id""".stripMargin,

      "q_conversation_resolve" ->
        s"""WITH $ConvCtes
           |SELECT conv_id, turn_no, is_followup, resolved_query
           |FROM conv_resolved ORDER BY conv_id, turn_no""".stripMargin,

      "q_conversation_rag" ->
        s"""WITH $ConvRagCtes
           |SELECT conv_id, turn_no, is_followup, rank, doc_id, score_fp
           |FROM conv_ranked WHERE rank <= 5
           |ORDER BY conv_id, turn_no, rank""".stripMargin,

      "q_conversation_context" ->
        s"""WITH $ConvRagCtes
           |SELECT conv_id, turn_no, is_followup,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  string_agg(text, chr(10) || chr(10) ORDER BY rank) AS context
           |FROM (SELECT * FROM conv_ranked WHERE rank <= 3) r
           |  JOIN documents USING (doc_id)
           |GROUP BY conv_id, turn_no, is_followup
           |ORDER BY conv_id, turn_no""".stripMargin,

      // The streaming resolver must CONVERGE to the batch window
      // resolution — same oracle as q_conversation_resolve.
      "q_stream_conversation" ->
        s"""WITH $ConvCtes
           |SELECT conv_id, turn_no, is_followup, resolved_query
           |FROM conv_resolved ORDER BY conv_id, turn_no""".stripMargin,

      // Streamed resolve + per-batch retrieval from the static postings
      // stage must equal the one-shot batch retrieval — same oracle as
      // q_conversation_rag.
      "q_stream_conversation_rag" ->
        s"""WITH $ConvRagCtes
           |SELECT conv_id, turn_no, is_followup, rank, doc_id, score_fp
           |FROM conv_ranked WHERE rank <= 5
           |ORDER BY conv_id, turn_no, rank""".stripMargin,

      "q_stream_vector_ingest" -> {
        val probes = Ann.probesOf(QueryVec.values, 4).mkString(", ")
        s"""WITH ${OracleGen.embedCte("d", "documents", "doc_id", "text", 64)}
           |SELECT vec_id, bucket, distance FROM (
           |  SELECT id AS vec_id, ${OracleGen.lshBucket("emb", 4, 64)} AS bucket,
           |         ${OracleGen.l2ToQuery("emb")} AS distance
           |  FROM d_emb)
           |WHERE bucket IN ($probes)
           |ORDER BY distance ASC, vec_id ASC LIMIT 5""".stripMargin
      },

      "q_decontaminate" -> decontaminateOracleSql,

      // Bloom prefilter + exact verify = the exact answer: the oracle is
      // the SAME SQL as q_decontaminate by construction.
      "q_decontaminate_bloom" -> decontaminateOracleSql,

      // Same replay with the planted ubiquitous tail — the df>50 guard
      // must drop the corpus-wide shingle on both engines.
      "q_decontaminate_skew" ->
        s"""WITH split AS (
           |  SELECT doc_id, text,
           |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT doc_id, text || ' zzstopa zzstopb zzstopc' AS text,
           |          doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 AS b
           |        FROM documents)),
           |tok AS (SELECT doc_id, split, ${OracleGen.toksSql("text")} AS tk FROM split),
           |sh0 AS (SELECT doc_id, split,
           |         unnest(list_distinct(${OracleGen.shinglesOfToks("tk")})) AS sh
           |       FROM tok),
           |sh AS (
           |  SELECT * FROM sh0 WHERE split IN ('test', 'train')
           |    AND sh NOT IN (
           |      SELECT sh FROM sh0 WHERE split IN ('test', 'train')
           |      GROUP BY sh HAVING count(*) > 50)),
           |pairs AS (
           |  SELECT t.doc_id AS test_id, tr.doc_id AS train_id, count(*) AS n_shared
           |  FROM sh t JOIN sh tr ON t.sh = tr.sh
           |  WHERE t.split = 'test' AND tr.split = 'train'
           |  GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT test_id, count(*) AS n_train_matches, max(n_shared) AS max_shared
           |FROM pairs GROUP BY test_id ORDER BY test_id""".stripMargin,

      "q_dup_spans" ->
        s"""WITH corpus AS ($nearDupCorpusSql),
           |tok AS (SELECT id, ${OracleGen.toksSql("text")} AS tk FROM corpus),
           |wins AS (
           |  SELECT id, CASE WHEN len(tk) >= 20
           |    THEN list_transform(range(0, len(tk) - 19, 10),
           |      st -> md5(array_to_string(list_slice(tk, st + 1, st + 20), ' ')))
           |    ELSE [md5(array_to_string(tk, ' '))] END AS ws
           |  FROM tok),
           |w AS (SELECT id, unnest(ws) AS wh FROM wins),
           |c AS (SELECT wh, CAST(count(*) AS BIGINT) AS n_occ
           |      FROM w GROUP BY wh HAVING count(*) > 1)
           |SELECT w.id, CAST(count(*) AS BIGINT) AS n_windows,
           |  CAST(count(c.n_occ) AS BIGINT) AS n_dup_windows,
           |  (1000 * CAST(count(c.n_occ) AS BIGINT)) // CAST(count(*) AS BIGINT)
           |    AS dup_permille
           |FROM w LEFT JOIN c ON w.wh = c.wh
           |GROUP BY w.id HAVING count(c.n_occ) > 0 ORDER BY w.id""".stripMargin,

      "q_zorder" ->
        s"""SELECT event_id, x, y,
           |  ${graft.functions.ZOrder.zValueSql("x", "y", 8)} AS z
           |FROM (
           |  SELECT event_id, user_id % 256 AS x,
           |    epoch_us(ts) // 3600000000 % 256 AS y
           |  FROM events)
           |ORDER BY z, event_id LIMIT 100""".stripMargin,

      "q_pack_sequences" ->
        s"""WITH t AS (
           |  SELECT doc_id AS id,
           |    doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 % 4 AS shard,
           |    CAST(len(${OracleGen.toksSql("text")}) AS BIGINT) AS n_tokens
           |  FROM documents),
           |c AS (
           |  SELECT shard, id, n_tokens,
           |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |  FROM t)
           |SELECT shard, (cum - n_tokens) // 512 AS bin, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |  min(id) AS min_id, max(id) AS max_id
           |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

      "q_pii_redact" ->
        s"""SELECT doc_id,
           |  regexp_replace(
           |    regexp_replace(t2, '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
           |    '${TextFunctions.PhoneRe}', '<PHONE>', 'g') AS redacted
           |FROM (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 5 = 0
           |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
           |              '@example.com or 555-123-4567 now'
           |         ELSE text END AS t2
           |  FROM documents)
           |WHERE doc_id % 10 < 2 ORDER BY doc_id""".stripMargin,

      "q_moving_window" ->
        """SELECT user_id, count(*) AS n_events, max(n_1h) AS max_n_1h,
          |  max(cents_1h) AS max_cents_1h,
          |  CAST(sum(n_1h) AS BIGINT) AS sum_n_1h
          |FROM (
          |  SELECT user_id,
          |    CAST(count(*) OVER w AS BIGINT) AS n_1h,
          |    CAST(sum(cents) OVER w AS BIGINT) AS cents_1h
          |  FROM (SELECT user_id, epoch_us(ts) AS ts_us,
          |          CAST(round(value * 100) AS BIGINT) AS cents FROM events)
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
          |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
          |GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q_resample" ->
        """WITH hourly AS (
          |  SELECT epoch_us(ts) // 3600000000 AS hour_bucket, count(*) AS n,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM events GROUP BY hour_bucket),
          |spine AS (
          |  SELECT unnest(generate_series((SELECT min(hour_bucket) FROM hourly),
          |                                (SELECT max(hour_bucket) FROM hourly))) AS hour_bucket)
          |SELECT s.hour_bucket, coalesce(h.n, 0) AS n,
          |       coalesce(h.sum_cents, 0) AS sum_cents
          |FROM spine s LEFT JOIN hourly h USING (hour_bucket)
          |ORDER BY hour_bucket""".stripMargin,

      "q_lateral_topk" ->
        """SELECT n.n_name, c.c_custkey, c.c_acctbal
          |FROM nation n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) c
          |ORDER BY n.n_name ASC, c.c_acctbal DESC, c.c_custkey ASC""".stripMargin,

      "q_sql_scalar_subquery" ->
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM orders
          |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * (SELECT count(*) FROM orders)
          |      > (SELECT sum(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "q_dedup_apply" ->
        s"""WITH RECURSIVE $minhashPairsCteSql,
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION SELECT b_id, a_id FROM pairs),
           |reach AS (
           |  SELECT src AS id, dst AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r),
           |cmp AS (SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id),
           |dropids AS (SELECT id FROM cmp WHERE comp <> id),
           |corpus2 AS ($nearDupCorpusSql),
           |kept AS (SELECT * FROM corpus2
           |         WHERE id NOT IN (SELECT id FROM dropids))
           |SELECT (SELECT count(*) FROM corpus2) AS n_before,
           |       count(*) AS n_after,
           |       (SELECT count(*) FROM corpus2) - count(*) AS n_dropped,
           |       CAST(sum(id) AS BIGINT) AS sum_kept_ids
           |FROM kept""".stripMargin,

      "q_sample_stratified" ->
        """SELECT lang, count(*) AS n, min(doc_id) AS min_id,
          |  max(doc_id) AS max_id, CAST(sum(doc_id) AS BIGINT) AS sum_id
          |FROM (SELECT lang, doc_id,
          |        doc_id * CAST(2654435761 AS BIGINT) % 4294967296 % 100 AS b
          |      FROM documents)
          |WHERE b < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
          |GROUP BY lang ORDER BY lang""".stripMargin,

      "q_unimax_mix" ->
        s"""WITH cnts AS (
           |  SELECT source, count(*) AS n_docs,
           |    CAST(count(*) * 2 AS BIGINT) AS capacity
           |  FROM documents GROUP BY source),
           |ranked AS (
           |  SELECT *,
           |    CAST(row_number() OVER (ORDER BY capacity, source) AS BIGINT) AS j,
           |    CAST(coalesce(sum(capacity) OVER (ORDER BY capacity, source
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS prefix
           |  FROM cnts),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_src,
           |  CAST(sum(capacity) AS BIGINT) AS cap_total FROM ranked),
           |flagged AS (
           |  SELECT r.*, t.n_src, t.cap_total,
           |    capacity * (t.n_src - j + 1) <= 600 - prefix AS capped
           |  FROM ranked r, tot t),
           |ca AS (
           |  SELECT CAST(sum(CASE WHEN capped THEN capacity ELSE 0 END)
           |      AS BIGINT) AS capped_cap,
           |    CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_capped
           |  FROM flagged),
           |alloced AS (
           |  SELECT f.source, f.n_docs, f.capacity, f.capped,
           |    CAST(CASE WHEN f.capped THEN f.capacity
           |      ELSE (600 - c.capped_cap) // (f.n_src - c.n_capped) +
           |        (CASE WHEN f.j - c.n_capped <=
           |           (600 - c.capped_cap) % (f.n_src - c.n_capped)
           |         THEN 1 ELSE 0 END)
           |      END AS BIGINT) AS alloc,
           |    f.cap_total < 600 AS underfilled
           |  FROM flagged f, ca c)
           |SELECT source, n_docs, capacity, capped, alloc,
           |  CAST(alloc * 1000 // n_docs AS BIGINT) AS epochs_fp, underfilled
           |FROM alloced ORDER BY source""".stripMargin,

      "q_source_mix" ->
        """WITH cnts AS (
          |  SELECT lang AS source, CAST(count(*) AS BIGINT) AS cnt
          |  FROM documents GROUP BY lang),
          |w AS (
          |  SELECT source, cnt,
          |    CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_fp
          |  FROM cnts),
          |tot AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_total FROM w),
          |quota AS (
          |  SELECT source, cnt, (200 * w_fp) // w_total AS n_target
          |  FROM w CROSS JOIN tot),
          |ranked AS (
          |  SELECT lang AS source, doc_id AS id,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |  FROM documents),
          |kept AS (
          |  SELECT r.source, r.id FROM ranked r JOIN quota q USING (source)
          |  WHERE r.rk <= q.n_target)
          |SELECT q.source, q.cnt, q.n_target, CAST(count(*) AS BIGINT) AS n_kept,
          |  min(k.id) AS min_id, max(k.id) AS max_id
          |FROM quota q JOIN kept k USING (source)
          |GROUP BY q.source, q.cnt, q.n_target ORDER BY q.source""".stripMargin,

      "q_approx_quantiles" ->
        """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med,
          |  count(*) AS n, TRUE AS within_tol
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "q_intersect" ->
        """SELECT user_id FROM events WHERE event_type = 'error'
          |GROUP BY user_id HAVING count(*) >= 14
          |INTERSECT
          |SELECT user_id FROM events WHERE event_type = 'purchase'
          |GROUP BY user_id HAVING count(*) >= 14
          |ORDER BY user_id""".stripMargin,

      "q_unpivot" ->
        """SELECT metric, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM (
          |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
          |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
          |GROUP BY metric ORDER BY metric""".stripMargin,

      "q_date_parts" ->
        """SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
          |  CAST(date_part('quarter', o_orderdate) AS BIGINT) AS qtr,
          |  count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM orders GROUP BY yr, qtr ORDER BY yr, qtr""".stripMargin
    )
  }
}
