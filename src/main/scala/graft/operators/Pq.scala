package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization (PQ) for vector search — the memory-compression
  * half of the IVF-PQ pairing every large-scale ANN system ships
  * (reference's pgvector store holds raw float vectors; at 100 TB the
  * index must be smaller than the data).
  *
  * The vector space is split into `m` contiguous subspaces of `subDim`
  * dims; each subspace gets its own tiny codebook (k centroids trained
  * with the deterministic Lloyd of [[Clustering]] on the sliced
  * subvectors). A vector is stored as `m` small codes — one byte per
  * code, so `m` bytes against `4·dim` bytes of float32 (the shipped
  * m=8, k=16 over dim=64 is 8 bytes vs 256: 32×) — and query-time
  * distance is the asymmetric
  * distance computation (ADC): per subspace, a k-entry table of exact
  * squared distances from the query subvector to each centroid, and the
  * approximate distance of a stored vector is the sum of its codes'
  * table entries (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011).
  *
  * Scale shape — why this survives 100 TB:
  *  - training is `m` independent distributed Lloyd runs over narrow
  *    slices (broadcast centroids, no shuffle of the vectors);
  *  - the trained codebooks are m × k tiny rows — the ONLY driver
  *    materialization — and ship back as literals, so
  *  - encoding is a single narrow projection (argmin over ≤ k inlined
  *    centroids per subspace, whole-stage codegen, zero shuffles), and
  *  - the ADC scan reads codes instead of vectors: the per-row work is
  *    `m` map lookups + adds, and the bytes scanned drop by the
  *    compression factor — the bandwidth win IS the point. Composes
  *    with the IVF layout (q_ivf_layout) for candidate pruning.
  *
  * Determinism (what makes ADC oracle-replayable): Lloyd is the
  * fixed-point-exact [[Clustering.lloyd]]; the encode argmin breaks
  * distance ties by lowest code; ADC table entries are left-associated
  * squared-difference chains over bit-identical doubles, summed in
  * fixed subspace order — so codes, ADC values, and the final top-k are
  * bit-identical in any engine and any partitioning.
  */
object Pq {

  /** One trained codebook: subspace index + (cid, centroid) rows, cid
    * ascending. Tiny by construction (k rows of subDim doubles).
    */
  case class Codebook(sub: Int, cents: IndexedSeq[(Int, IndexedSeq[Double])])

  /** Subspace slice `sub` (0-based) of a vector column. */
  def subvector(vec: Column, sub: Int, subDim: Int): Column =
    slice(vec, sub * subDim + 1, subDim)

  /** Train the `m` per-subspace codebooks and collect them (k × m tiny
    * rows — the training itself is distributed; only the finished
    * centroids come back to the driver, exactly like an index build
    * publishing its metadata).
    *
    * All `m` Lloyd runs execute as ONE grouped job: the vectors explode
    * to (sub, subvector) rows and every step keys on (sub, …) — the
    * per-subspace quantities (seeds by lowest id, argmin with cid
    * tie-break, 1e-12 fixed-point centroid sums) are identical to m
    * independent [[Clustering.lloyd]] runs, but the cluster sees one
    * scan + 2·iters keyed aggregations instead of m separate jobs
    * (8.5 s → one job at sf0.1; at 100 TB, one pass over the store
    * per iteration instead of m).
    */
  def train(emb: DataFrame, idCol: Column, vecCol: Column, m: Int,
            subDim: Int, k: Int, iters: Int): IndexedSeq[Codebook] = {
    import org.apache.spark.sql.expressions.Window
    val subs = emb.select(idCol.as("id"),
      posexplode(array((0 until m).map(j => subvector(vecCol, j, subDim)): _*))
        .as(Seq("sub", "sv")))
    val seedIds = emb.select(idCol.as("id")).orderBy(col("id")).limit(k)
    var cents = subs.join(broadcast(seedIds), "id")
      .withColumn("cid",
        row_number().over(Window.partitionBy(col("sub")).orderBy(col("id"))) - 1)
      .select(col("sub"), col("cid"),
        transform(col("sv"), x => x.cast("double")).as("cvec"))
    for (_ <- 0 until iters) {
      val asg = subs.join(broadcast(cents), "sub")
        .withColumn("dist", VectorFunctions.l2Composed(col("sv"), col("cvec")))
        .groupBy(col("sub"), col("id"))
        .agg(min(struct(col("dist"), col("cid"))).as("mn"),
          first(col("sv")).as("sv"))
        .select(col("sub"), col("id"), col("sv"),
          col("mn").getField("cid").as("cid"))
      cents = asg.groupBy(col("sub"), col("cid"))
        .agg(count(lit(1)).as("n"),
          VectorFunctions.vectorSumFp(col("sv"), subDim).as("sums"))
        .select(col("sub"), col("cid"),
          transform(col("sums"),
            x => x.cast("double") / lit(Clustering.Scale) / col("n")).as("cvec"))
    }
    val rows = cents.orderBy(col("sub"), col("cid")).collect()
    (0 until m).map { j =>
      Codebook(j, rows.filter(_.getInt(0) == j)
        .map(r => (r.getInt(1), r.getSeq[Double](2).toIndexedSeq)).toIndexedSeq)
    }
  }

  private val bookCache =
    new scala.collection.concurrent.TrieMap[String, IndexedSeq[Codebook]]

  /** [[train]] with the index-build discipline: the finished codebook
    * relation (m × k tiny rows) is published once per (source, config)
    * under a staged path and every consumer — including other queries in
    * the same run — loads the published copy instead of retraining.
    * Doubles round-trip parquet bit-exactly, so a loaded codebook is
    * indistinguishable from a freshly trained one.
    */
  def trainStaged(emb: DataFrame, idCol: Column, vecCol: Column, m: Int,
                  subDim: Int, k: Int, iters: Int,
                  path: String): IndexedSeq[Codebook] =
    bookCache.getOrElseUpdate(path, {
      import java.nio.file.{Files, Paths}
      val spark = emb.sparkSession
      this.synchronized {
        if (currentVersion(path) == 0L &&
            !Files.exists(Paths.get(path, "_GRAFT_DONE"))) {
          val books = train(emb, idCol, vecCol, m, subDim, k, iters)
          import spark.implicits._
          books.flatMap(b => b.cents.map { case (cid, cv) => (b.sub, cid, cv) })
            .toDF("sub", "cid", "cvec")
            .coalesce(1).write.mode("overwrite").parquet(path)
          Files.createFile(Paths.get(path, "_GRAFT_DONE"))
        }
      }
      loadPublished(spark, path, m)
    })

  /** The published codebook version at `path`: 0 = none yet, or a
    * legacy un-versioned publish at the path root.
    */
  def currentVersion(path: String): Long = {
    val p = java.nio.file.Paths.get(path, "_CURRENT")
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).trim.toLong
    else 0L
  }

  /** Load whatever codebook publication is CURRENT at `path` —
    * `path/v{n}` when a versioned publish exists, the legacy root
    * otherwise.
    */
  def loadPublished(spark: org.apache.spark.sql.SparkSession, path: String,
                    m: Int): IndexedSeq[Codebook] = {
    val cur = currentVersion(path)
    val dir = if (cur > 0L) s"$path/v$cur" else path
    val rows = spark.read.parquet(dir).orderBy(col("sub"), col("cid"))
      .collect()
    (0 until m).map { j =>
      Codebook(j, rows.filter(_.getInt(0) == j)
        .map(r => (r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
        .toIndexedSeq)
    }
  }

  /** VERSIONED RE-PUBLISH — the codebook-lifecycle half the PQ stage was
    * missing (cf. the reference's one-shot `create_collection` that
    * crashes on re-run, `email_fetching.py:27`): train on the CURRENT
    * corpus, land the finished relation under `path/v{n+1}`, then swap
    * the `_CURRENT` pointer via atomic rename — a reader loads either
    * the old or the new publication whole, never a torn mix, and the
    * previous version stays on disk for rollback until a cleanup pass.
    * Returns the freshly published books (and refreshes the in-process
    * cache so later [[trainStaged]] loads on this path see them).
    * q_pq_republish hash-checks that serving after a corpus-refresh
    * republish equals training directly on the refreshed corpus.
    */
  def republish(emb: DataFrame, idCol: Column, vecCol: Column, m: Int,
                subDim: Int, k: Int, iters: Int,
                path: String): IndexedSeq[Codebook] = this.synchronized {
    import java.nio.file.Paths
    val spark = emb.sparkSession
    val books = train(emb, idCol, vecCol, m, subDim, k, iters)
    val next = currentVersion(path) + 1
    import spark.implicits._
    books.flatMap(b => b.cents.map { case (cid, cv) => (b.sub, cid, cv) })
      .toDF("sub", "cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/v$next")
    graft.tables.Staging.publishText(Paths.get(path, "_CURRENT"),
      next.toString)
    val loaded = loadPublished(spark, path, m)
    bookCache.put(path, loaded)
    loaded
  }

  /** The durable RETENTION FLOOR: publications below it are reclaimed
    * (or mid-reclaim) and refused by [[loadVersion]]. 0 = nothing GC'd.
    */
  def retentionFloor(path: String): Long = {
    val p = java.nio.file.Paths.get(path, "_FLOOR")
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).trim.toLong
    else 0L
  }

  /** HISTORY RETENTION GC — the versioned-republish twin of
    * VectorStore.retain, closing "the previous version stays on disk for
    * rollback until a cleanup pass" with the actual cleanup pass:
    * keep the newest `keep` publications ([cur − keep + 1, cur]) loadable
    * and reclaim every older version directory (plus the legacy
    * un-versioned root files, which version 1 superseded). Crash-safe in
    * the durable-intent-first ordering of VectorStore.retain: the floor
    * file advances via atomic rename BEFORE any deletion and
    * [[loadVersion]] refuses versions below the durable floor, so a
    * crash mid-GC leaves only directories no read path consults — the
    * next retain finishes reclaiming them. The floor never moves
    * backward; the CURRENT publication is always retained (keep ≥ 1).
    */
  def retain(path: String, keep: Long): Unit = this.synchronized {
    import java.nio.file.Paths
    require(keep >= 1, s"retain: keep must be ≥ 1, got $keep")
    val cur = currentVersion(path)
    require(cur >= 1,
      s"$path has no versioned publication to retain (republish first)")
    val floor = math.max(retentionFloor(path), cur - keep + 1)
    if (floor > retentionFloor(path))
      graft.tables.Staging.publishText(Paths.get(path, "_FLOOR"),
        floor.toString)
    for (n <- 1L until retentionFloor(path))
      graft.tables.Staging.deleteRec(s"$path/v$n")
    // the legacy root publication (pre-versioning) is below every
    // versioned floor
    val dir = new java.io.File(path)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && (f.getName.endsWith(".parquet") ||
        f.getName == "_GRAFT_DONE" || f.getName == "_SUCCESS"))
      .foreach(f => f.delete())
  }

  /** Load a SPECIFIC publication version — the rollback read. Versions
    * below the durable retention floor are REFUSED (their files are
    * reclaimed or mid-reclaim), with the floor in the error.
    */
  def loadVersion(spark: org.apache.spark.sql.SparkSession, path: String,
                  m: Int, version: Long): IndexedSeq[Codebook] = {
    require(version >= 1 && version <= currentVersion(path),
      s"version $version does not exist at $path " +
        s"(current = ${currentVersion(path)})")
    if (version < retentionFloor(path))
      throw new IllegalStateException(
        s"version $version at $path is below the retention floor " +
          s"(${retentionFloor(path)}) — reclaimed by Pq.retain; only " +
          "floor..current are loadable")
    val rows = spark.read.parquet(s"$path/v$version")
      .orderBy(col("sub"), col("cid")).collect()
    (0 until m).map { j =>
      Codebook(j, rows.filter(_.getInt(0) == j)
        .map(r => (r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
        .toIndexedSeq)
    }
  }

  /** PQ code for one subspace: argmin over the ≤ k inlined centroids of
    * the squared L2 to the subvector, ties to the lowest cid. A pure
    * narrow expression — the codebook rides into codegen as literals.
    */
  def codeFor(vec: Column, book: Codebook, subDim: Int): Column = {
    val sv = subvector(vec, book.sub, subDim)
    val pairs = book.cents.map { case (cid, cv) =>
      struct(VectorFunctions.l2SqComposed(sv, typedlit(cv)).as("d"),
        lit(cid).as("cid"))
    }
    array_min(array(pairs: _*)).getField("cid")
  }

  /** Add `code_0 .. code_{m-1}` columns — the stored representation. */
  def encode(emb: DataFrame, vecCol: Column, books: Seq[Codebook],
             subDim: Int): DataFrame =
    books.foldLeft(emb) { (df, b) =>
      df.withColumn(s"code_${b.sub}", codeFor(vecCol, b, subDim))
    }

  /** ADC tables: dtab(j)(cid) = squared L2 from the query's subspace-j
    * slice to centroid cid, computed on the driver with the identical
    * left-associated chain the SQL oracle folds — same doubles.
    */
  def adcTables(query: Seq[Double], books: Seq[Codebook],
                subDim: Int): Seq[(Int, Map[Int, Double])] =
    books.map { b =>
      val tab = b.cents.map { case (cid, cv) =>
        val terms = (0 until subDim).map { i =>
          val q = query(b.sub * subDim + i)
          (cv(i) - q) * (cv(i) - q)
        }
        cid -> terms.reduceLeft(_ + _)
      }.toMap
      b.sub -> tab
    }

  /** The ADC distance column over the `code_*` columns: per subspace a
    * map-literal lookup, summed left-to-right in subspace order.
    */
  def adcColumn(dtabs: Seq[(Int, Map[Int, Double])]): Column =
    dtabs.map { case (j, tab) =>
      val kvs = tab.toSeq.sortBy(_._1)
        .flatMap { case (cid, d) => Seq(lit(cid), lit(d)) }
      element_at(map(kvs: _*), col(s"code_$j"))
    }.reduceLeft(_ + _)

  /** BATCHED ADC distance — the multi-query twin of [[adcColumn]] for
    * the batched IVF-PQ serving path: each query's ADC tables ride in
    * as the same map literals the single-query column uses, dispatched
    * on the row's `q_id` with one CASE chain — so batch ≡ N per-query
    * columns BY CONSTRUCTION (same doubles, same lookups), everything
    * stays inside whole-stage codegen (no join, no explode of the code
    * columns), and per-row cost is one branch + m map lookups
    * regardless of batch size. Batch-sized by declaration: Q·m·k
    * literal doubles (e.g. 8·8·16 = 1k) inline into the generated code
    * exactly like the single-query path's m·k.
    */
  def adcBatchColumn(perQuery: Seq[(Long, Seq[(Int, Map[Int, Double])])],
                     qidCol: Column = col("q_id")): Column = {
    require(perQuery.nonEmpty, "adcBatchColumn needs at least one query")
    perQuery.tail.foldLeft(
      when(qidCol === lit(perQuery.head._1), adcColumn(perQuery.head._2))) {
      case (acc, (qid, tabs)) =>
        acc.when(qidCol === lit(qid), adcColumn(tabs))
    }
  }
}
