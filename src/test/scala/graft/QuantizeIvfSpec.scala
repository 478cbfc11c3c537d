package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Knn, Quantize}
import graft.oracle.OracleGen.QueryVec
import graft.tables.Tables

class QuantizeIvfSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf0001)

  test("ivf cells are within [0, nlist) and every vector gets one") {
    val cells = emb.select(Ann.cellOf(col("embedding"), 8, 64).as("c"))
    val mm = cells.agg(min(col("c")), max(col("c")), count(lit(1))).head()
    assert(mm.getInt(0) >= 0 && mm.getInt(1) < 8)
    assert(mm.getLong(2) == emb.count())
  }

  test("ivfProbes matches the column-side cell of the query vector") {
    // the query's own cell must be the first probe
    val probes = Ann.ivfProbes(QueryVec.values, 8, 2)
    import spark.implicits._
    val qCell = Seq(1).toDF("x")
      .select(Ann.cellOf(typedlit(QueryVec.values), 8, 64)).head().getInt(0)
    assert(probes.head == qCell)
    assert(probes.distinct.length == probes.length)
  }

  test("annIvf hits carry exact distances (subset of brute-force knn)") {
    val ann = Ann.annIvf(emb, col("embedding"), col("vec_id"), QueryVec.values,
      k = 10, nlist = 8, nprobe = 2).collect()
    assert(ann.nonEmpty)
    val exact = Knn.knn(emb, col("embedding"), col("vec_id"), QueryVec.values, 500)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("distance")).toMap
    ann.foreach { r =>
      assert(exact(r.getAs[Long]("vec_id")) == r.getAs[Double]("distance"))
    }
  }

  test("quantized codes are within [-127, 127] and zero vectors stay zero") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("id", "v")
    val q = df.select(col("id"),
        Quantize.int8(col("v"), Quantize.maxAbs(col("v"))).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(q(1L) == Seq(64L, -127L, 32L))
    assert(q(2L) == Seq(0L, 0L, 0L))
  }

  test("quantized knn ranks near the exact dot-product top-k") {
    val quant = Quantize.knnQuantized(emb, col("embedding"), col("vec_id"),
      QueryVec.values, k = 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val exactTop = Knn.knn(emb, col("embedding"), col("vec_id"),
      QueryVec.values, 20, Knn.Dot).collect().map(_.getAs[Long]("vec_id")).toSet
    // int8 quantization error is small relative to the top-k margin: the
    // quantized top-10 should mostly sit inside the exact top-20
    assert((quant intersect exactTop).size >= 7)
  }

  test("IvfIndex lifecycle: append ≡ rebuild (cells never rewritten), " +
      "delete ≡ rebuild-on-remaining via the stored id column, " +
      "compact invariant") {
    import graft.operators.IvfIndex
    import scala.jdk.CollectionConverters._
    val inc = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ivf_full").toString
    def cells(p: String): Seq[String] =
      spark.read.parquet(s"$p/cells").collect().map(_.toString).sorted.toSeq
    def files(p: String): Map[String, Long] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$p/cells"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally walk.close()
    }
    IvfIndex.build(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      inc, nlist = 8, dim = 64)
    val before = files(inc)
    IvfIndex.append(emb.filter(col("vec_id") % 3 === 0), inc)
    // LSM shape: appends only ADD files
    val after = files(inc)
    assert(before.keySet.subsetOf(after.keySet))
    for ((f, sz) <- before) assert(after(f) == sz, s"$f was rewritten")
    IvfIndex.build(emb, "vec_id", "embedding", full, nlist = 8, dim = 64)
    assert(cells(inc) == cells(full))
    // idempotent re-append is a file-level no-op
    IvfIndex.append(emb.filter(col("vec_id") % 3 === 0), inc)
    assert(files(inc) == after)
    // probe prunes to the probed cells' directories
    val probed = IvfIndex.probe(spark, inc, QueryVec.values, nprobe = 2)
    val scanned = probed.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val probeCells = Ann.ivfProbes(QueryVec.values, 8, 2).toSet
    assert(scanned.nonEmpty &&
      scanned.forall(f => probeCells.exists(c => f.contains(s"cell=$c/"))))
    // delete ≡ rebuild-on-remaining
    IvfIndex.delete(emb.filter(col("vec_id") % 3 === 0).select(col("vec_id")),
      inc, idName = "vec_id")
    val rem = java.nio.file.Files.createTempDirectory("graft_ivf_rem").toString
    IvfIndex.build(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      rem, nlist = 8, dim = 64)
    assert(cells(inc) == cells(rem))
    // compact: rows invariant, one file per partition
    IvfIndex.compact(spark, inc)
    assert(cells(inc) == cells(rem))
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(s"$inc/cells"))
      .toArray.map(_.toString).filter(_.contains("cell="))
    for (d <- parts) {
      val n = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        .toArray.map(_.toString).count(_.endsWith(".parquet"))
      assert(n == 1, s"$d has $n parquet files")
    }
  }

  test("IvfIndex.append refuses a stored id re-appended with a changed " +
      "vector that lands in another cell") {
    import graft.operators.IvfIndex
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_neg").toString
    IvfIndex.build(emb, "vec_id", "embedding", p, nlist = 8, dim = 64)
    def cells(): Seq[String] =
      spark.read.parquet(s"$p/cells").collect().map(_.toString).sorted.toSeq
    val before = cells()
    val negated = emb.withColumn("embedding",
      transform(col("embedding"), x => -x))
    val moved = negated.join(emb.select(col("vec_id"),
        Ann.cellOf(col("embedding"), 8, 64).as("old_cell")), "vec_id")
      .filter(Ann.cellOf(col("embedding"), 8, 64) =!= col("old_cell"))
      .drop("old_cell")
    assert(!moved.isEmpty, "some negated vectors must change cell")
    IvfIndex.append(moved, p)
    assert(cells() == before, "a stored id must be refused whatever its vector")
  }

  test("IvfIndex build, append, delete and compact never create ids/") {
    import graft.operators.IvfIndex
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_noids").toString
    def noIds(step: String): Unit = assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(p, "ids")),
      s"$step created ids/")
    IvfIndex.build(emb.filter(col("vec_id") % 3 =!= 0), "vec_id",
      "embedding", p, nlist = 8, dim = 64)
    noIds("build")
    IvfIndex.append(emb.filter(col("vec_id") % 3 === 0), p)
    noIds("append")
    IvfIndex.delete(emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
      p, idName = "vec_id")
    noIds("delete")
    IvfIndex.compact(spark, p)
    noIds("compact")
  }

  test("IvfIndex.append of 120 rows adds exactly one file per touched cell " +
      "and nothing else") {
    import graft.operators.IvfIndex
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_120").toString
    val held = emb.select(col("vec_id")).orderBy(col("vec_id")).limit(120)
      .collect().map(_.getLong(0)).toSeq
    assert(held.size == 120)
    IvfIndex.build(emb.filter(!col("vec_id").isin(held: _*)), "vec_id",
      "embedding", p, nlist = 8, dim = 64)
    def files(): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => java.nio.file.Paths.get(p).relativize(f).toString).toSet
      finally walk.close()
    }
    val before = files()
    val batch = emb.filter(col("vec_id").isin(held: _*))
    IvfIndex.append(batch, p)
    val added = files() -- before
    val touched = batch.select(Ann.cellOf(col("embedding"), 8, 64))
      .distinct().collect().map(r => s"cell=${r.getInt(0)}").toSet
    assert(added.forall(f => f.startsWith("cells/") && f.endsWith(".parquet")),
      s"an append adds only cell data files: $added")
    val perCell = added.toSeq.groupBy(_.split('/')(1)).map { case (c, fs) =>
      c -> fs.size }
    assert(perCell == touched.map(_ -> 1).toMap,
      s"one new file per touched cell: $perCell vs $touched")
  }

  test("IvfIndex fragmentation: 1.0 on a fresh build, grows one file per " +
      "touched partition per append, compactIfFragmented fires past the " +
      "threshold and probe rows are invariant") {
    import graft.operators.IvfIndex
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_frag").toString
    IvfIndex.build(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      p, nlist = 8, dim = 64)
    assert(IvfIndex.fragmentation(p) == 1.0)
    assert(!IvfIndex.compactIfFragmented(spark, p))
    Seq(0, 3, 6).foreach { w =>
      IvfIndex.append(emb.filter(col("vec_id") % 9 === w), p)
    }
    val frag = IvfIndex.fragmentation(p)
    assert(frag > 2.0, s"3 waves must fragment past 2 files/partition: $frag")
    val before = IvfIndex.probe(spark, p, QueryVec.values, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(IvfIndex.compactIfFragmented(spark, p))
    assert(IvfIndex.fragmentation(p) == 1.0)
    assert(!IvfIndex.compactIfFragmented(spark, p))
    val after = IvfIndex.probe(spark, p, QueryVec.values, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(before == after)
  }

  test("IvfIndex.probeBatch bounded-plan guard: past the literal limit " +
      "the cell isin drops and routing rides the broadcast join — " +
      "identical rows") {
    import graft.operators.IvfIndex
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_bpg").toString
    IvfIndex.build(emb, "vec_id", "embedding", p, nlist = 8, dim = 64)
    val qs = (0 until 4).map(b => (b.toLong, QueryVec.shiftedValues(b)))
      .toDF("q_id", "q_vec")
    val stat = IvfIndex.probeBatch(spark, p, qs, k = 5, nprobe = 2)
    val joined = IvfIndex.probeBatch(spark, p, qs, k = 5, nprobe = 2,
      pruneLiteralLimit = 0)
    val a = stat.collect().map(_.toString).sorted.toSeq
    val b = joined.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
    assert(stat.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [cell"),
      "static path keeps the literal cell partition filter")
  }

  test("IvfIndex.probeBatch ≡ N single probes + exact re-ranks; the " +
      "scan reads only the union of probed cell partitions") {
    import graft.operators.IvfIndex
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_pb").toString
    IvfIndex.build(emb, "vec_id", "embedding", p, nlist = 8, dim = 64)
    val qs = (0 until 4).map(b => (b.toLong, QueryVec.shiftedValues(b)))
    val batch = IvfIndex.probeBatch(spark, p, qs.toDF("q_id", "q_vec"),
        k = 5, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    val singles = qs.flatMap { case (qid, v) =>
      IvfIndex.probe(spark, p, v, nprobe = 2)
        .withColumn("distance", graft.functions.VectorFunctions.l2(
          col("embedding"), typedlit(v)))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(5)
        .withColumn("q_id", lit(qid))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("distance").asc, col("vec_id").asc)).cast("long"))
        .select(col("q_id"), col("rn"), col("vec_id"), col("cell"),
          col("distance"))
        .collect().map(_.toString)
    }.sorted.toSeq
    assert(batch.nonEmpty && batch == singles)
    // pruned scan: an unreadable file planted in every NON-probed cell
    // partition is never opened (the batch reads only the probed union)
    val probedCells = qs.flatMap(q =>
      graft.operators.Ann.ivfProbes(q._2, 8, 2)).toSet
    for (c <- 0 until 8 if !probedCells(c)) {
      val d = java.nio.file.Paths.get(s"$p/cells/cell=$c")
      if (java.nio.file.Files.isDirectory(d))
        java.nio.file.Files.write(d.resolve("corrupt.parquet"),
          "not a parquet file".getBytes("US-ASCII"))
    }
    val again = IvfIndex.probeBatch(spark, p, qs.toDF("q_id", "q_vec"),
        k = 5, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(again == singles)
    for (c <- 0 until 8)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$p/cells/cell=$c/corrupt.parquet"))
  }

  test("IvfIndex.recover: a logged delete commit rolls forward; an " +
      "unlogged staged append discards; a second writer is refused") {
    import graft.operators.IvfIndex
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_rc").toString
    IvfIndex.build(emb, "vec_id", "embedding", p, nlist = 8, dim = 64)
    def cells(): Seq[String] =
      spark.read.parquet(s"$p/cells").collect().map(_.toString).sorted.toSeq
    val before = cells()
    // crashed writer: intent marker present without a logged commit —
    // reads refuse, recover clears, nothing changed
    java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_APPENDING"))
    intercept[IllegalStateException](IvfIndex.readMeta(p))
    IvfIndex.recover(p)
    assert(cells() == before)
    // second writer refused while the lock is held
    graft.tables.WriterLock.withLock(p) {
      intercept[IllegalStateException](
        IvfIndex.delete(emb.limit(1).select(col("vec_id")), p,
          idName = "vec_id"))
    }
    // and a real delete still works after everything
    IvfIndex.delete(emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id")), p, idName = "vec_id")
    val rem = java.nio.file.Files.createTempDirectory("graft_ivf_rcr").toString
    IvfIndex.build(emb.filter(col("vec_id") % 7 =!= 0), "vec_id",
      "embedding", rem, nlist = 8, dim = 64)
    def cellsOf(path: String): Seq[String] =
      spark.read.parquet(s"$path/cells").collect().map(_.toString).sorted.toSeq
    assert(cellsOf(p) == cellsOf(rem))
  }

  test("Pq.retain: durable floor advances before deletion, below-floor " +
      "loads refused, current serving identical, footprint shrinks") {
    import graft.operators.Pq
    val path = java.nio.file.Files.createTempDirectory("graft_pq_rt").toString
    graft.tables.Staging.deleteRec(path)
    val half = emb.filter(col("vec_id") % 2 === 0)
    Pq.republish(emb, col("vec_id"), col("embedding"),
      m = 2, subDim = 32, k = 4, iters = 1, path)
    Pq.republish(emb.filter(col("vec_id") % 3 === 0), col("vec_id"),
      col("embedding"), m = 2, subDim = 32, k = 4, iters = 1, path)
    val b3 = Pq.republish(half, col("vec_id"), col("embedding"),
      m = 2, subDim = 32, k = 4, iters = 1, path)
    assert(Pq.currentVersion(path) == 3L)
    def dirSize(): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try walk.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally walk.close()
    }
    val sizeBefore = dirSize()
    Pq.retain(path, keep = 1)
    assert(Pq.retentionFloor(path) == 3L)
    assert(dirSize() < sizeBefore, "retention must reclaim bytes")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/v1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/v2")))
    // below-floor loads refused with the floor named; current loads fine
    val e = intercept[IllegalStateException](
      Pq.loadVersion(spark, path, m = 2, version = 2L))
    assert(e.getMessage.contains("retention floor"))
    assert(Pq.loadVersion(spark, path, m = 2, version = 3L) == b3)
    assert(Pq.loadPublished(spark, path, m = 2) == b3)
    // the floor never moves backward
    Pq.retain(path, keep = 10)
    assert(Pq.retentionFloor(path) == 3L)
  }

  test("Pq.republish: atomic versioned pointer swap; loadPublished " +
      "serves the newest publication; legacy root stays loadable") {
    import graft.operators.Pq
    val path = java.nio.file.Files.createTempDirectory("graft_pq_rp").toString
    graft.tables.Staging.deleteRec(path)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val b1 = Pq.republish(emb, col("vec_id"), col("embedding"),
      m = 2, subDim = 32, k = 4, iters = 1, path)
    assert(Pq.currentVersion(path) == 1L)
    val b2 = Pq.republish(half, col("vec_id"), col("embedding"),
      m = 2, subDim = 32, k = 4, iters = 1, path)
    assert(Pq.currentVersion(path) == 2L)
    // the pointer serves v2, and v2 really is the refreshed training
    val loaded = Pq.loadPublished(spark, path, m = 2)
    assert(loaded == b2)
    val fresh = Pq.train(half, col("vec_id"), col("embedding"),
      m = 2, subDim = 32, k = 4, iters = 1)
    assert(loaded == fresh)
    // both versions exist on disk (rollback stays possible)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$path/v1")))
    assert(b1 != b2) // the refresh actually changed the books
  }
}
