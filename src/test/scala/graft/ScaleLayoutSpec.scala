package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Skew}
import graft.oracle.OracleGen.QueryVec
import graft.tables.Tables

/** Scale-layout behaviors: bucketed co-located joins, IVF-style
  * partition-pruned ANN reads, and salted skew joins — the physical-layout
  * side of the 100 TB design, asserted on the actual plans.
  */
class ScaleLayoutSpec extends SparkSpec {

  /** `body`'s result and the number of Spark jobs started while it ran.
    * Listener events arrive in order on an async bus, so a fence job run
    * after `body` flushes it: once the fence's start is seen, every
    * earlier job start was counted.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val fence = s"fence-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == fence)) fenced.countDown()
        else started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val result = try {
      val r = body
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "listener events did not drain")
      r
    } finally sc.removeSparkListener(listener)
    (result, started.get())
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val wh = Files.createTempDirectory("graft_bucketed").toFile.getAbsolutePath
    val o = Tables.orders(spark, sf0001)
    val c = Tables.customer(spark, sf0001)
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")

    val j = spark.table("orders_b")
      .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).count()
    // with autoBroadcast disabled the join must be SMJ with NO shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.substring(0, plan.indexOf("HashAggregate"))
        .contains("Exchange hashpartitioning(o_custkey"))
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("IVF-style layout: partition by LSH bucket, query prunes partitions") {
    val out = Files.createTempDirectory("graft_ivf").toFile.getAbsolutePath
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("bucket", Ann.bucketOf(col("embedding"), 4, 64))
    emb.write.mode("overwrite").partitionBy("bucket").parquet(s"$out/emb_ivf")

    val qb = Ann.bucketOfQuery(QueryVec.values, 4)
    val probe = spark.read.parquet(s"$out/emb_ivf").filter(col("bucket") === qb)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains(s"bucket"))

    // pruned read returns exactly the same top-k as the in-memory ANN path
    import graft.functions.VectorFunctions
    val pruned = probe
      .withColumn("distance", VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
      .orderBy(col("distance"), col("vec_id")).limit(5)
      .collect().map(r => r.getAs[Long]("vec_id")).toSeq
    val direct = Ann.annLsh(Tables.embeddings(spark, sf0001), col("embedding"),
        col("vec_id"), QueryVec.values, 5)
      .collect().map(r => r.getAs[Long]("vec_id")).toSeq
    assert(pruned == direct)
  }

  test("VectorStore: bucket-partitioned write, pruned multi-probe query") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs").toFile.getAbsolutePath + "/store"
    VectorStore.write(Tables.embeddings(spark, sf0001), col("embedding"), out)
    val q = VectorStore.queryL2(spark, out, "embedding", "vec_id", QueryVec.values, 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "probe must prune bucket partitions")
    val ids = q.collect().map(_.getAs[Long]("vec_id")).toSeq
    val direct = Ann.annLshMulti(Tables.embeddings(spark, sf0001), col("embedding"),
        col("vec_id"), QueryVec.values, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ids == direct, "persisted probe must equal the in-memory multi-probe")
  }

  test("VectorStore queryL2 metadata filter: pushed into the pruned scan, " +
      "top-k over the filtered set") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_filt").toFile.getAbsolutePath + "/store"
    VectorStore.write(Tables.embeddings(spark, sf0001), col("embedding"), out)
    val q = VectorStore.queryL2(spark, out, "embedding", "vec_id",
      QueryVec.values, 5, where = Some(col("label") === 2))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "bucket pruning must survive")
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(label,2"),
      s"label filter must push into the parquet scan:\n$plan")
    val got = q.collect()
    assert(got.nonEmpty && got.forall(_.getAs[Int]("label") == 2))
    // post-filter semantics: equals filtering the unfiltered probe's
    // candidate set (same probes), not filtering its top-k
    val manual = VectorStore.queryL2(spark, out, "embedding", "vec_id",
        QueryVec.values, Int.MaxValue)
      .filter(col("label") === 2)
      .orderBy(col("distance").asc, col("vec_id").asc).limit(5)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == manual)
  }

  test("VectorStore queryL2Batch: per-query rows ≡ N separate queryL2 calls, " +
      "scan statically prunes bucket partitions") {
    import graft.operators.VectorStore
    import spark.implicits._
    val out = Files.createTempDirectory("graft_vs_batch").toFile.getAbsolutePath + "/store"
    VectorStore.write(Tables.embeddings(spark, sf0001), col("embedding"), out)
    val qs = (0 until 4).map(b => (b.toLong, QueryVec.shiftedValues(b)))
      .toDF("q_id", "q_vec")
    val batch = VectorStore.queryL2Batch(spark, out, "embedding", "vec_id", qs, k = 5)
    assert(batch.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "batched probe must statically prune bucket partitions")
    val got = batch.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("distance"))).sorted.toSeq
    val want = (0 until 4).flatMap { b =>
      VectorStore.queryL2(spark, out, "embedding", "vec_id",
          QueryVec.shiftedValues(b), 5)
        .collect().zipWithIndex.map { case (r, i) =>
          (b.toLong, (i + 1).toLong, r.getAs[Long]("vec_id"),
            r.getAs[Double]("distance"))
        }
    }.sorted
    assert(got.nonEmpty && got == want,
      "batch must be row-identical to per-query multi-probe")
  }

  test("VectorStore queryL2Batch bounded-plan guard: past the literal " +
      "limit the bucket isin drops and pruning rides the broadcast " +
      "join — identical rows") {
    import graft.operators.VectorStore
    import spark.implicits._
    val out = Files.createTempDirectory("graft_vs_bpg").toFile
      .getAbsolutePath + "/store"
    VectorStore.write(Tables.embeddings(spark, sf0001), col("embedding"), out)
    val qs = (0 until 4).map(b => (b.toLong, QueryVec.shiftedValues(b)))
      .toDF("q_id", "q_vec")
    val stat = VectorStore.queryL2Batch(spark, out, "embedding", "vec_id",
      qs, k = 5)
    val joined = VectorStore.queryL2Batch(spark, out, "embedding", "vec_id",
      qs, k = 5, pruneLiteralLimit = 0)
    val a = stat.collect().map(_.toString).sorted.toSeq
    val b = joined.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("VectorStore append: idempotent on vec_id, pruning preserved, equals fresh write") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_app").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb.filter(col("vec_id") % 2 === 0), col("embedding"), out)
    VectorStore.append(emb.filter(col("vec_id") % 2 === 1), col("embedding"), out)
    val nAfterAppend = spark.read.parquet(out).count()
    assert(nAfterAppend == emb.count(), "append must land every new vector")

    // re-appending already-present ids is a no-op (id anti-join)
    VectorStore.append(emb.filter(col("vec_id") % 4 === 0), col("embedding"), out)
    assert(spark.read.parquet(out).count() == nAfterAppend,
      "re-append of existing ids must not duplicate rows")

    // probe over the appended store still prunes and equals a fresh full write
    val q = VectorStore.queryL2(spark, out, "embedding", "vec_id", QueryVec.values, 5)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "probe over appended store must prune bucket partitions")
    val fresh = Files.createTempDirectory("graft_vs_fresh").toFile.getAbsolutePath + "/store"
    VectorStore.write(emb, col("embedding"), fresh)
    val a = q.collect().map(_.getAs[Long]("vec_id")).toSeq
    val b = VectorStore.queryL2(spark, fresh, "embedding", "vec_id", QueryVec.values, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(a == b, "appended store must serve the same probe result as a fresh write")
  }

  test("VectorStore upsert rewrites only affected bucket partitions") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_ups").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("bucket="))
    val mtimesBefore = dirs.map(d => d.getName ->
      d.listFiles().map(_.lastModified).max).toMap

    // update ONE vector (halved — bucket-invariant, float-exact)
    val one = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => (x * lit(0.5)).cast("float")).as("embedding"))
    val targetBucket = "bucket=" + one
      .withColumn("b", graft.operators.Ann.bucketOf(col("embedding"), 4, 64))
      .head().getAs[Int]("b")
    VectorStore.upsert(one, col("embedding"), out)

    val mtimesAfter = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().map(_.lastModified).max).toMap
    mtimesBefore.foreach { case (b, t) =>
      if (b == targetBucket) assert(mtimesAfter(b) != t, s"$b must be rewritten")
      else assert(mtimesAfter(b) == t, s"$b must be untouched by the upsert")
    }
    // no row count change, and the stored vector really is halved
    assert(spark.read.parquet(out).count() == emb.count())
    def embOf(r: org.apache.spark.sql.Row): Seq[Float] =
      r.getSeq[Float](r.fieldIndex("embedding"))
    val stored = embOf(spark.read.parquet(out).filter(col("vec_id") === 0).head())
    val orig = embOf(emb.filter(col("vec_id") === 0).head())
    assert(stored == orig.map(_ * 0.5f))
  }

  test("VectorStore delete rewrites only buckets holding a victim") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_del").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    val mtimesBefore = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().map(_.lastModified).max).toMap

    // delete ONE vector; only its bucket may be rewritten
    val victim = emb.filter(col("vec_id") === 0)
    val targetBucket = "bucket=" + victim
      .withColumn("b", graft.operators.Ann.bucketOf(col("embedding"), 4, 64))
      .head().getAs[Int]("b")
    VectorStore.delete(spark, out, victim.select(col("vec_id")))

    val mtimesAfter = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .filter(_.listFiles().nonEmpty)
      .map(d => d.getName -> d.listFiles().map(_.lastModified).max).toMap
    mtimesBefore.foreach { case (b, t) =>
      if (b == targetBucket) assert(mtimesAfter(b) != t, s"$b must be rewritten")
      else assert(mtimesAfter(b) == t, s"$b must be untouched by the delete")
    }
    val left = spark.read.parquet(out)
    assert(left.count() == emb.count() - 1)
    assert(left.filter(col("vec_id") === 0).count() == 0)
  }

  test("VectorStore small-files guard: appends keep one file per bucket; " +
      "compact invariant") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_cmp").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    // every committed writer routes each bucket to ONE task
    // (Staging.writePartitioned), and append/upsert/delete REWRITE their
    // affected buckets — so even 4 incremental appends can never
    // fragment a bucket directory; compaction is a periodic flattener
    // for externally-written stores, not a correctness crutch here
    VectorStore.write(emb.filter(col("vec_id") % 4 === 0), col("embedding"), out)
    (1 to 3).foreach { r =>
      VectorStore.append(emb.filter(col("vec_id") % 4 === r), col("embedding"), out)
    }
    def bucketFiles: Map[String, Int] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    assert(bucketFiles.values.forall(_ == 1),
      s"bucket-routed writes must keep one file per bucket, got $bucketFiles")
    val before = VectorStore.queryL2(spark, out, "embedding", "vec_id", QueryVec.values, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSeq

    VectorStore.compact(spark, out)
    assert(bucketFiles.values.forall(_ == 1),
      s"compaction must leave one file per bucket, got $bucketFiles")
    val q = VectorStore.queryL2(spark, out, "embedding", "vec_id", QueryVec.values, 5)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(q.collect().map(_.getAs[Long]("vec_id")).toSeq == before)
    assert(spark.read.parquet(out).count() == emb.count())
  }

  test("VectorStore lifecycle: delete→compact leaves no tombstone residue") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_life").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb.filter(col("vec_id") % 2 === 0), col("embedding"), out)
    VectorStore.append(emb.filter(col("vec_id") % 2 === 1), col("embedding"), out)
    val reemb = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), (col("label") + lit(1000)).as("label"),
        transform(col("embedding"), x => (x * lit(0.5)).cast("float")).as("embedding"))
    graft.operators.VectorStore.upsert(reemb, col("embedding"), out)
    VectorStore.delete(spark, out,
      emb.filter(col("vec_id") % 4 === 0).select(col("vec_id")))
    val beforeCompact = VectorStore
      .queryL2(spark, out, "embedding", "vec_id", QueryVec.values, 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq
    VectorStore.compact(spark, out)

    // no tombstone residue: every victim gone from every partition, and
    // the maintenance pass left exactly one file per bucket
    val store = spark.read.parquet(out)
    assert(store.filter(col("vec_id") % 4 === 0).count() == 0)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_._2 == 1), files.mkString(", "))
    // query results invariant across the compaction
    val afterCompact = VectorStore
      .queryL2(spark, out, "embedding", "vec_id", QueryVec.values, 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq
    assert(afterCompact == beforeCompact)
    // final state equals a fresh write of the surviving, re-embedded corpus
    assert(store.count() == emb.filter(col("vec_id") % 4 =!= 0).count())
    assert(store.filter(col("vec_id") % 3 === 0).filter(col("label") < 1000).count() == 0,
      "every surviving re-embedded row must carry the upserted label")
  }

  test("VectorStore: concurrent writers are excluded — loser refuses, no corruption") {
    import graft.operators.VectorStore
    import java.nio.file.{Files => NF, Paths}
    val out = Files.createTempDirectory("graft_vs_lock").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb.filter(col("vec_id") % 4 === 0), col("embedding"), out)

    // 1. a held lock makes every mutating entry point REFUSE (not queue):
    //    simulate a concurrent writer by holding _WRITER_LOCK exactly as
    //    one would — atomic create-if-absent
    NF.createFile(Paths.get(out, "_WRITER_LOCK"))
    val before = spark.read.parquet(out).count()
    for ((label, op) <- Seq[(String, () => Unit)](
        ("append", () => VectorStore.append(
          emb.filter(col("vec_id") % 4 === 1), col("embedding"), out)),
        ("upsert", () => VectorStore.upsert(
          emb.filter(col("vec_id") % 4 === 0), col("embedding"), out)),
        ("delete", () => VectorStore.delete(spark, out,
          emb.filter(col("vec_id") % 8 === 0).select(col("vec_id")))),
        ("compact", () => VectorStore.compact(spark, out)))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("_WRITER_LOCK"), s"$label: ${e.getMessage}")
    }
    // the refused writers did zero staging work and changed nothing
    assert(spark.read.parquet(out).count() == before)
    assert(!NF.exists(Paths.get(out + "__appending")) &&
      !NF.exists(Paths.get(out + "__upserting")) &&
      !NF.exists(Paths.get(out + "__deleting")) &&
      !NF.exists(Paths.get(out + "__compacting")))

    // 2. the stale lock of a crashed holder heals through the one recovery
    //    path, like every other crashed-writer artifact
    VectorStore.recover(out)
    assert(!NF.exists(Paths.get(out, "_WRITER_LOCK")))

    // 3. two genuinely racing writers of disjoint id sets: the lock
    //    serializes them — each retries on refusal, both land, and the
    //    final store is exactly the union (no torn bucket, no lost batch)
    val sets = Seq(1, 2).map(r => emb.filter(col("vec_id") % 4 === r))
    val threads = sets.map { df =>
      new Thread(() => {
        var done = false
        var tries = 0
        while (!done && tries < 60) {
          try { VectorStore.append(df, col("embedding"), out); done = true }
          catch { case _: IllegalStateException =>
            tries += 1; Thread.sleep(100) }
        }
        assert(done, "writer starved out after 60 retries")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val ids = spark.read.parquet(out).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val expected = emb.filter(col("vec_id") % 4 < 3).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids == expected)
    assert(!NF.exists(Paths.get(out, "_WRITER_LOCK")), "lock must be released")
  }

  test("VectorStore: a writer crash mid-commit is rolled forward by recover") {
    import java.nio.file.{Files => NF, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_crash").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    val victims = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    val expectSurvivors = emb.filter(col("vec_id") % 4 =!= 0).count()

    // reproduce delete's commit protocol by hand, then "crash" mid-swap:
    // stage the rewrite (step 1) ...
    val store = spark.read.parquet(out)
    val affected = store.join(victims, Seq("vec_id"), "left_semi")
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq.sorted
    assert(affected.size >= 2, s"need ≥2 affected buckets, got $affected")
    val nBefore = store.count() // before the swap invalidates its file list
    val tmp = out + "__deleting"
    store.filter(col("bucket").isin(affected: _*))
      .join(victims, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    affected.foreach { b =>
      val src = Paths.get(tmp, s"bucket=$b")
      if (!NF.exists(src)) NF.createDirectories(src)
    }
    // ... log the intent (step 2) ...
    val intentTmp = Paths.get(out, "_COMMIT_STAGING")
    NF.write(intentTmp, ("__deleting" +: "-" +: affected.map(_.toString)).asJava)
    NF.move(intentTmp, Paths.get(out, "_COMMIT"), StandardCopyOption.ATOMIC_MOVE)
    // ... swap ONLY the first bucket (step 3 dies here)
    val b0 = affected.head
    NF.move(Paths.get(out, s"bucket=$b0"), Paths.get(tmp, s"old_bucket=$b0"))
    NF.move(Paths.get(tmp, s"bucket=$b0"), Paths.get(out, s"bucket=$b0"))

    // torn state: still a readable store, every bucket wholly old or new,
    // no half-rewritten bucket visible (the _COMMIT marker is invisible
    // to the parquet reader)
    val torn = spark.read.parquet(out)
    assert(torn.filter(col("bucket") === b0 && col("vec_id") % 4 === 0).count() == 0)
    assert(torn.count() < nBefore && torn.count() > expectSurvivors)

    VectorStore.recover(out)
    val healed = spark.read.parquet(out)
    assert(healed.filter(col("vec_id") % 4 === 0).count() == 0,
      "recover must roll the logged commit forward")
    assert(healed.count() == expectSurvivors)
    assert(!NF.exists(Paths.get(out, "_COMMIT")) && !NF.exists(Paths.get(tmp)))
    // idempotent and a no-op on the healthy store
    VectorStore.recover(out)
    assert(spark.read.parquet(out).count() == expectSurvivors)
  }

  test("VectorStore: recover rolls forward a legacy (pre-version-line) intent whole") {
    import java.nio.file.{Files => NF, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_legacy").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    val victims = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    val expectSurvivors = emb.filter(col("vec_id") % 4 =!= 0).count()
    val store = spark.read.parquet(out)
    val affected = store.join(victims, Seq("vec_id"), "left_semi")
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq.sorted
    assert(affected.size >= 2, s"need ≥2 affected buckets, got $affected")
    val tmp = out + "__deleting"
    store.filter(col("bucket").isin(affected: _*))
      .join(victims, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    affected.foreach { b =>
      val src = Paths.get(tmp, s"bucket=$b")
      if (!NF.exists(src)) NF.createDirectories(src)
    }
    // legacy intent layout: no version line — the second line is already
    // the first affected bucket id. recover() must treat every line after
    // the suffix as a bucket, not eat the first one as a version marker.
    val intentTmp = Paths.get(out, "_COMMIT_STAGING")
    NF.write(intentTmp, ("__deleting" +: affected.map(_.toString)).asJava)
    NF.move(intentTmp, Paths.get(out, "_COMMIT"), StandardCopyOption.ATOMIC_MOVE)

    VectorStore.recover(out)
    val healed = spark.read.parquet(out)
    assert(healed.filter(col("vec_id") % 4 === 0).count() == 0,
      "legacy recover must swap EVERY affected bucket, including the first")
    assert(healed.count() == expectSurvivors)
    assert(!NF.exists(Paths.get(out, "_COMMIT")) && !NF.exists(Paths.get(tmp)))
  }

  test("VectorStore: recover refuses an unrecognized intent layout") {
    import java.nio.file.{Files => NF, Paths}
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_badintent").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    NF.createDirectories(Paths.get(out + "__deleting"))
    NF.write(Paths.get(out, "_COMMIT"),
      java.util.List.of("__deleting", "garbage-line", "3"))
    val e = intercept[IllegalStateException] { VectorStore.recover(out) }
    assert(e.getMessage.contains("unrecognized"))
    assert(NF.exists(Paths.get(out, "_COMMIT")),
      "a refused recover must leave the intent in place for inspection")
    NF.delete(Paths.get(out, "_COMMIT"))
  }

  test("VectorStore: retain keeps newest versions exact, refuses older, reclaims history") {
    import java.nio.file.{Files => NF, Paths}
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_retain").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out, retainHistory = true) // v0
    val reemb = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), (col("label") + lit(1000)).as("label"),
        transform(col("embedding"), x => (x * lit(0.5)).cast("float")).as("embedding"))
    VectorStore.upsert(reemb, col("embedding"), out) // v1
    VectorStore.delete(spark, out,
      emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))) // v2
    assert(VectorStore.currentVersion(out) == 2L)
    def idsAt(v: Long): Set[(Long, Int)] =
      VectorStore.readAsOf(spark, out, v).select(col("vec_id"), col("label"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val (v1Before, v2Before) = (idsAt(1L), idsAt(2L))

    VectorStore.retain(out, keep = 2) // floor = 1
    assert(VectorStore.retentionFloor(out) == 1L)
    // _history/1 (≤ floor) reclaimed, _history/2 (> floor) kept
    assert(!NF.exists(Paths.get(out, "_history", "1")))
    assert(NF.exists(Paths.get(out, "_history", "2")))
    // retained versions reconstruct EXACTLY what they did before the GC
    assert(idsAt(1L) == v1Before && idsAt(2L) == v2Before)
    // below the floor: refuse, never read a partially-reclaimed state
    val e = intercept[IllegalArgumentException] {
      VectorStore.readAsOf(spark, out, 0L)
    }
    assert(e.getMessage.contains("retained range"))
    // the floor never moves backward: a looser retain is a no-op
    VectorStore.retain(out, keep = 10)
    assert(VectorStore.retentionFloor(out) == 1L)
    assert(idsAt(1L) == v1Before)
    assert(!NF.exists(Paths.get(out, "_WRITER_LOCK")), "lock must be released")
  }

  test("VectorStore: a retain crash mid-GC is finished by recover") {
    import java.nio.file.{Files => NF, Paths}
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_retaincrash").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out, retainHistory = true) // v0
    VectorStore.delete(spark, out,
      emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))) // v1
    VectorStore.compact(spark, out) // v2
    assert(VectorStore.currentVersion(out) == 2L)
    // simulate retain(keep=1) dying right after the durable floor advance
    // (floor file written, zero history dirs deleted yet)
    NF.writeString(Paths.get(out, "_RETAIN_FLOOR"), "2")
    assert(NF.exists(Paths.get(out, "_history", "1")))
    VectorStore.recover(out)
    assert(!NF.exists(Paths.get(out, "_history", "1")),
      "recover must finish the interrupted history GC")
    assert(NF.exists(Paths.get(out, "_history")))
    // the one retained version still reads exactly
    assert(VectorStore.readAsOf(spark, out, 2L).count() ==
      emb.filter(col("vec_id") % 4 =!= 0).count())
    intercept[IllegalArgumentException] { VectorStore.readAsOf(spark, out, 1L) }
  }

  test("VectorStore: append on a versioned store is a numbered commit (time travel intact)") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_vapp").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    val half = emb.filter(col("vec_id") % 2 === 0)
    VectorStore.write(half, col("embedding"), out, retainHistory = true)
    assert(VectorStore.currentVersion(out) == 0L)
    val v0Count = half.count()
    VectorStore.append(emb.filter(col("vec_id") % 2 === 1), col("embedding"), out)
    assert(VectorStore.currentVersion(out) == 1L,
      "append on a versioned store must advance the version")
    assert(spark.read.parquet(out).count() == emb.count())
    // the pre-append version must NOT contain the appended rows
    val v0 = VectorStore.readAsOf(spark, out, 0L)
    assert(v0.count() == v0Count,
      "appended rows must not leak into the historical version")
    assert(v0.filter(col("vec_id") % 2 === 1).count() == 0)
  }

  test("VectorStore: a writer refuses to commit over a stale _COMMIT intent") {
    import java.nio.file.{Files => NF, Paths}
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_stale").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    NF.write(Paths.get(out, "_COMMIT"), java.util.List.of("__deleting", "-", "0"))
    // the crashed writer's certified stage must survive the refusal — the
    // guard has to fire BEFORE the new writer's stage write would clobber it
    NF.createDirectories(Paths.get(out + "__deleting"))
    NF.write(Paths.get(out + "__deleting", "sentinel"), Array[Byte](42))
    val writers: Seq[(String, () => Unit)] = Seq(
      "delete" -> (() =>
        VectorStore.delete(spark, out, emb.limit(5).select(col("vec_id")))),
      "append" -> (() => VectorStore.append(
        emb.limit(5).withColumn("vec_id", col("vec_id") + 1000000L),
        col("embedding"), out)),
      "compact" -> (() => VectorStore.compact(spark, out)))
    writers.foreach { case (name, write) =>
      // the refusal comes first: no store scan, no checkpoint
      val (e, jobs) = jobsDuring(intercept[IllegalStateException](write()))
      assert(jobs == 0, s"$name ran $jobs Spark jobs before refusing")
      assert(e.getMessage.contains("recover"), name)
      assert(NF.exists(Paths.get(out + "__deleting", "sentinel")),
        s"refused $name must not touch the pending stage")
    }
    VectorStore.recover(out) // clears the (tmp-less) stale intent
    VectorStore.delete(spark, out, emb.limit(5).select(col("vec_id")))
    assert(spark.read.parquet(out).count() == emb.count() - 5)
  }

  test("VectorStore time travel: every committed version reads back exactly") {
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_tt").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out, retainHistory = true)
    assert(VectorStore.currentVersion(out) == 0L)
    val v0 = VectorStore.readAsOf(spark, out, 0L).count()
    assert(v0 == emb.count())

    val reemb = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), (col("label") + lit(1000)).as("label"),
        transform(col("embedding"), x => (x * lit(0.5)).cast("float"))
          .as("embedding"))
    VectorStore.upsert(reemb, col("embedding"), out)
    assert(VectorStore.currentVersion(out) == 1L)
    VectorStore.delete(spark, out,
      emb.filter(col("vec_id") % 4 === 0).select(col("vec_id")))
    assert(VectorStore.currentVersion(out) == 2L)
    VectorStore.compact(spark, out)
    assert(VectorStore.currentVersion(out) == 3L)

    // v0 unchanged by all later rewrites: no +1000 labels anywhere
    val asOf0 = VectorStore.readAsOf(spark, out, 0L)
    assert(asOf0.count() == v0)
    assert(asOf0.filter(col("label") >= 1000).count() == 0)
    // v1 carries the upsert but still has the %4 ids
    val asOf1 = VectorStore.readAsOf(spark, out, 1L)
    assert(asOf1.filter(col("label") >= 1000).count() ==
      emb.filter(col("vec_id") % 3 === 0).count())
    assert(asOf1.filter(col("vec_id") % 4 === 0).count() > 0)
    // v2 == v3 == live, row for row (compaction is row-identical)
    val live = spark.read.parquet(out)
    Seq(2L, 3L).foreach { v =>
      val asOf = VectorStore.readAsOf(spark, out, v)
      assert(asOf.exceptAll(live).isEmpty && live.exceptAll(asOf).isEmpty,
        s"version $v must equal the live store")
    }
    // probed historical query agrees with brute force over the as-of state
    val probed = VectorStore.queryL2AsOf(spark, out, "embedding", "vec_id",
      graft.oracle.OracleGen.QueryVec.values, 3, 0L)
    assert(probed.count() == 3)
    // out-of-range version refuses
    intercept[IllegalArgumentException] {
      VectorStore.readAsOf(spark, out, 4L)
    }
  }

  test("VectorStore time travel: a crashed versioned commit recovers into its history slot") {
    import java.nio.file.{Files => NF, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_ttcrash").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out, retainHistory = true)
    val victims = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    val survivors = emb.filter(col("vec_id") % 4 =!= 0).count()

    // stage a delete by hand and crash before ANY swap (intent logged)
    val store = spark.read.parquet(out)
    val affected = store.join(victims, Seq("vec_id"), "left_semi")
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq.sorted
    val tmp = out + "__deleting"
    store.filter(col("bucket").isin(affected: _*))
      .join(victims, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    affected.foreach { b =>
      val src = Paths.get(tmp, s"bucket=$b")
      if (!NF.exists(src)) NF.createDirectories(src)
    }
    val intentTmp = Paths.get(out, "_COMMIT_STAGING")
    NF.write(intentTmp, ("__deleting" +: "v1" +: affected.map(_.toString)).asJava)
    NF.move(intentTmp, Paths.get(out, "_COMMIT"), StandardCopyOption.ATOMIC_MOVE)

    VectorStore.recover(out)
    // rolled forward: live = post-delete, version advanced, v0 intact
    assert(VectorStore.currentVersion(out) == 1L)
    assert(spark.read.parquet(out).count() == survivors)
    val asOf0 = VectorStore.readAsOf(spark, out, 0L)
    assert(asOf0.count() == emb.count(),
      "pre-delete state must be reachable through the recovered history slot")
    assert(!NF.exists(Paths.get(out, "_COMMIT")) && !NF.exists(Paths.get(tmp)))
  }

  test("VectorStore time travel: a versioned upsert crashed at any point " +
      "of its commit recovers to the no-crash history, and the next writer " +
      "takes a fresh _history slot") {
    import java.nio.file.{Files => NF, Paths}
    import graft.operators.VectorStore
    import graft.tables.Commit
    val emb = Tables.embeddings(spark, sf0001)
    val reemb = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), (col("label") + lit(1000)).as("label"),
        transform(col("embedding"), x => (x * lit(0.5)).cast("float"))
          .as("embedding"))
    val victims = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    def versionedStore(tag: String): String = {
      val out = Files.createTempDirectory(s"graft_vs_$tag").toFile
        .getAbsolutePath + "/store"
      VectorStore.write(emb, col("embedding"), out, retainHistory = true)
      out
    }
    def history(out: String): Seq[Set[(Long, Int)]] =
      (0L to VectorStore.currentVersion(out)).map(v =>
        VectorStore.readAsOf(spark, out, v).select(col("vec_id"), col("label"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    // the same sequence with no crash: v1 = upsert, v2 = delete
    val ref = versionedStore("ttref")
    VectorStore.upsert(reemb, col("embedding"), ref)
    VectorStore.delete(spark, ref, victims)
    val expected = history(ref)
    assert(expected.size == 3)

    for (point <- Seq("intent logged", "one bucket applied", "cleaned up")) {
      val out = versionedStore("ttcrash")
      // the upsert's v1 commit, staged and logged as VectorStore.upsert
      // stages it
      val updates = reemb.withColumn("bucket",
        Ann.bucketOf(col("embedding"), 4, 64))
      val store = spark.read.parquet(out)
      val affected = store.join(reemb.select(col("vec_id")), Seq("vec_id"),
          "left_semi").select(col("bucket"))
        .union(updates.select(col("bucket"))).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      Commit.stageAndLog(out, Seq(Commit.Replace("", "bucket", affected,
        store.filter(col("bucket").isin(affected: _*))
          .join(reemb.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(updates),
        Some("_history/1"))))
      point match {
        case "intent logged" => ()
        case "one bucket applied" =>
          val b = s"bucket=${affected.head}"
          val park = Paths.get(out, "_history", "1", b)
          NF.createDirectories(park.getParent)
          if (NF.exists(Paths.get(out, b))) NF.move(Paths.get(out, b), park)
          else NF.createDirectories(park)
          NF.move(Paths.get(out, "_COMMIT_STAGE", "0", b), Paths.get(out, b))
        case "cleaned up" =>
          Commit.recover(out) // applied and cleaned up, _VERSION still 0
          assert(NF.readString(Paths.get(out, "_VERSION")).trim == "0")
          assert(VectorStore.currentVersion(out) == 1L,
            "the parked history, not _VERSION, dates the commit")
      }
      VectorStore.recover(out)
      assert(!Commit.pending(out), point)
      assert(VectorStore.currentVersion(out) == 1L, point)
      assert(history(out) == expected.take(2), point)
      VectorStore.delete(spark, out, victims) // the next writer
      assert(VectorStore.currentVersion(out) == 2L, point)
      assert(NF.isDirectory(Paths.get(out, "_history", "2")),
        s"$point: the next writer parks into a fresh slot")
      assert(history(out) == expected, point)
    }
  }

  test("VectorStore: a legacy-intent hand-over that crashed between its " +
      "stage move and its intent publish finishes on the next recover") {
    import java.nio.file.{Files => NF, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_adopt").toFile
      .getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    val victims = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    val store = spark.read.parquet(out)
    val affected = store.join(victims, Seq("vec_id"), "left_semi")
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq.sorted
    // the legacy stage, already moved into Commit's op-0 slot; the legacy
    // intent is still the one on disk
    val stage0 = out + "/_COMMIT_STAGE/0"
    store.filter(col("bucket").isin(affected: _*))
      .join(victims, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("bucket").parquet(stage0)
    affected.foreach(b => NF.createDirectories(Paths.get(stage0, s"bucket=$b")))
    val intentTmp = Paths.get(out, "_COMMIT_STAGING")
    NF.write(intentTmp, ("__deleting" +: "-" +: affected.map(_.toString)).asJava)
    NF.move(intentTmp, Paths.get(out, "_COMMIT"), StandardCopyOption.ATOMIC_MOVE)
    VectorStore.recover(out)
    assert(spark.read.parquet(out).filter(col("vec_id") % 4 === 0).count() == 0)
    assert(spark.read.parquet(out).count() ==
      emb.filter(col("vec_id") % 4 =!= 0).count())
    assert(!NF.exists(Paths.get(out, "_COMMIT")) &&
      !NF.exists(Paths.get(out, "_COMMIT_STAGE")))
  }

  test("VectorStore: an orphan stage with no logged intent is discarded") {
    import java.nio.file.{Files => NF, Paths}
    import graft.operators.VectorStore
    val out = Files.createTempDirectory("graft_vs_orphan").toFile.getAbsolutePath + "/store"
    val emb = Tables.embeddings(spark, sf0001)
    VectorStore.write(emb, col("embedding"), out)
    val n = spark.read.parquet(out).count()
    // a writer died during staging (before intent): partial junk stage
    NF.createDirectories(Paths.get(out + "__compacting", "bucket=0"))
    NF.write(Paths.get(out + "__compacting", "bucket=0", "part-junk.parquet"),
      Array[Byte](1, 2, 3))
    VectorStore.recover(out)
    assert(!NF.exists(Paths.get(out + "__compacting")))
    assert(spark.read.parquet(out).count() == n, "store untouched by rollback")
  }

  test("selective filter + projection reach the parquet scan") {
    val df = Tables.lineitem(spark, sf0001)
      .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select("l_orderkey", "l_extendedprice")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"filter not pushed to scan:\n$scan")
    // column pruning: the scan reads only the 3 needed columns
    assert(scan.contains("ReadSchema") && !scan.contains("l_comment"),
      "scan must not read unprojected columns")
  }

  test("runtime bloom filter from selective dim side prunes the fact scan") {
    // Spark's runtime row-level filtering: a bloom filter built from the
    // selective (creation) side is pushed into the large side's scan —
    // the lever that turns a 100 TB fact scan into a semi-join-pruned
    // one without bucketing. Thresholds lowered to trigger at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
      val sel = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
        .groupBy().agg(sum(col("l_quantity")).as("s"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"bloom filter must be injected into the fact side:\n$plan")
      assert(j.head().getAs[Double]("s") > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE coalesces small shuffle partitions at runtime") {
    // the knob that makes one static shuffle.partitions setting safe at
    // any scale: tiny post-shuffle data collapses to few partitions
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val df = Tables.nation(spark, sf0001).groupBy(col("n_regionkey")).count()
      assert(df.collect().nonEmpty) // materialize THIS plan so AQE replans it
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead coalesced"),
        s"AQE must coalesce the 64-partition shuffle of a 25-row table:\n$finalPlan")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("observe() collects data-quality metrics in the same pass") {
    // production ingest counts nulls/violations WITHOUT a second scan —
    // CollectMetrics rides along the query
    val obs = new org.apache.spark.sql.Observation("quality")
    val df = Tables.orders(spark, sf0001)
      .observe(obs,
        count(lit(1)).as("rows"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("bad_price"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"))
      .groupBy(col("o_orderstatus")).count()
    val n = df.collect().map(_.getLong(1)).sum
    val m = obs.get
    assert(m("rows") == n, "metric pass must see every row exactly once")
    assert(m("bad_price") == 0L && m("null_cust") == 0L)
  }

  test("skewReport: exact hot-key profile on a planted distribution") {
    import spark.implicits._
    // key 7 -> 60 rows, keys 1..10 -> 4 each (incl. 7: 64), total 100
    val df = (Seq.fill(60)(7L) ++ (1L to 10L).flatMap(k => Seq.fill(4)(k)))
      .toDF("k")
    val r = graft.operators.Skew.skewReport(df, col("k")).head()
    assert(r.getLong(0) == 10)    // n_keys
    assert(r.getLong(1) == 100)   // n_rows
    assert(r.getLong(2) == 64)    // max_n = 60 + 4
    assert(r.getLong(3) == 7)     // hot_key
    assert(r.getLong(4) == 6400)  // 64 * 1000 * 10 / 100 = 6.4x uniform
    // uniform distribution reads exactly 1000
    val u = graft.operators.Skew.skewReport(
      (1L to 50L).flatMap(k => Seq.fill(2)(k)).toDF("k"), col("k")).head()
    assert(u.getLong(4) == 1000)
  }

  test("salted join equals plain join result under synthetic skew") {
    import spark.implicits._
    // 10k rows all hitting one hot key + a tail
    val large = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, i.toLong))).toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("k", "name")
    val plain = large.join(small, "k").groupBy("name").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedJoin(large, small, "k", factor = 8)
      .groupBy("name").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
    assert(plain("hot") == 10000L)
  }

  test("retrieval/centroid/span plans: broadcasts, no cartesian, heap top-k") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    val bm25 = plan("q_bm25")
    assert(!bm25.contains("CartesianProduct"), "bm25 globals must broadcast, not cartesian")
    assert(bm25.contains("TakeOrderedAndProject"), "bm25 top-10 must be a heap, not a sort")
    val assign = plan("q_centroid_assign")
    assert(!assign.contains("CartesianProduct"))
    assert(assign.contains("BroadcastNestedLoopJoin") || assign.contains("BroadcastHashJoin"),
      "centroids must broadcast to the embedding scan")
    val outliers = plan("q_centroid_outliers")
    assert(outliers.contains("TakeOrderedAndProject"))
    assert(outliers.contains("BroadcastHashJoin"), "own-label centroid join must broadcast")
    val spans = plan("q_dup_spans")
    assert(!spans.contains("CartesianProduct") && !spans.contains("BroadcastNestedLoopJoin"),
      "window-hash join must be an equi-join")
  }

  test("q_dpp_join: runtime dim filter prunes fact partitions (DPP)") {
    val df = SparkEntry.queries("q_dpp_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "fact scan must carry a dynamicpruningexpression partition filter")
    assert(df.count() > 0)
  }
}
