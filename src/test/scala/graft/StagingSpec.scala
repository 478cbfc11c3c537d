package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, VectorStore}
import graft.oracle.OracleGen.QueryVec
import graft.tables.{Staging, Tables}

/** The one partitioned layout writer (Staging.writePartitioned), the
  * declared-schema layout reads (Staging.readLayout), and the source
  * guard that keeps every partitioned layout write on the writer.
  */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_staging_$tag")
      .resolve("rel").toString

  /** Per-job task counts and job count of everything `body` runs, read
    * from listener events tagged with a private job group. Listener
    * delivery is asynchronous; events of one listener arrive in posting
    * order, so once every started job has ended, its task ends are in.
    */
  private def jobsOf(body: => Unit): Seq[Int] = {
    val group = s"staging-spec-${java.util.UUID.randomUUID}"
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val tasks = new ConcurrentHashMap[Int, Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) {
          tasks.put(e.jobId, 0)
          e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach(j => tasks.merge(j, 1, _ + _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (tasks.containsKey(e.jobId)) ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "StagingSpec")
      try body finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis + 10000
      while (ended.size < tasks.size && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      assert(ended.size == tasks.size, "listener events did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    tasks.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  test("writePartitioned: a 120-row micro-batch over 64 buckets (AQE on) " +
      "lands one file per partition dir, written by more than one task") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") ==
      "true")
    val dir = tmp("mb")
    val batch = (0 until 120).map(i => (i.toLong, s"message $i", i % 64))
      .toDF("id", "text", "b")
    val jobs = jobsOf(Staging.writePartitioned(batch, "b", dir))
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("b="))
    assert(parts.length == 64)
    assert(Staging.filesPerPartition(Seq(dir)) == 1.0)
    // the last job is the write itself (earlier ones are AQE map stages):
    // its files are created by several tasks, not one coalesced task
    assert(jobs.last > 1,
      s"the write collapsed into one task; tasks per job: $jobs")
    assert(spark.read.parquet(dir).as[(Long, String, Int)].collect().toSet ==
      batch.as[(Long, String, Int)].collect().toSet)
    // an append adds exactly one new file per touched partition
    Staging.writePartitioned(batch.filter(col("b") < 8), "b", dir, "append")
    assert(Staging.fragmentedPartitions(dir, "b") == (0 until 8))
    assert(Staging.filesPerPartition(Seq(dir)) == 72.0 / 64)
  }

  test("byPartition ahead of a rank window: the write plans no second " +
      "exchange, and still lands one file per partition dir") {
    import org.apache.spark.sql.expressions.Window
    val dir = tmp("rank")
    val rows = (0 until 200).map(i => (i % 13, s"t${i % 29}", i.toLong))
      .toDF("p", "tok", "doc")
    val ranked = Staging.byPartition(rows, "p")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("p"), col("tok")).orderBy(col("doc"))))
    val jobs = jobsOf(Staging.writePartitioned(ranked, "p", dir))
    // one exchange = one map-stage job + the write job
    assert(jobs.size == 2, s"tasks per job: $jobs")
    assert(Staging.filesPerPartition(Seq(dir)) == 1.0)
    assert(spark.read.parquet(dir).count() == 200)
  }

  test("writePartitioned dynamic: rewrites only the partitions it carries " +
      "and leaves the session conf untouched while another write runs") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val key = "spark.sql.sources.partitionOverwriteMode"
    val confBefore = spark.conf.getOption(key)
    val dyn = tmp("dyn")
    val stat = tmp("static")
    val base = Seq((1L, 0), (2L, 1), (3L, 2), (4L, 3)).toDF("v", "p")
    Staging.writePartitioned(base, "p", dyn)
    Staging.writePartitioned(base, "p", stat)
    // a deliberately slow dynamic overwrite of partition 1, so the conf
    // sampling and the concurrent static overwrite overlap it
    val slow = udf((v: Long) => { Thread.sleep(300); v })
    val dynWrite = Future(Staging.writePartitioned(
      Seq((20L, 1)).toDF("v", "p").select(slow(col("v")).as("v"), col("p")),
      "p", dyn, "dynamic"))
    val seen = scala.collection.mutable.Set.empty[Option[String]]
    val staticWrite = Future(Staging.writePartitioned(
      Seq((10L, 0)).toDF("v", "p"), "p", stat))
    while (!dynWrite.isCompleted) {
      seen += spark.conf.getOption(key)
      Thread.sleep(5)
    }
    Await.result(dynWrite, Duration.Inf)
    Await.result(staticWrite, Duration.Inf)
    assert(seen == Set(confBefore), s"session conf changed mid-write: $seen")
    assert(spark.conf.getOption(key) == confBefore)
    def rows(d: String) = spark.read.parquet(d).as[(Long, Int)].collect().toSet
    assert(rows(dyn) == Set((1L, 0), (20L, 1), (3L, 2), (4L, 3)))
    // the concurrent static overwrite kept static semantics
    assert(rows(stat) == Set((10L, 0)))
  }

  test("writePartitioned refuses an unknown mode") {
    val e = intercept[IllegalArgumentException] {
      Staging.writePartitioned(Seq((1L, 0)).toDF("v", "p"), "p", tmp("bad"),
        "upsert")
    }
    assert(e.getMessage.contains("unknown mode"))
  }

  test("VectorStore reads: the recorded schema equals inference, queryL2 " +
      "runs one Spark job, an older store without _STORE_SCHEMA serves the " +
      "same rows, and a fully deleted store reads as empty") {
    val p = tmp("store")
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
    VectorStore.write(emb, col("embedding"), p)
    val schemaFile = java.nio.file.Paths.get(p, "_STORE_SCHEMA")
    assert(Staging.recordedSchema(schemaFile) ==
      Some(spark.read.parquet(p).schema))
    def query() = VectorStore.queryL2(spark, p, "embedding", "vec_id",
      QueryVec.values, 5).collect().map(_.toString).toSeq
    var declared = Seq.empty[String]
    val jobs = jobsOf { declared = query() }
    assert(declared.size == 5)
    assert(jobs.size == 1, s"queryL2 tasks per job: $jobs")
    java.nio.file.Files.delete(schemaFile)
    assert(query() == declared, "a pre-schema store must serve the same rows")
    VectorStore.write(emb, col("embedding"), p)
    VectorStore.delete(spark, p, emb.select(col("vec_id")))
    assert(VectorStore.queryL2(spark, p, "embedding", "vec_id",
      QueryVec.values, 5).count() == 0)
  }

  test("signature stage: the declared schema equals inference, and the " +
      "gate plans against the stage without a Spark job") {
    val stage = tmp("sigs")
    // a few documents: fewer id buckets than the parallel-listing
    // threshold, so any job at planning time would be schema inference
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 8)
      .select(col("doc_id").as("id"), col("text"))
    Dedup.stageMinhashSignatures(docs, col("id"), col("text"), stage)
    val batch = docs.select((col("id") + 100000).as("id"), col("text"))
    var pairs: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      pairs = Dedup.incrementalPairs(batch, col("id"), col("text"), stage)
    }
    assert(jobs.isEmpty, s"gate planning ran jobs: $jobs")
    val schemas = pairs.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.schema
    }
    assert(schemas.contains(spark.read.parquet(stage).schema))
    assert(pairs.filter(col("new_id") === col("corpus_id") + 100000)
      .count() == 8)
  }

  test("every partitioned layout write in operators/, streaming/ and " +
      "tables/ goes through Staging.writePartitioned") {
    // writer partitionBy outside Staging, by file, with the reason it
    // may bypass the writer (none today)
    val allowed = Map("tables/Staging.scala" -> "the writer itself")
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root: $root")
    val windowSpec = """Window\s*$""".r
    val hits = Seq("operators", "streaming", "tables").flatMap { d =>
      new java.io.File(root, d).listFiles()
        .filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
          val src = java.nio.file.Files.readString(f.toPath)
          """\.partitionBy\(""".r.findAllMatchIn(src).map(_.start)
            .filterNot(i => windowSpec.findFirstIn(src.substring(0, i)).nonEmpty)
            .map(i => s"$d/${f.getName}" ->
              (src.substring(0, i).count(_ == '\n') + 1))
        }
    }
    assert(hits.map(_._1).toSet == allowed.keySet,
      s"partitionBy outside Staging.writePartitioned: " +
        hits.filterNot(h => allowed.contains(h._1)).mkString(", "))
  }
}
