package graft

/** Dev smoke runner: drives SparkEntry.entry (the driver's t1 smoke) and,
  * with args, any named query — printing the formatted physical plan so the
  * scale-shape of each operator can be inspected (`.explain("formatted")`).
  *
  * Usage: graft.Smoke [queryName sfDir] (no args → entry on sf0.001)
  *        graft.Smoke sql "<statement>" [sfDir]  — runs SQL over the
  *        testdata tables as temp views
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    val df = args match {
      case Array("skew") =>
        // salted-join demo on synthetic hot-key data
        import spark.implicits._
        val large = ((1 to 100000).map(i => (1L, i.toLong)) ++
          (1 to 1000).map(i => (i.toLong % 7 + 2, i.toLong))).toDF("k", "v")
        val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("k", "name")
        graft.operators.Skew.saltedJoin(large, small, "k", factor = 8)
          .groupBy($"name").count().orderBy($"name")
      case Array("stream") =>
        // watermarked stream-stream interval join demo on two memory streams
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        val ts = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
        val clicks = MemoryStream[(Long, java.sql.Timestamp)]
        val buys = MemoryStream[(Long, java.sql.Timestamp)]
        val joined = graft.streaming.Streaming.intervalJoin(
          clicks.toDF().toDF("uid", "click_ts"),
          buys.toDF().toDF("uid", "buy_ts"),
          "uid", "click_ts", "buy_ts", within = "1 hour")
        val q = joined.writeStream.format("memory").queryName("demo_out")
          .outputMode("append").start()
        clicks.addData((1L, ts(1, 0)), (2L, ts(1, 0)))
        buys.addData((1L, ts(1, 30)), (2L, ts(3, 0)))
        q.processAllAvailable(); q.stop()
        spark.table("demo_out")
      case Array("sql", stmt, rest @ _*) =>
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").foreach { t =>
          spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
        }
        spark.sql(stmt)
      case Array(name, sfDir) => SparkEntry.queries(name)(spark, sfDir)
      case _                  => SparkEntry.entry(spark)
    }
    df.explain("formatted")
    println("ROWS=" + df.count())
    df.show(10, 48)
    spark.stop()
  }
}
