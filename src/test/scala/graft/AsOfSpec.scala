package graft

import org.apache.spark.sql.functions._

import graft.plans.{AsOf, AsOfJoinExec}

class AsOfSpec extends SparkSpec {

  test("as-of join picks latest right row at-or-before left time, else nulls") {
    import spark.implicits._
    val quotes = Seq( // (key, time, qid)
      (1L, 10L, 100L), (1L, 20L, 101L), (1L, 20L, 102L), (2L, 5L, 200L)
    ).toDF("q_key", "q_time", "qid")
    val trades = Seq( // (key, time, tid)
      (1L, 5L, 1L),   // before any quote → nulls
      (1L, 15L, 2L),  // → quote@10
      (1L, 25L, 3L),  // → quote@20, tie → min qid = 101
      (2L, 5L, 4L),   // equal time counts → quote@5
      (3L, 9L, 5L)    // key with no quotes → nulls
    ).toDF("t_key", "t_time", "tid")

    val out = AsOf.join(trades, "t_key", "t_time", quotes, "q_key", "q_time", "qid")
      .select($"tid", $"qid").orderBy($"tid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(out.toSeq == Seq((1L, -1L), (2L, 100L), (3L, 101L), (4L, 200L), (5L, -1L)))
  }

  test("NULL keys/times never match (SQL comparison semantics)") {
    import spark.implicits._
    val quotes = Seq((Some(1L), Some(10L), 100L), (Some(1L), Option.empty[Long], 101L))
      .toDF("q_key", "q_time", "qid")
    val trades = Seq((Some(1L), Some(15L), 1L), (Option.empty[Long], Some(15L), 2L),
      (Some(1L), Option.empty[Long], 3L))
      .toDF("t_key", "t_time", "tid")
    val out = AsOf.join(trades, "t_key", "t_time", quotes, "q_key", "q_time", "qid")
      .select($"tid", $"qid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(1L) == 100L) // real match; null-time quote 101 ignored
    assert(out(2L) == -1L)  // null trade key → no match
    assert(out(3L) == -1L)  // null trade time → no match
  }

  test("non-BIGINT key is rejected with a clear error") {
    import spark.implicits._
    val l = Seq(("a", 1L)).toDF("k", "t")
    val r = Seq((1L, 1L, 1L)).toDF("k2", "t2", "tie")
    val e = intercept[IllegalArgumentException](
      AsOf.join(l, "k", "t", r, "k2", "t2", "tie"))
    assert(e.getMessage.contains("BIGINT"))
  }

  test("physical plan uses AsOfJoinExec (custom strategy engaged)") {
    import spark.implicits._
    val l = Seq((1L, 1L)).toDF("k", "t")
    val r = Seq((1L, 1L, 1L)).toDF("k2", "t2", "tie")
    val df = AsOf.join(l, "k", "t", r, "k2", "t2", "tie")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(planNodes(df).exists(_.isInstanceOf[AsOfJoinExec]))
    // planned through GraftExtensions, not by mutating the session
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(df.count() == 1)
  }

  test("forward direction picks the next row; tolerance bounds both directions") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (2L, 100L, 55L), (3L, 200L, 10L))
      .toDF("lid", "k", "t")
    val right = Seq((11L, 100L, 20L), (12L, 100L, 20L), (13L, 100L, 60L),
      (14L, 200L, 5L)).toDF("rid", "k", "rt")
    def run(dir: String, tol: Long) =
      AsOf.join(left, "k", "t", right, "k", "rt", "rid", dir, tol)
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap

    // forward unbounded: lid1 (t=10) -> first rt>=10 is 20, tie min rid=11;
    // lid2 (t=55) -> rt=60 (rid 13); lid3 (k=200, t=10) -> no rt>=10 -> null
    assert(run("forward", Long.MaxValue) == Map(1L -> 11L, 2L -> 13L, 3L -> -1L))
    // forward tolerance 5: lid1's candidate at distance 10 is out of range
    assert(run("forward", 5L) == Map(1L -> -1L, 2L -> 13L, 3L -> -1L))
    // backward unbounded: lid1 -> nothing <= 10 on key 100 -> null;
    // lid2 -> rt=20, tie min rid=11; lid3 -> rt=5 (rid 14)
    assert(run("backward", Long.MaxValue) == Map(1L -> -1L, 2L -> 11L, 3L -> 14L))
    // backward tolerance 10: lid2's match at distance 35 is out of range
    assert(run("backward", 10L) == Map(1L -> -1L, 2L -> -1L, 3L -> 14L))
  }

  test("custom exec agrees with the join+window composition on real data") {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.tables.Tables.events(spark, sf0001)
      .filter(col("event_id") % 50 === 0)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"))
    val ord = graft.tables.Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))

    val custom = AsOf.join(ev, "user_id", "ts_us", ord, "o_custkey", "o_us", "o_orderkey")
      .select(col("event_id"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("o_us").desc_nulls_last, col("o_orderkey").asc_nulls_last)
    val composed = ev.join(ord, col("user_id") === col("o_custkey") && col("o_us") <= col("ts_us"), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    assert(custom == composed)
    assert(custom.nonEmpty)
  }
}
