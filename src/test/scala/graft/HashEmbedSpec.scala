package graft

import graft.expressions.HashEmbed

class HashEmbedSpec extends SparkSpec {

  test("embedding is unit-norm for non-empty text") {
    val e = HashEmbed.embed("hello world foo", 64)
    assert(e.length == 64)
    val norm = math.sqrt(e.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-12)
  }

  test("empty / whitespace text embeds to the zero vector") {
    assert(HashEmbed.embed("", 64).forall(_ == 0.0))
    assert(HashEmbed.embed("   \t\n ", 64).forall(_ == 0.0))
  }

  test("deterministic and case/whitespace-normalizing") {
    val a = HashEmbed.embed("Hello   WORLD", 16)
    val b = HashEmbed.embed("hello world", 16)
    assert(a.sameElements(b))
  }

  test("bucket in range, sign is ±1") {
    for (t <- Seq("a", "hello", "ünïcödé", "123", "x" * 100)) {
      val (b, s) = HashEmbed.bucketSign(t, 64)
      assert(b >= 0 && b < 64)
      assert(s == 1 || s == -1)
    }
  }

  test("column expression matches the pure-Scala implementation") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val df = Seq((1L, "spark hash embed test"), (2L, "")).toDF("id", "t")
    val rows = df.select($"id", TextFunctions.hashEmbed($"t", 16)).orderBy($"id").collect()
    assert(rows(0).getSeq[Double](1) == HashEmbed.embed("spark hash embed test", 16).toSeq)
    assert(rows(1).getSeq[Double](1) == Seq.fill(16)(0.0))
  }

  test("null text yields null embedding") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val df = Seq((1L, Option.empty[String])).toDF("id", "t")
    val rows = df.select(TextFunctions.hashEmbed($"t", 8)).collect()
    assert(rows(0).isNullAt(0))
  }

  test("control characters are not trimmed: embedding follows Spark's composed tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val text = "\u0001abc Def"
    val df = spark.sparkContext.parallelize(Seq((1L, text)), 1).toDF("id", "t")
    val sparkTokens = df.select(filter(split(lower(trim($"t")), "\\s+"), t => t =!= ""))
      .head().getSeq[String](0)
    assert(sparkTokens == Seq("\u0001abc", "def"))
    // the formula: signed bucket counts over the tokens, L2-normalized
    val counts = new Array[Long](16)
    sparkTokens.foreach { t =>
      val (b, sg) = HashEmbed.bucketSign(t, 16)
      counts(b) += sg
    }
    val norm = math.sqrt(counts.map(c => (c * c).toDouble).sum)
    val want = counts.map(_ / norm).toSeq
    assert(df.select(TextFunctions.hashEmbed($"t", 16)).head().getSeq[Double](0) == want)
    assert(HashEmbed.embed(text, 16).toSeq == want)
    assert(HashEmbed.embed(text, 16).toSeq != HashEmbed.embed("abc def", 16).toSeq)
  }
}
