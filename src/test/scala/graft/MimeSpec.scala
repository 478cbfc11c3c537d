package graft

import org.apache.spark.sql.functions._

import graft.sources.Mime

class MimeSpec extends SparkSpec {

  private val multipart =
    """Content-Type: multipart/mixed; boundary="XYZ"
      |
      |prologue to be ignored
      |--XYZ
      |Content-Type: text/plain
      |
      |hello plain one
      |--XYZ
      |Content-Type: text/html
      |
      |<p>hello html</p>
      |--XYZ
      |Content-Type: text/plain
      |
      |hello plain two
      |--XYZ--
      |epilogue ignored
      |""".stripMargin

  test("multipart: plain parts kept in order, html dropped (email_fetching.py:44-48)") {
    val parts = Mime.parseMime(multipart)
    assert(parts.map(_.content_type) == Seq("text/plain", "text/html", "text/plain"))
    assert(parts(0).body == "hello plain one")
    assert(parts(2).body == "hello plain two")
  }

  test("single-part defaults to text/plain when no Content-Type") {
    val parts = Mime.parseMime("Subject: x\n\njust a body")
    assert(parts == Seq(Mime.MimePart("text/plain", "just a body")))
  }

  test("html-only message produces no document after ingest (email_fetching.py:49)") {
    import spark.implicits._
    val htmlOnly = "Content-Type: text/html\n\n<b>nope</b>"
    val df = Seq(("1", htmlOnly)).toDF("id", "raw")
    assert(Mime.ingest(df, $"id", $"raw").count() == 0)
  }

  test("empty plain body dropped by non-empty filter") {
    import spark.implicits._
    val empty = "Content-Type: text/plain\n\n   "
    val df = Seq(("1", empty)).toDF("id", "raw")
    assert(Mime.ingest(df, $"id", $"raw").count() == 0)
  }

  test("ingest joins multi-part plain bodies with \\n in part order") {
    import spark.implicits._
    val df = Seq(("m1", multipart)).toDF("id", "raw")
    val out = Mime.ingest(df, $"id", $"raw").collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == "hello plain one\nhello plain two")
  }

  test("UTF-8 bodies survive") {
    val msg = "Content-Type: text/plain\n\nünïcödé — 中文 ✓"
    assert(Mime.parseMime(msg).head.body == "ünïcödé — 中文 ✓")
  }

  test("CRLF line endings accepted") {
    val msg = "Content-Type: multipart/mixed; boundary=\"b\"\r\n\r\n--b\r\nContent-Type: text/plain\r\n\r\ncrlf body\r\n--b--\r\n"
    val parts = Mime.parseMime(msg)
    assert(parts == Seq(Mime.MimePart("text/plain", "crlf body")))
  }

  test("ingest is narrow: a 4-partition mailbox gives 4 partitions and no exchange") {
    import spark.implicits._
    val msgs = spark.sparkContext.parallelize(
      (1 to 12).map(i => (s"m$i", s"Content-Type: text/plain\n\nbody $i")), 4).toDF("id", "raw")
    val out = Mime.ingest(msgs, $"id", $"raw")
    assert(out.count() == 12)
    assert(out.rdd.getNumPartitions == 4)
    assert(!planNodes(out).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]))
  }

  test("each row is one message: rows sharing an id stay two documents") {
    import spark.implicits._
    val df = Seq(("m1", multipart), ("m1", "Subject: x\n\nsecond message")).toDF("id", "raw")
    val out = Mime.ingest(df, $"id", $"raw").collect().map(r => r.getString(0) -> r.getString(1))
    assert(out.toSet == Set("m1" -> "hello plain one\nhello plain two", "m1" -> "second message"))
  }
}
