package perfbench

import java.util.SplittableRandom

/** Seeded inputs. Message bodies are the repository's sf0.1 `documents`
  * table (5000 texts of 10–100 words, bundled as
  * `perfbench/data/sf0.1_documents.txt.gz`, line i = doc_id i); the seed
  * selects and orders the documents and renders them as messages. The
  * only generated parts are the ones the table has no data for:
  *
  *  - planted near-duplicates, a copy of an earlier message with one word
  *    replaced, so dedup quality can be scored;
  *  - RFC822 headers and, for 30% of messages, a multipart/mixed body with
  *    a non-text attachment part, so MIME ingest has parts to drop;
  *  - an e-mail address or phone number in 20% of messages, so redaction
  *    has PII to remove.
  *
  * These shares are set to exercise every branch of the layers they feed,
  * not fitted to a measured mail corpus. Everything is built on the driver
  * from the seed: the same seed gives the same bytes.
  */
object Gen {
  val DocumentsFile = "perfbench/data/sf0.1_documents.txt.gz"

  /** The sf0.1 document texts under `root`, indexed by doc_id. */
  def documents(root: String): IndexedSeq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(s"$root/$DocumentsFile")), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toIndexedSeq
    finally in.close()
  }

  /** A seeded permutation of `0 until n`. */
  def permutation(seed: Long, n: Int): IndexedSeq[Int] = {
    val rnd = new SplittableRandom(seed ^ 0x0dd5L)
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** One message. `body` is the text the ingest layer must recover (text/plain
    * parts joined by "\n"); `dupOf` is the id of the message this one
    * near-duplicates, or -1.
    */
  final case class Mail(id: Long, body: String, raw: String, dupOf: Long)

  /** A mailbox holding the documents `pick` (in that order) as messages,
    * plus planted near-duplicates, with ids from `idBase` on.
    *
    * Before each document, with probability `dupShare`, a near-duplicate is
    * planted instead: a copy of an earlier original of at least 30 words
    * (from `dupPool`, or from this mailbox when `selfDups`) with one word
    * replaced by a word of a random document, and fresh headers. So
    * `dupShare` is the expected share of planted messages in the mailbox.
    */
  def mailbox(seed: Long, docs: IndexedSeq[String], pick: Seq[Int], dupShare: Double,
              idBase: Long, dupPool: IndexedSeq[Mail] = IndexedSeq.empty,
              selfDups: Boolean = true): IndexedSeq[Mail] = {
    val rnd = new SplittableRandom(seed)
    val originals = scala.collection.mutable.ArrayBuffer.from(
      dupPool.filter(m => m.dupOf < 0 && m.body.split(' ').length >= 30))
    val out = IndexedSeq.newBuilder[Mail]
    var id = idBase
    val next = pick.iterator
    while (next.hasNext) {
      val dup = originals.nonEmpty && rnd.nextDouble() < dupShare
      val (body, dupOf) =
        if (dup) {
          val src = originals(rnd.nextInt(originals.size))
          val t = src.body.split(' ')
          val donor = docs(rnd.nextInt(docs.size)).split(' ')
          t(rnd.nextInt(t.length)) = donor(rnd.nextInt(donor.length))
          (t.mkString(" "), src.id)
        } else {
          val t = docs(next.next()).split(' ')
          val pii = rnd.nextDouble()
          if (pii < 0.1) t(rnd.nextInt(t.length)) = s"user${rnd.nextInt(1000)}@mail${rnd.nextInt(50)}.example.com"
          else if (pii < 0.2) t(rnd.nextInt(t.length)) = f"${rnd.nextInt(1000)}%03d-555-${rnd.nextInt(10000)}%04d"
          (t.mkString(" "), -1L)
        }
      val m = Mail(id, body, render(rnd, id, body), dupOf)
      if (selfDups && dupOf < 0 && body.split(' ').length >= 30) originals += m
      out += m
      id += 1
    }
    out.result()
  }

  private def render(rnd: SplittableRandom, id: Long, body: String): String = {
    val head =
      s"From: user${rnd.nextInt(500)}@mail${rnd.nextInt(50)}.example.com\r\n" +
        s"To: team${rnd.nextInt(40)}@corp.example.com\r\n" +
        s"Subject: thread $id\r\n" +
        s"Message-ID: <$id@bench.example.com>\r\n"
    if (rnd.nextDouble() < 0.3) {
      val t = body.split(' ')
      val cut = 1 + rnd.nextInt(math.max(1, t.length - 1))
      val (p1, p2) = (t.take(cut).mkString(" "), t.drop(cut).mkString(" "))
      val b = s"b$id"
      val blob = Array.fill(48)(('A' + rnd.nextInt(26)).toChar).mkString
      head + s"Content-Type: multipart/mixed; boundary=\"$b\"\r\n\r\n" +
        s"preamble\r\n--$b\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n$p1\r\n" +
        s"--$b\r\nContent-Type: application/octet-stream\r\n\r\n$blob\r\n" +
        s"--$b\r\nContent-Type: text/plain\r\n\r\n$p2\r\n--$b--\r\n"
    } else head + s"Content-Type: text/plain; charset=utf-8\r\n\r\n$body\r\n"
  }

  /** The text ingest must produce for a message: multipart bodies come back
    * as their text parts joined by "\n", which tokenizes like the body.
    */
  def expectedTokens(m: Mail): Array[String] = graft.expressions.HashEmbed.tokens(m.body)

  /** Seeded query-text pool: `distinct` query strings of 2..5 words taken
    * from the message bodies (so lexical and vector retrieval have hits).
    */
  def queryPool(seed: Long, mails: IndexedSeq[Mail], distinct: Int): IndexedSeq[String] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    IndexedSeq.fill(distinct) {
      val t = mails(rnd.nextInt(mails.size)).body.split(' ')
      val len = 2 + rnd.nextInt(4)
      val at = rnd.nextInt(math.max(1, t.length - len))
      t.slice(at, at + len).filter(w => !w.contains('@') && !w.contains('-'))
        .mkString(" ") match {
        case "" => "customer order value"
        case s => s
      }
    }
  }

  /** A request stream over the pool in which `repeatShare` of the requests
    * reuse a query text already sent in this stream.
    */
  def queryStream(seed: Long, pool: IndexedSeq[String], repeatShare: Double): Iterator[String] = {
    val rnd = new SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    Iterator.continually {
      val q =
        if (sent.nonEmpty && rnd.nextDouble() < repeatShare) sent(rnd.nextInt(sent.size))
        else pool(rnd.nextInt(pool.size))
      sent += q
      q
    }
  }
}
