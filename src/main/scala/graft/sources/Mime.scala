package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MIME / RFC822 ingestion — the reference's email pipeline (E1):
  * raw message → MIME part tree → keep text/plain → join parts with "\n" →
  * drop empty (reference `email_fetching.py:41-51`).
  *
  * The IMAP protocol client stays outside the engine (it is I/O, outside the
  * reference's "engine" too — SURVEY.md §2.1 S6); the engine ingests raw
  * message text from any source (binaryFile batch, file-per-message stream).
  *
  * Shape: one UDF per row assembles a message's document (its text/plain
  * bodies in part order) — each input row is one message, as in the
  * reference's per-message loop. Ingest is narrow: no shuffle, and the
  * output keeps the input's partitioning, so every later text phase runs
  * as many tasks as the mailbox has partitions.
  */
object Mime {

  case class MimePart(content_type: String, body: String)

  /** Minimal deterministic MIME parser.
    *
    * Handles: single-part messages with an optional `Content-Type:` header,
    * and multipart messages with `boundary="..."` — one nesting level, like
    * `email.message.walk()` effectively yields for the reference's mail.
    * Headers end at the first blank line; missing content type defaults to
    * text/plain (RFC 2045 §5.2).
    */
  def parseMime(raw: String): Seq[MimePart] = {
    if (raw == null) return Seq.empty
    val (headers, body) = splitHeaders(raw)
    val ct = contentType(headers).getOrElse("text/plain")
    if (ct.startsWith("multipart/")) {
      boundaryOf(headers) match {
        case Some(b) =>
          // parts delimited by --b lines; prologue before first marker and
          // epilogue after --b-- are discarded (RFC 2046 §5.1.1)
          val marker = "--" + b
          val chunks = body.split("\\r?\\n").foldLeft(List(List.empty[String]) -> false) {
            case ((acc, started), line) =>
              if (line.trim == marker + "--") (acc, false)
              else if (line.trim == marker) (List.empty[String] :: acc, true)
              else if (started) ((line :: acc.head) :: acc.tail, true)
              else (acc, started)
          }._1.reverse.drop(1) // drop prologue bucket
          chunks.filter(_.nonEmpty).map { lines =>
            val part = lines.reverse.mkString("\n")
            val (ph, pb) = splitHeaders(part)
            MimePart(contentType(ph).getOrElse("text/plain"), pb)
          }
        case None => Seq(MimePart(ct, body))
      }
    } else Seq(MimePart(ct, body))
  }

  private def splitHeaders(msg: String): (Seq[String], String) = {
    val lines = msg.split("\\r?\\n", -1)
    val i = lines.indexWhere(_.trim.isEmpty)
    if (i < 0) (lines.toSeq, "")
    else (lines.take(i).toSeq, lines.drop(i + 1).mkString("\n"))
  }

  private def contentType(headers: Seq[String]): Option[String] =
    headers.find(_.toLowerCase.startsWith("content-type:"))
      .map(_.substring("content-type:".length).split(";")(0).trim.toLowerCase)

  private def boundaryOf(headers: Seq[String]): Option[String] = {
    // case-insensitive parameter name, case-PRESERVED boundary value
    val re = "(?i)boundary=\"?([^\"\\n;]+)\"?".r
    re.findFirstMatchIn(headers.mkString("\n")).map(_.group(1))
  }

  /** One message's document: its text/plain bodies in part order, joined
    * with "\n" (P1/F2, `email_fetching.py:44-48`); "" when it has none.
    */
  private def plainText(raw: String): String =
    parseMime(raw).collect { case MimePart("text/plain", body) => body }.mkString("\n")

  private val plainTextUdf = udf((raw: String) => plainText(raw))

  /** Full E1 ingest: raw messages (idCol, rawCol) → (id, document) with
    * only text/plain parts, joined by "\n", empties dropped — mirrors
    * `email_fetching.py:44-51` semantics. One row per input message: rows
    * that share an id stay separate documents.
    */
  def ingest(messages: DataFrame, idCol: Column, rawCol: Column): DataFrame =
    messages.select(idCol.as("id"), plainTextUdf(rawCol).as("document"))
      .filter(length(trim(col("document"))) > 0) // P2, email_fetching.py:49
}
