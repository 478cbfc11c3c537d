package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // fast path: dump just the (ordered, hinted) oracle map — lets a
    // checker syntax-test every oracle without a Spark run
    if (sys.env.contains("GRAFT_ORACLE_SQL_ONLY")) {
      new java.io.File(outDir).mkdirs()
      writeOracles(outDir, SparkEntry.oracleSql, "oracle_sql.json")
      return
    }
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // Queries are independent — run them on concurrent threads (Spark
    // schedules concurrent jobs fine); the serial dump measured ~3 min at
    // sf0.01, parallel ~4x faster. Each writes to its own directory.
    val nThreads = sys.env.getOrElse("GRAFT_VERIFY_THREADS", "6").toInt
    // Local-iteration filter: comma-separated query names. Absent (the
    // driver's invocation) = dump everything.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toSeq
      case None => SparkEntry.queries.toSeq
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failed.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    // An incomplete dump must be loud: round 11's correctness artifact
    // shipped EMPTY and read as indistinguishable from green. Summary
    // line + done-marker + nonzero exit make partial output unambiguous
    // both to a human log reader and to any wrapper checking exit/marker.
    import scala.jdk.CollectionConverters._
    val nFail = failed.size()
    System.err.println(
      s"[verify] dumped ${selected.size - nFail}/${selected.size} queries" +
        (if (nFail > 0) s"; FAILED: ${failed.asScala.mkString(",")}" else ""))
    // A filtered local run must not truncate the full oracle map a prior
    // complete dump left in outDir (the driver's DuckDB compare reads
    // oracle_sql.json); mirror the Bench guard by writing the filtered
    // subset under a different name.
    val (oracles, oracleFile) = only match {
      case Some(names) =>
        (SparkEntry.oracleSql.view.filterKeys(names).toMap,
          "oracle_sql.partial.json")
      case None => (SparkEntry.oracleSql, "oracle_sql.json")
    }
    writeOracles(outDir, oracles, oracleFile)
    Files.writeString(Paths.get(s"$outDir/_VERIFY_DONE"),
      s"""{"queries":${selected.size},"failed":$nFail,"oracles":${oracles.size}}""")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }

  /** Write the oracle map as ordered JSON, CHEAPEST-FIRST: a driver-side
    * DuckDB checker that dies on a heavy replay (the IVF-PQ/graph-ANN/
    * corpus-build families need a spill dir + multi-GB memory_limit to
    * survive, cf. scripts/check_oracle.py) still reports a maximal
    * prefix if it processes the file in key order. The ranks are
    * MEASURED solo replay times at sf0.01 (round 18, one subprocess per
    * query); unknown/new queries sort first alphabetically — ordering
    * is a hint, never correctness.
    */
  private def writeOracles(outDir: String, oracles: Map[String, String],
                           oracleFile: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val heavyOrder: Seq[String] = Seq(
      "q_triangles", "q_vector_store_batch", "q_ivf_delete",
      "q_bpe_encode", "q_stream_ivf_ingest", "q_ivf_append",
      "dedup_semantic", "ann_ivf", "q_ivf_autocompact", "q_ivf_layout",
      "q_ann_recall", "q_graph_ann_delete", "q_graph_ann_recall",
      "q_graph_ann_persisted", "q_stream_graph_ann",
      "q_graph_ann_autocompact", "q_mmr", "q_graph_ann_append",
      "q_ivf_pq", "q_ivf_pq_batch", "q_pagerank_converged",
      "q_ivf_probe_batch", "q_stream_ivf_serve", "q_kmeans_converged",
      "q_rrf_batch", "q_stream_vector_ingest", "q_ann_recall_skewed",
      "q_stream_graph_serve", "q_graph_ann_batch", "q_corpus_build")
    val rank = heavyOrder.zipWithIndex.toMap
    val json = oracles.toSeq
      .sortBy { case (k, _) => (rank.getOrElse(k, -1), k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    if (oracles.isEmpty)
      sys.error("[verify] oracle map is EMPTY — refusing to write an " +
        "empty oracle_sql.json (would read as a silently-green round)")
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    // sidecar for the checker's order guard (check_oracle.py): the
    // heavy-last list, so a measured-heavy replay missing from it fails
    // the self-gate instead of silently stalling the cheap prefix.
    // A separate file — the driver consumes oracle_sql.json as a pure
    // name→sql map, so no extra keys may ride in it.
    Files.writeString(Paths.get(s"$outDir/oracle_meta.json"),
      heavyOrder.map(q).mkString("{\"heavy_order\": [", ",", "]}"))
  }
}
