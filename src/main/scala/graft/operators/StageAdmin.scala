package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fleet-operations health surface over every persisted-index layout the
  * engine maintains (postings, doc-window, IVF, graph-ANN, vector store,
  * dedup signatures, versioned PQ publications) — ONE dashboard relation
  * answering, per stage: is it serving? is a maintenance pass torn or a
  * writer crashed lock-in-hand? has it accrued enough maintenance debt
  * (superseded rows for the LSM stages, files-per-partition for the
  * file-granular indexes, retained-versions-past-the-floor for the PQ
  * publications) that the maintenance policy would fire? and which heal
  * applies.
  *
  * At 100 TB a deployment runs dozens of these stages; the individual
  * probes (Commit.pending, staleFraction, fragmentation, ...) each answer
  * one question about one stage — this is the roll-up an operator pages
  * through FIRST. Every probe is metadata-sized: marker/lock checks are
  * single file stats, fragmentation is a driver readdir, and the
  * stale-row fractions run one stage-pruned count apiece. Nothing here
  * throws on an unhealthy stage — reporting torn state is the point —
  * so the debt probes (which refuse torn stages by design) only run on
  * stages that are clean to read.
  *
  * The reference has no multi-index operations story (its one index is a
  * Chroma collection, email_fetching.py:21-27); this is engine-side
  * surface a production deployment of the same pipelines needs.
  */
object StageAdmin {

  /** One stage to probe: display `name`, layout `kind` (one of
    * `postings | windows | ivf | graph_ann | vector_store | signatures |
    * pq`) and `path`. `compactThreshold` overrides the kind's policy
    * default (0.3 stale-row fraction for the LSM stages, 2.0
    * files/partition for the file-granular indexes, 3 retained
    * publications for pq); NaN keeps the default.
    */
  final case class Probe(name: String, kind: String, path: String,
                         compactThreshold: Double = Double.NaN)

  private val Kinds = Set("postings", "windows", "ivf", "graph_ann",
    "vector_store", "signatures", "pq")

  private def fexists(p: java.nio.file.Path) = java.nio.file.Files.exists(p)

  /** One health row per probe:
    * (name, kind, stage_exists, torn_commit, writer_locked,
    * needs_compact, healthy, heal). `healthy` = exists and no torn
    * maintenance and no held lock — the stage serves reads correctly
    * (possibly with bounded read amplification, which is what
    * `needs_compact` flags separately: a stage past its compaction
    * threshold still answers queries exactly). `heal` is the prescribed
    * operator action: "" when nothing to do, "compact" when only debt,
    * the stage's recover entry point when torn/locked, "build" when the
    * stage does not exist.
    */
  def health(spark: SparkSession, probes: Seq[Probe]): DataFrame = {
    val rows = probes.map { pr =>
      require(Kinds(pr.kind), s"unknown stage kind '${pr.kind}' — " +
        s"one of ${Kinds.toSeq.sorted.mkString("/")}")
      val exists = pr.kind match {
        case "postings" => Retrieval.postingsExist(pr.path)
        case "windows" => Retrieval.windowsExist(pr.path)
        case "ivf" => IvfIndex.exists(pr.path)
        case "graph_ann" => GraphAnnIndex.exists(pr.path)
        case "pq" => Pq.currentVersion(pr.path) > 0L
        // the store/signature layouts are bare partitioned relations
        // with no done marker of their own — presence of the directory
        // written by their (atomic-per-commit) writers is the check
        case _ => fexists(java.nio.file.Paths.get(pr.path))
      }
      // the PQ layout publishes by atomic _CURRENT pointer swap — no
      // intent or lock file ever exists in it, so it can't be torn
      val torn = exists && pr.kind != "pq" &&
        graft.tables.Commit.maintenancePending(pr.path)
      val locked = exists && pr.kind != "pq" &&
        graft.tables.WriterLock.held(pr.path)
      val threshold = (kind: String) =>
        if (!pr.compactThreshold.isNaN) pr.compactThreshold
        else if (kind == "ivf" || kind == "graph_ann") 2.0
        else if (kind == "pq") 3.0 // live (loadable) retained publications
        else 0.3
      // debt probes only on stages clean to read: the stale/fragmentation
      // probes refuse torn stages by design (readers must not observe a
      // half-applied maintenance pass), and this report must not throw
      val needsCompact = exists && !torn && !locked && (pr.kind match {
        case "postings" =>
          Retrieval.staleFraction(spark, pr.path) >= threshold("postings")
        case "windows" =>
          Retrieval.windowsStaleFraction(spark, pr.path) >= threshold("windows")
        case "ivf" => IvfIndex.fragmentation(pr.path) > threshold("ivf")
        case "graph_ann" =>
          GraphAnnIndex.fragmentation(pr.path) > threshold("graph_ann")
        // the PQ layout's debt is RETENTION: every republish parks the
        // previous version for rollback until Pq.retain reclaims it.
        // Live publications are [max(floor, 1), current] INCLUSIVE
        // (retain(keep) sets floor = cur − keep + 1 and keeps the floor
        // version loadable), so the count is cur − max(floor − 1, 0) —
        // flagged when more than `threshold` publications are live
        case "pq" =>
          (Pq.currentVersion(pr.path) -
            math.max(Pq.retentionFloor(pr.path) - 1, 0)) > threshold("pq")
        // the store's debt dimension is retention history, governed by
        // VectorStore.retain's explicit floor; signatures rewrite exact
        case _ => false
      })
      val heal =
        if (!exists) "build"
        else if (torn || locked) pr.kind match {
          case "postings" => "Retrieval.recoverPostings"
          case "windows" => "Retrieval.recoverWindows"
          case "ivf" => "IvfIndex.recover"
          case "graph_ann" => "GraphAnnIndex.recover"
          case "vector_store" => "VectorStore.recover"
          case _ => "Dedup.recoverSignatures"
        }
        else if (needsCompact) (if (pr.kind == "pq") "Pq.retain" else "compact")
        else ""
      (pr.name, pr.kind, exists, torn, locked, needsCompact,
        exists && !torn && !locked, heal)
    }
    spark.createDataFrame(rows).toDF("name", "kind", "stage_exists",
      "torn_commit", "writer_locked", "needs_compact", "healthy", "heal")
  }

  /** AUTO-HEAL entry point over the same probe fleet: executes each
    * unhealthy row's prescribed heal from [[health]] — the recover entry
    * for torn/locked stages, the layout's compaction (or `Pq.retain`)
    * for maintenance debt — and reports what ran. `apply = false` is the
    * DRY RUN: the same plan relation with nothing executed, so an
    * operator reviews the exact actions an apply would take.
    *
    * Exclusion discipline is the layouts' own: every executed action is
    * either a recover entry (designed to run against a crashed writer's
    * leavings; live-pid locks REFUSE to clear and surface as an error
    * row rather than stealing a running writer's lock) or a maintenance
    * pass that takes the stage's writer lock itself — heal adds no
    * second locking layer that could deadlock with them.
    *
    * Two passes, because the prescription is one action deep: a stage
    * both torn AND past its debt threshold prescribes recover first
    * (debt probes refuse torn stages), and only the post-recover
    * re-probe can see the debt — pass 2 runs the revealed compaction.
    * `build` is prescribed but never executed (rebuilding needs the
    * corpus, which is the operator's call, not the dashboard's).
    *
    * Returns one row per probe: (name, kind, action — the executed
    * action chain, "+"-joined across passes, or the non-executable
    * prescription; applied; error — "" or the refusal message; then the
    * post-heal `stage_exists`/`needs_compact`/`healthy`/`heal` from a
    * final re-probe). After a clean apply, every existing stage's
    * remaining prescription is "".
    */
  def heal(spark: SparkSession, probes: Seq[Probe],
           apply: Boolean = false): DataFrame = {
    val acted = scala.collection.mutable.Map[String, List[String]]()
      .withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, String]()
    def runOne(pr: Probe, action: String): Unit =
      try {
        action match {
          case "Retrieval.recoverPostings" =>
            Retrieval.recoverPostings(spark, pr.path)
          case "Retrieval.recoverWindows" =>
            Retrieval.recoverWindows(spark, pr.path)
          case "IvfIndex.recover" => IvfIndex.recover(pr.path)
          case "GraphAnnIndex.recover" => GraphAnnIndex.recover(pr.path)
          case "VectorStore.recover" => VectorStore.recover(pr.path)
          case "Dedup.recoverSignatures" => Dedup.recoverSignatures(pr.path)
          case "Pq.retain" =>
            // retain down to the probe's live-publication budget: the
            // dashboard flags live > threshold, so keeping floor(threshold)
            // publications clears the flag with maximal rollback history
            val keep = math.max(1L,
              (if (pr.compactThreshold.isNaN) 3.0
               else pr.compactThreshold).toLong)
            Pq.retain(pr.path, keep)
          case "compact" => pr.kind match {
            case "postings" => Retrieval.compactPostings(spark, pr.path)
            case "windows" => Retrieval.compactWindows(spark, pr.path)
            case "ivf" => IvfIndex.compact(spark, pr.path)
            case "graph_ann" => GraphAnnIndex.compact(spark, pr.path)
            case k => throw new IllegalStateException(
              s"no compaction entry for kind '$k'")
          }
          case other => throw new IllegalStateException(
            s"unknown heal action '$other'")
        }
        acted(pr.name) = acted(pr.name) :+ action
      } catch { case e: Exception =>
        errors(pr.name) = s"$action: ${e.getMessage}".take(200)
      }
    val byName = probes.map(p => p.name -> p).toMap
    val plan0 = health(spark, probes).collect()
      .map(r => r.getString(0) -> r.getString(7)).toMap
    if (apply) {
      var pending = plan0.filter { case (n, a) =>
        a.nonEmpty && a != "build" && !errors.contains(n) }
      var pass = 0
      while (pending.nonEmpty && pass < 2) {
        pending.foreach { case (n, a) => runOne(byName(n), a) }
        pass += 1
        pending =
          if (pass >= 2) Map.empty
          else health(spark, probes.filter(p => pending.contains(p.name)))
            .collect().map(r => r.getString(0) -> r.getString(7)).toMap
            .filter { case (n, a) =>
              a.nonEmpty && a != "build" && !errors.contains(n) }
      }
    }
    val after = health(spark, probes).collect()
      .map(r => r.getString(0) -> r).toMap
    val rows = probes.map { pr =>
      val executed = acted(pr.name)
      val action =
        if (executed.nonEmpty) executed.mkString("+") else plan0(pr.name)
      val a = after(pr.name)
      (pr.name, pr.kind, action, executed.nonEmpty,
        errors.getOrElse(pr.name, ""), a.getBoolean(2), a.getBoolean(5),
        a.getBoolean(6), a.getString(7))
    }
    spark.createDataFrame(rows).toDF("name", "kind", "action", "applied",
      "error", "stage_exists", "needs_compact", "healthy", "heal")
  }
}
