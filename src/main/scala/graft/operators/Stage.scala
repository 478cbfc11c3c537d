package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-cut strategy for iterative operators (PageRank rounds,
  * connected-components label propagation). Both cuts bound the plan to
  * constant size across iterations; they differ in durability:
  *
  *  - [[Stage.Local]] pins the materialized blocks to executor memory
  *    (`localCheckpoint`) — fastest, but non-recoverable: losing an
  *    executor kills the job. The right default on local[n] and for
  *    short fixed-round runs.
  *  - [[Stage.Parquet]] lands each cut in a parquet stage and reads it
  *    back — the cluster path: lineage-free, spillable, survives executor
  *    loss, and restartable mid-iteration from the last stage (the same
  *    discipline the dedup family uses for staged signatures,
  *    cf. Dedup.stageMinhashSignatures). Costs a write+read per cut and
  *    drops any pre-shuffled outputPartitioning, so round joins re-shuffle
  *    the staged side; that exchange is the price of durability.
  */
sealed trait Stage {
  /** Materialize `df`, cutting its lineage. `name` must be unique per cut
    * site+round within one operator invocation.
    */
  def cut(df: DataFrame, name: String): DataFrame
}

object Stage {

  /** Executor-memory cut — local default.
    *
    * MEASURED CHOICE (r21): the plain localCheckpoint under AQE scans
    * back as `ExistingRDD, UnknownPartitioning(0)` — the adaptive plan's
    * final partitioning does not survive into the LogicalRDD — so every
    * downstream keyed round RE-EXCHANGES the pre-partitioned relation
    * (the executed q_pagerank_personalized plan carries one
    * `Exchange hashpartitioning(id, 32)` per iteration over the
    * checkpointed node set; GraphSpec's "Stage.Local cut under AQE" test
    * pins that shape, and plans/r21/q_pagerank_personalized_* show both
    * shapes). Removing
    * those exchanges by materializing the cut with AQE off was built and
    * A/B'd — and REGRESSED the whole iterative family ~1.4× at sf0.1
    * (pagerank 4.25→6.15 s, personalized 4.33→6.40, dangling 3.89→5.38,
    * dedup_clusters 2.93→3.91, corpus_build 9.8→14.1; same binary,
    * same-subset back-to-back): the preserved hash(key, 32) pins every
    * tiny per-round stage to the full session width, while AQE-coalesced
    * rounds run ~1–4 tasks and pay only a node-sized exchange — per-round
    * TASK overhead beats per-round exchange bytes until the rank/label
    * relations are large enough to fill the width. The re-exchange is
    * therefore kept deliberately: it is AQE sizing each round to the
    * data. At cluster scale the same tradeoff is governed by
    * [[Stage.Parquet]], which re-shuffles by declared design (the price
    * of durability), so preserving executor-memory partitioning buys
    * nothing on the 100 TB path either.
    */
  case object Local extends Stage {
    def cut(df: DataFrame, name: String): DataFrame = df.localCheckpoint()
  }

  /** Durable parquet-stage cut under `dir` — the 100 TB lever.
    *
    * A stage directory is SINGLE-RUN-OWNED: cut names are fixed per cut
    * site+round (`ppr_ranks_cut_3`, `km_cents_cut_2`, …), so two
    * concurrent runs sharing one `dir` would overwrite each other's cut
    * files mid-iteration. Allocate a fresh directory per run (as the
    * specs do with per-run temp dirs); that is also what makes a run
    * restartable from its own last stage.
    */
  final case class Parquet(dir: String) extends Stage {
    def cut(df: DataFrame, name: String): DataFrame = {
      val path = s"$dir/$name"
      df.write.mode("overwrite").parquet(path)
      df.sparkSession.read.parquet(path)
    }
  }
}
