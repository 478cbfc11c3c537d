package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

class GraphSpec extends SparkSpec {

  test("pagerank on a symmetric triangle is uniform") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.pagerank(edges, iters = 3).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(r.size == 3)
    // fully symmetric graph: all nodes identical rank ≈ 1/3
    assert(r.values.toSet.size == 1)
    assert(math.abs(r(1L) - 1.0 / 3) < 1e-9)
  }

  test("pagerank ranks a star center above its leaves") {
    import spark.implicits._
    val e0 = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.pagerank(edges, iters = 3).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert((2L to 6L).forall(i => r(1L) > r(i)))
    // leaves are symmetric — identical ranks
    assert((2L to 6L).map(r).toSet.size == 1)
  }

  test("pagerank mass is conserved up to truncation loss") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val total = Graph.pagerank(edges, iters = 3)
      .agg(sum($"r")).head().getDouble(0)
    // each per-edge truncation loses < 1e-15 of mass per round
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("pagerank conserves mass through dangling nodes") {
    import spark.implicits._
    // directed chain 1→2→3: node 3 is a sink; without redistribution
    // d = 0.85 of its rank would leak every round
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rows = Graph.pagerank(edges, iters = 4).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), "sink-only nodes are ranked")
    assert(math.abs(rows.values.sum - 1.0) < 1e-9, s"mass conserved: $rows")
    // the chain's end accumulates more rank than its start
    assert(rows(3L) > rows(1L))
  }

  test("dangling-path pagerank is deterministic across repartitionings") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst") // node 4 dangles
    def run(parts: Int) = Graph.pagerank(edges.repartition(parts), iters = 3)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(run(1) == run(7)) // bit-identical, not just approximately equal
  }

  test("personalized pagerank confines rank to the seed's component") {
    import spark.implicits._
    // triangle 1-2-3 (seeded at 1) ∪ disconnected triangle 10-11-12:
    // without global teleport, the unseeded component must get ZERO mass
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(1L).toDF("id")
    val r = Graph.pagerankPersonalized(edges, seeds, iters = 4)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(Seq(10L, 11L, 12L).forall(r(_) == 0.0),
      s"unseeded component must hold no mass: $r")
    assert(r(1L) > r(2L) && r(2L) == r(3L), s"seed ranks highest: $r")
    // mass conserved within the seeded component (up to truncation)
    assert(math.abs(r(1L) + r(2L) + r(3L) - 1.0) < 1e-9)
  }

  test("personalized pagerank: lineage cut is bit-identical, staged too") {
    import spark.implicits._
    import graft.operators.Stage
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(1L, 4L).toDF("id")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    // iters > checkpointEvery forces cuts inside the loop: ranks must be
    // bit-identical to the uncut composition and to the durable cut
    val uncut = asMap(Graph.pagerankPersonalized(edges, seeds, iters = 5,
      checkpointEvery = 100))
    val cut = asMap(Graph.pagerankPersonalized(edges, seeds, iters = 5,
      checkpointEvery = 2))
    assert(uncut == cut)
    val dir = java.nio.file.Files.createTempDirectory("ppr_stage").toString
    val staged = asMap(Graph.pagerankPersonalized(edges, seeds, iters = 5,
      checkpointEvery = 2, stage = Stage.Parquet(dir)))
    assert(uncut == staged)
  }

  test("personalized pagerank rejects an empty effective seed set") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.pagerankPersonalized(e0, Seq(99L).toDF("id"), iters = 2)
    }
    assert(ex.getMessage.contains("seed set is empty"))
  }

  test("parquet-staged pagerank is bit-identical to the in-memory cut") {
    import spark.implicits._
    import graft.operators.Stage
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
      .unionAll(Seq((4L, 9L)).toDF("src", "dst")) // 9 has no out-edge: dangles
    val dir = java.nio.file.Files.createTempDirectory("pr_stage").toString
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    val local = asMap(Graph.pagerank(edges, iters = 3, stage = Stage.Local))
    val staged = asMap(Graph.pagerank(edges, iters = 3, stage = Stage.Parquet(dir)))
    assert(local == staged) // bit-identical across cut strategies
  }

  test("pagerank is deterministic across repartitionings") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    def run(parts: Int) = Graph.pagerank(edges.repartition(parts), iters = 3)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(run(1) == run(7)) // bit-identical, not just approximately equal
  }

  test("converged pagerank stops early and matches the fixed-round run") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L))
      .toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    // loose tolerance: must stop before the 20-round cap
    val out = Graph.pagerankConverged(edges, maxIters = 20, tolFp = 10_000_000_000_000L)
    val k = out.select($"iters_run").head().getInt(0)
    assert(k > 0 && k < 20, s"early stop expected, ran $k")
    assert(out.select($"iters_run").distinct().count() == 1)
    // the converged ranks are bit-identical to pagerank unrolled k rounds
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"r").collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(asMap(out) == asMap(Graph.pagerank(edges, iters = k)))
    // delta is exact integer math → the stop round is partitioning-stable
    val k2 = Graph.pagerankConverged(edges.repartition(7), maxIters = 20,
      tolFp = 10_000_000_000_000L).select($"iters_run").head().getInt(0)
    assert(k2 == k)
  }

  test("triangle count: K4, path, and hub graphs") {
    import spark.implicits._
    def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = Graph.triangleCount(edges.toDF("src", "dst")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // K4: 6 edges, 4 triangles
    val k4 = for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j)
    assert(tri(k4) == ((6L, 4L, 4L)))
    // path 1-2-3-4: 3 edges, no triangles
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L)))._3 == 0L)
    // star hub + one rim edge: exactly 1 triangle, wedges stay linear in
    // rim size (degree orientation points rim→hub, so the hub is never a
    // wedge apex over its whole neighborhood)
    val star = (2L to 30L).map(i => (1L, i)) :+ (2L, 3L)
    val (e, w, t) = tri(star)
    assert(e == 30L && t == 1L)
    assert(w < 60L, s"degree orientation must keep hub wedges bounded, got $w")
    // duplicate/reversed/self edges canonicalize away
    assert(tri(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L))) ==
      ((3L, 1L, 1L)))
  }

  test("q_triangles: a degenerate hot order is dropped whole by the fan-out cap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hot_order").toString
    // order 1: triangle {1,2,3}; order 2: lone edge {4,5};
    // order 500: EXACTLY 64 parts — the cap boundary, must be KEPT;
    // order 999: 101 parts — over the cap, must contribute NOTHING
    // (uncapped it alone would add C(101,2)=5050 edges and C(101,3)
    // triangles — the quadratic container-key failure mode).
    val rows =
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L)) ++
        (0 until 64).map(i => (500L, 1000L + i)) ++
        (0 until 101).map(i => (999L, 5000L + i))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_triangles")(spark, dir).head()
    val (edges, tris) = (r.getLong(0), r.getLong(2))
    // kept: 3 (order 1) + 1 (order 2) + C(64,2)=2016 (order 500)
    assert(edges == 3L + 1L + 2016L, s"hot order leaked into edges: $edges")
    // kept: 1 (order 1) + C(64,3)=41664 (order 500)
    assert(tris == 1L + 41664L, s"hot order leaked into triangles: $tris")
  }

  test("label propagation finds the two cliques of a barbell graph") {
    import spark.implicits._
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3–10
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val out = Graph.labelPropagation(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 6)
    // each clique converges to one label, and the cliques stay distinct
    assert(Set(out(1L), out(2L)).size == 1)
    assert(Set(out(10L), out(11L), out(12L)).size == 1)
    assert(out(1L) != out(11L))
  }

  test("label propagation is deterministic across repartitionings") {
    import spark.implicits._
    val e0 = (1L to 40L).flatMap { i =>
      Seq((i, (i % 20) + 1), (i, ((i * 7) % 20) + 1))
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    def run(parts: Int) = Graph.labelPropagation(edges.repartition(parts),
      iters = 3).orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(2) == run(13))
  }

  test("converged pagerank hits the cap when tolerance is unreachable") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    // tolFp = -... is rejected; tolFp = 0 on an asymmetric-delta graph
    // may never hit — the uniform triangle converges EXACTLY (delta 0)
    // in one round, so use a line graph where truncation keeps jitter
    val l0 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val line = l0.unionAll(l0.select($"dst".as("src"), $"src".as("dst")))
    val out = Graph.pagerankConverged(line, maxIters = 3, tolFp = 0L)
    val k = out.select($"iters_run").head().getInt(0)
    assert(k == 3, s"cap expected, got $k") // line graph never reaches delta 0 in 3
  }

  // Stage.Local's re-exchange is kept deliberately (see its comment):
  // under AQE a localCheckpoint scans back without the partitioning of
  // the repartition before it, so a keyed round re-exchanges the cut.
  test("Stage.Local cut under AQE: keyed downstream plans a fresh hash exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Stage
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val base = spark.range(10000).select((col("id") % 100).as("k"), col("id").as("v"))
    val cut = Stage.Local.cut(base.repartition(col("k")), "stage_cut_probe")
    val downstream = cut.groupBy(col("k")).count()
    val nodes = planNodes(downstream)
    val scans = nodes.collect { case r: RDDScanExec => r }
    assert(scans.nonEmpty && scans.forall(_.outputPartitioning.isInstanceOf[UnknownPartitioning]),
      scans.map(_.outputPartitioning).mkString(", "))
    val hashExchanges = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashExchanges.size == 1, downstream.queryExecution.executedPlan.toString)
    assert(downstream.count() == 100)
  }
}
