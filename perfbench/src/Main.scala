package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metrics and verdicts of one benchmark run. */
final class Result {
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val info = mutable.LinkedHashMap.empty[String, String]

  // op and check are called from the stream_ingest reader thread too
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }
  def check(ok: Boolean, what: => String): Unit = synchronized { if (!ok) errors += what }
  def e2e(name: String, v: Double, unit: String, n: Int): Unit = {
    endToEnd(name) = (v, unit); samples(name) = n
  }
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --run-dir <dir> --source-root <dir>`.
  *
  * Prints a report line (sample counts, run config, errors) and then, as the
  * last line, `{"correct", "attempted", "failed", "metrics"}` with every
  * end-to-end metric (`--trace 0`) or every per-layer metric (`--trace 1`).
  */
object Main {

  /** Session settings of `graft.Bench`. The benchmark asserts at start-up
    * that its session runs with exactly these, and that `Bench.scala` still
    * sets them, so its numbers stay comparable with the coverage sweep.
    */
  def benchConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "128",
    "spark.ui.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val runDir = need("run-dir")
    val sourceRoot = need("source-root")
    if (!Workloads.names.contains(workload)) {
      System.err.println(s"unknown workload $workload; expected one of ${Workloads.names.mkString(", ")}")
      sys.exit(2)
    }
    require(sys.props("java.io.tmpdir").startsWith(runDir),
      s"java.io.tmpdir ${sys.props("java.io.tmpdir")} is not inside the run directory $runDir")

    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    benchConfs(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Log(f"session up in $sessionS%.2fs")

    val res = new Result
    val benchSrc = java.nio.file.Paths.get(sourceRoot, "src/main/scala/graft/Bench.scala")
    val benchText = new String(java.nio.file.Files.readAllBytes(benchSrc), "UTF-8")
    benchConfs(cpus).foreach { case (k, v) =>
      res.check(spark.conf.get(k) == v, s"session conf $k=${spark.conf.get(k)}, expected $v")
      res.check(benchText.contains("\"" + k + "\"") &&
        (k == "spark.sql.shuffle.partitions" || benchText.contains("\"" + v + "\"")),
        s"graft.Bench no longer sets $k to $v")
    }
    res.info ++= Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (traced) "1" else "0"), "cpus" -> cpus.toString,
      "driver_max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> sys.props("java.version"),
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "confs" -> benchConfs(cpus).map { case (k, v) => s"$k=$v" }.mkString(";"))

    val tr = new Trace(spark)
    try Workloads.run(workload, spark, tr, res, seed, seconds, traced, runDir, sourceRoot, sessionS)
    catch {
      case e: Throwable =>
        res.errors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      tr.close()
      spark.stop()
    }

    Log("done")
    val ok = res.errors.isEmpty && res.failed == 0
    def json(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    def metrics(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${json(k)}: {\"value\": ${num(v)}, \"unit\": ${json(u)}}" }
        .mkString("{", ", ", "}")
    println("{\"report\": {" + Seq(
      "info" -> res.info.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ", ", "}"),
      "samples" -> res.samples.map { case (k, v) => s"${json(k)}: $v" }.mkString("{", ", ", "}"),
      "end_to_end" -> metrics(res.endToEnd),
      "per_layer" -> metrics(res.perLayer),
      "errors" -> res.errors.map(json).mkString("[", ", ", "]")
    ).map { case (k, v) => s"${json(k)}: $v" }.mkString(", ") + "}}")
    val shown = if (traced) res.perLayer else res.endToEnd
    println(s"{\"correct\": $ok, \"attempted\": ${res.attempted}, \"failed\": ${res.failed}, " +
      s"\"metrics\": ${metrics(shown)}}")
    System.out.flush()
    sys.exit(0)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v") else v.toString
}
