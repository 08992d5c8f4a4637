package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Run settings. `root` is the checkout; `work` is this run's scratch
  * directory inside it.
  */
final case class Ctx(root: Path, work: Path, seed: Long, seconds: Double, trace: Boolean,
    cpus: Int)

/** What a run reports: attempted and failed ops, output problems, and named metrics. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  /** A wrong output: the run is not correct. */
  def fail(msg: String): Unit = problems += msg
  /** An op that did not complete when it should have. */
  def opFailed(msg: String): Unit = { failed += 1; fail(msg) }

  /** `spark.*` counters of the traced ops, per op. */
  def sparkCounters(t: Trace, ops: Set[Long], opSeconds: Seq[Double]): Unit = {
    t.drain()
    val c = t.totals(ops)
    val n = math.max(1, opSeconds.size).toDouble
    layer("spark.jobs", c.jobs / n, "count")
    layer("spark.stages", c.stages / n, "count")
    layer("spark.tasks", c.tasks / n, "count")
    layer("spark.executor_cpu_s", c.cpuNs / 1e9 / n, "s")
    layer("spark.gc_s", c.gcNs / 1e9 / n, "s")
    layer("spark.shuffle_read_bytes", c.shuffleRead / n, "bytes")
    layer("spark.shuffle_write_bytes", c.shuffleWrite / n, "bytes")
    layer("spark.spill_bytes", c.spill / n, "bytes")
    layer("spark.input_bytes", c.input / n, "bytes")
    layer("spark.output_bytes", c.output / n, "bytes")
    val wall = opSeconds.sum
    layer("spark.busy_ratio", if (wall > 0) c.runNs / 1e9 / (wall * Main.cores) else 0.0, "ratio")
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Interquartile mean: the mean of the middle half of the sorted values
    * (the middle one of three, the middle two of four). Robust to outliers
    * like the median, but it does not jump when two neighbours swap around
    * the middle.
    */
  def iqm(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val drop = (s.size + 1) / 4
      val mid = s.slice(drop, s.size - drop)
      mid.sum / mid.size
    }
}

/** Benchmark entry point, started by `perfbench/run.py`:
  * `perfbench.Main --root DIR --work DIR --cpus N --workload W --seed N
  * --seconds S --trace 0|1 --trace-out FILE`, or `--record FILE` to record
  * the expected query results. Prints one JSON result as the last stdout
  * line; exits 1 when an output check failed.
  */
object Main {
  val Workloads = Seq("pipeline_cold", "pipeline_weekly", "queries_sf01")
  /** Engine starts per run; `setup_s` is their median plus the workload's
    * one-off preparation.
    */
  val SetupReps = 3

  lazy val cores: Int = Runtime.getRuntime.availableProcessors()

  private var spark: SparkSession = _

  private def startSession(ctx: Ctx): SparkSession = {
    val s = graft.Session.builder(s"local[${ctx.cpus}]", ctx.cpus)
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stop any session, then time starting the engine's session and its
    * first (trivial) job.
    */
  private def restart(ctx: Ctx): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = startSession(ctx)
    spark.range(1).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("VmHWM not available"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opts("root")).toAbsolutePath
    val work = Paths.get(opts("work")).toAbsolutePath
    if (opts.contains("record")) {
      val ctx = Ctx(root, work, 0, 0, trace = false, opts("cpus").toInt)
      spark = startSession(ctx)
      QueryBench.record(spark, root, Paths.get(opts("record")))
      spark.stop()
      return
    }
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val ctx = Ctx(root, work, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts.getOrElse("cpus", cores.toString).toInt)
    val o = new Outcome
    val setups = mutable.ArrayBuffer.empty[Double]
    var prep = 0.0
    try {
      // set-up: engine start (median of SetupReps restarts) plus the
      // workload's one-off preparation, all before the first timed op
      for (_ <- 1 to SetupReps) setups += restart(ctx)
      val trace = if (ctx.trace) Some(new Trace(spark.sparkContext)) else None
      val t0 = System.nanoTime()
      if (workload == "queries_sf01") {
        val bench = new QueryBench(ctx, spark, trace)
        bench.warm()
        prep = (System.nanoTime() - t0) / 1e9
        bench.run(o)
        zeroLayers(o, PipelineLayers)
      } else {
        val bench = new PipelineBench(ctx, spark, trace)
        if (workload == "pipeline_cold") {
          bench.generate()
          prep = (System.nanoTime() - t0) / 1e9
          bench.cold(o)
        } else {
          bench.prepareWeekly()
          prep = (System.nanoTime() - t0) / 1e9
          bench.weekly(o)
        }
        zeroLayers(o, QueryLayers)
      }
      trace.foreach(_.dump(Paths.get(opts("trace-out"))))
      o.metric("setup_s", Stats.median(setups.toSeq) + prep, "s")
      o.layer("jvm.peak_rss_mb", peakRssMb(), "MB")
    } catch {
      case e: Throwable =>
        o.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally if (spark != null) spark.stop()

    o.problems.take(20).foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val shown = if (ctx.trace) o.layers else o.metrics
    val fields = shown.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
    val correct = o.problems.isEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1, o.attempted)},""" +
      s""""failed":${o.failed},"metrics":${fields.mkString("{", ",", "}")}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** Per-layer metrics of the layers a workload does not exercise. */
  val PipelineLayers: Seq[(String, String)] = Seq(
    "parse.scan_parse_s" -> "s", "parse.files_scanned" -> "count",
    "parse.useful_file_ratio" -> "ratio", "parse.skip_processed_s" -> "s",
    "sources.silver_discovery_s" -> "s", "sources.silver_write_s" -> "s",
    "sources.silver_files_written" -> "count", "sources.silver_bytes_written" -> "bytes",
    "sources.lake_bytes_per_input_byte" -> "ratio") ++
    Checks.GoldTables.map(t => s"gold.${t}_s" -> "s") ++ Seq(
    "gold.stage_s" -> "s", "gold.readback_s" -> "s", "pipeline.unattributed_s" -> "s",
    "pipeline.fail_rate" -> "ratio", "pipeline.lake_build_s" -> "s")

  val QueryLayers: Seq[(String, String)] =
    QueryBench.Modules.flatMap(m => Seq(s"query.$m.build_s" -> "s",
      s"query.$m.exec_s" -> "s", s"query.$m.build_jobs" -> "count")) ++ Seq(
    "query.build_share" -> "ratio", "query.persisted_after_build" -> "count",
    "query.p50_s" -> "s", "query.p90_s" -> "s", "query.floor_s" -> "s")

  private def zeroLayers(o: Outcome, names: Seq[(String, String)]): Unit =
    names.foreach { case (n, u) => if (!o.layers.contains(n)) o.layer(n, 0.0, u) }
}
