package perfbench

import java.nio.file.Path
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.gold.Gold
import graft.parse.Silver
import graft.sources.Writers

/** The paper's weekly medallion batch, driven through `graft.Pipeline.run`.
  *
  *  - `pipeline_cold`: every op is a full build (`incremental = false`) of
  *    the seeded bronze corpus into an empty output root.
  *  - `pipeline_weekly`: set-up builds the lake once; every op drops the
  *    next week's draw file into bronze and runs `incremental = true`.
  *    Deliveries come in blocks of [[Block]] weeks, one of them malformed
  *    at a seeded position, so the aborted share is exactly 1/[[Block]].
  *
  * A traced op replays `Pipeline.run`'s stage sequence through the same
  * public functions with a span around each call; untraced ops call
  * `Pipeline.run` itself. Traced runs alternate the two, so the tracing
  * overhead is measured in the same run.
  */
final class PipelineBench(ctx: Ctx, spark: SparkSession, trace: Option[Trace]) {
  import PipelineBench._

  private val bronze = ctx.work.resolve("bronze")
  private val glob = s"$bronze/year=*/sorteo=*/*.txt"
  private var bronzeBytes = 0L
  private var truth = Vector.empty[BronzeGen.Truth]

  private val lake = ctx.work.resolve("lake")
  private val ops = ArrayBuffer.empty[Op]
  private val lakeRatio = ArrayBuffer.empty[Double]
  private var lakeBuild = 0.0
  private var failRate = 0.0
  private var lastError: Exception = _
  /** Bronze files the last traced op's scan listed. */
  private var scannedFiles = 0L

  /** Write the seeded bronze corpus and its ground-truth sidecar. */
  def generate(): Unit = {
    val (t, bytes) = BronzeGen.corpus(bronze, ctx.seed, Weeks, Prizes)
    truth = t.toVector; bronzeBytes = bytes
    BronzeGen.writeSidecar(ctx.work.resolve("truth.tsv"), truth)
  }

  /** Generate bronze and build the lake the weekly deliveries extend. */
  def prepareWeekly(): Unit = {
    generate()
    val t0 = System.nanoTime()
    graft.Pipeline.run(spark, glob, lake.toString, incremental = false)
    lakeBuild = (System.nanoTime() - t0) / 1e9
  }

  /** One closed-loop op: the timed pipeline call, then (untimed) its
    * silver/disk bookkeeping and output check.
    */
  private def runOp(out: Path, incremental: Boolean, traced: Boolean): Op = {
    val id = ops.size.toLong + 1
    val silver = out.resolve("silver")
    val (files0, bytes0) = Checks.files(silver, ".parquet")
    val parts0 = Checks.files(silver.resolve("sorteos"), ".parquet")._1
    val t0 = System.nanoTime()
    val ok =
      try {
        if (traced) replay(trace.get, id, out, incremental)
        else graft.Pipeline.run(spark, glob, out.toString, incremental)
        true
      } catch { case e: Exception => lastError = e; false }
    val seconds = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] op $id ${if (ok) "ok" else "aborted"} $seconds%.3f s")
    val (files1, bytes1) = Checks.files(silver, ".parquet")
    val parts1 = Checks.files(silver.resolve("sorteos"), ".parquet")._1
    val disk = Map(
      "sources.silver_files_written" -> (files1 - files0).toDouble,
      "sources.silver_bytes_written" -> (bytes1 - bytes0).toDouble,
      "parse.useful_files" -> (parts1 - parts0).toDouble)
    val op = Op(id, seconds, ok, traced, disk ++ (if (traced) layersOf(id, seconds) else Map.empty))
    ops += op
    op
  }

  private def check(out: Path, o: Outcome, what: String): Unit = {
    val bad = Checks.lakeMatches(spark, out, truth)
    if (bad.nonEmpty) o.fail(s"$what: ${bad.mkString("; ")}")
  }

  /** `pipeline_cold`: blocks of [[ColdBlock]] full builds into an empty
    * root until the window is used (at least one block). Nothing warms the
    * pipeline up first: the first, slowest build of the JVM is trimmed from
    * `op_iqm_s` and counted in `pass_s`.
    */
  def cold(o: Outcome): Unit = {
    val out = lake
    val start = System.nanoTime()
    val passes = ArrayBuffer.empty[Double]
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      var passSeconds = 0.0
      for (i <- 0 until ColdBlock) {
        Checks.deleteTree(out)
        val op = runOp(out, incremental = false, traced = trace.isDefined && i % 2 == 1)
        passSeconds += op.seconds
        o.attempted += 1
        if (!op.ok) o.opFailed(s"cold build failed: $lastError")
        else check(out, o, s"cold op ${op.id}")
        lakeRatio += lakeBytes(out)
      }
      passes += passSeconds
    }
    Checks.deleteTree(out)
    o.metric("op_iqm_s", Stats.iqm(ops.filter(_.ok).map(_.seconds).toSeq), "s")
    o.metric("pass_s", Stats.median(passes.toSeq), "s")
    finishLayers(o, firstInJvm = ops.head.id)
  }

  private def lakeBytes(out: Path): Double =
    (Checks.files(out.resolve("silver"))._2 + Checks.files(out.resolve("gold"))._2).toDouble /
      bronzeBytes

  /** `pipeline_weekly`: deliver blocks of weeks to the lake until
    * the window is used (at least one block). Ends with the gold check
    * against a full rebuild over the same bronze.
    */
  def weekly(o: Outcome): Unit = {
    val out = lake
    val start = System.nanoTime()
    val passes = ArrayBuffer.empty[Double]
    var week = Weeks
    var block = 0
    var aborted = 0
    while (block == 0 || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val bad = new java.util.SplittableRandom(ctx.seed * 31 + block).nextInt(Block)
      var passSeconds = 0.0
      for (k <- 0 until Block) {
        val d =
          if (k == bad) BronzeGen.malformed(ctx.seed, week)
          else BronzeGen.draw(ctx.seed, week, Prizes)
        bronzeBytes += BronzeGen.write(bronze, d)
        d.truth.foreach(t => truth :+= t)
        val op = runOp(out, incremental = true, traced = trace.isDefined && k % 2 == 0)
        passSeconds += op.seconds
        o.attempted += 1
        if (!op.ok) {
          if (d.truth.isEmpty) {
            // today a malformed delivery aborts the week; the operator
            // removes the file so the next week can run
            aborted += 1
            bronzeBytes -= d.content.getBytes("UTF-8").length
            BronzeGen.remove(bronze, d)
          } else o.opFailed(s"week ${d.sorteo} failed: $lastError")
        }
        check(out, o, s"week ${d.sorteo}")
        week += 1
      }
      passes += passSeconds
      block += 1
    }
    BronzeGen.writeSidecar(ctx.work.resolve("truth.tsv"), truth)
    lakeRatio += lakeBytes(out)
    // the incrementally maintained gold must equal a full rebuild
    val full = ctx.work.resolve("rebuild")
    graft.Pipeline.run(spark, glob, full.toString, incremental = false)
    val (inc, reb) = (Checks.goldDigest(spark, out), Checks.goldDigest(spark, full))
    if (inc != reb) o.fail(s"incremental gold differs from a full rebuild: $inc vs $reb")
    failRate = aborted.toDouble / o.attempted
    val good = ops.filter(_.ok).map(_.seconds).toSeq
    o.metric("op_iqm_s", Stats.iqm(good), "s")
    o.metric("pass_s", Stats.median(passes.toSeq), "s")
    finishLayers(o, firstInJvm = 0)
  }

  /** Per-layer figures: medians over successful (traced) ops. The op
    * `firstInJvm` is left out of the overhead comparison.
    */
  private def finishLayers(o: Outcome, firstInJvm: Long): Unit = {
    val good = ops.filter(_.ok)
    def med(k: String, sel: Seq[Op] = good.filter(_.traced).toSeq) =
      Stats.median(sel.flatMap(_.layers.get(k)))
    val scanned = good.filter(_.traced).flatMap(_.layers.get("parse.files_scanned"))
    o.layer("parse.scan_parse_s", med("parse.scan_parse_s"), "s")
    o.layer("parse.files_scanned", Stats.median(scanned.toSeq), "count")
    o.layer("parse.useful_file_ratio", Stats.median(good.filter(_.traced).toSeq.flatMap(op =>
      op.layers.get("parse.files_scanned").filter(_ > 0).map(op.layers("parse.useful_files") / _))), "ratio")
    o.layer("parse.skip_processed_s", med("parse.skip_processed_s"), "s")
    o.layer("sources.silver_discovery_s", med("sources.silver_discovery_s"), "s")
    o.layer("sources.silver_write_s", med("sources.silver_write_s"), "s")
    o.layer("sources.silver_files_written", med("sources.silver_files_written", good.toSeq), "count")
    o.layer("sources.silver_bytes_written", med("sources.silver_bytes_written", good.toSeq), "bytes")
    o.layer("sources.lake_bytes_per_input_byte", Stats.median(lakeRatio.toSeq), "ratio")
    Checks.GoldTables.foreach(t => o.layer(s"gold.${t}_s", med(s"gold.${t}_s"), "s"))
    o.layer("gold.stage_s", med("gold.stage_s"), "s")
    o.layer("gold.readback_s", med("gold.readback_s"), "s")
    o.layer("pipeline.unattributed_s", med("pipeline.unattributed_s"), "s")
    o.layer("pipeline.fail_rate", failRate, "ratio")
    o.layer("pipeline.lake_build_s", lakeBuild, "s")
    val (tr, pl) = good.filter(_.id != firstInJvm).partition(_.traced)
    val (traced, plain) = (tr.map(_.seconds).toSeq, pl.map(_.seconds).toSeq)
    if (traced.nonEmpty && plain.nonEmpty)
      o.layer("trace.overhead_s", Stats.median(traced) - Stats.median(plain), "s")
    trace.foreach(t => o.sparkCounters(t, good.filter(_.traced).map(_.id).toSet, traced))
  }

  /** Sum of each layer's spans in op `id`, the files the scan listed, and
    * the op time no top-level span covers.
    */
  private def layersOf(id: Long, seconds: Double): Map[String, Double] = {
    val t = trace.get
    val spans = t.all.filter(_.op == id)
    val root = spans.find(_.name == "pipeline.op").map(_.id).getOrElse(-1L)
    val byName = spans.filter(_.name != "pipeline.op").groupBy(_.name)
      .map { case (n, ss) => s"${n}_s" -> ss.map(_.seconds).sum }
    val topLevel = spans.filter(_.parent == root).map(_.seconds).sum
    byName ++ Map(
      "pipeline.unattributed_s" -> (seconds - topLevel),
      "parse.files_scanned" -> scannedFiles.toDouble)
  }

  /** `graft.Pipeline.run`, stage by stage, with a span around each call
    * into `parse/`, `sources/` and `gold/`.
    */
  private def replay(t: Trace, op: Long, out: Path, incremental: Boolean): Unit =
    t.span("pipeline.op", op) {
      val silverSorteos = s"$out/silver/sorteos"
      val silverPremios = s"$out/silver/premios"
      val raw0 = t.span("parse.scan_parse", op) {
        try Silver.rawDraws(spark, glob)
        catch {
          case e: org.apache.spark.sql.AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
            import spark.implicits._
            spark.emptyDataset[(String, String)]
        }
      }
      scannedFiles = raw0.inputFiles.length
      val raw =
        if (incremental) {
          val processed = t.span("sources.silver_discovery", op) {
            Silver.processedSorteos(spark, silverSorteos)
          }
          t.span("parse.skip_processed", op) {
            Silver.skipProcessed(raw0, processed).localCheckpoint()
          }
        } else raw0
      val draws = t.span("parse.scan_parse", op) { Silver.parseDraws(raw).localCheckpoint() }
      try {
        if (t.span("parse.scan_parse", op) { !draws.isEmpty })
          t.span("sources.silver_write", op) {
            Writers.writeSilverPartitioned(Silver.sorteos(draws).toDF(), silverSorteos)
            Writers.writeSilverPartitioned(Silver.premios(draws).toDF(), silverPremios)
          }
      } finally {
        draws.unpersist()
        if (incremental) raw.unpersist()
      }
      val fs = new org.apache.hadoop.fs.Path(silverSorteos)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(silverSorteos))) {
        val (sorteos, premios) = t.span("sources.silver_discovery", op) {
          (spark.read.parquet(silverSorteos), spark.read.parquet(silverPremios))
        }
        Writers.registerSilver(sorteos, premios)
        t.span("gold.stage", op) {
          val stage = t.current
          val pool = Executors.newFixedThreadPool(graft.Pipeline.GoldConcurrency)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          try {
            val futures = Gold.builders.toSeq.map { case (name, build) =>
              Future {
                t.span(s"gold.$name", op, stage) {
                  val df = build(sorteos, premios)
                  Writers.writeGold(df, s"$out/gold/$name", PartitionedGold(name))
                }
                t.span("gold.readback", op, stage) {
                  spark.read.parquet(s"$out/gold/$name").count()
                }
              }
            }
            Await.result(Future.sequence(futures), Duration.Inf)
          } finally pool.shutdown()
        }
      }
    }
}

object PipelineBench {
  /** Per-op record: wall seconds, success, traced, and layer figures. */
  final case class Op(id: Long, seconds: Double, ok: Boolean, traced: Boolean,
      layers: Map[String, Double])

  /** Bronze size: half a year of weekly draws. */
  val Weeks = 26
  val Prizes = 400
  /** One malformed delivery in every block of this many weeks. */
  val Block = 5
  /** Cold builds per pass; the first one in a JVM is the slowest. */
  val ColdBlock = 4
  /** Gold tables `graft.Pipeline.run` writes partitioned by year. */
  val PartitionedGold = Set("gold_geo_winnings", "gold_vendor_leaderboard", "gold_time_series")
}
