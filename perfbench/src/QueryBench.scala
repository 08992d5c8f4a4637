package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `queries_sf01`: one-shot analytics queries from `graft.SparkEntry.queries`
  * over the vendored TPC-H-like tables, each timed as builder call plus
  * `collect()`, with `clearCache()` before it so it pays its own cache
  * fills. The result's row count and content hash are checked against the
  * expected file after the clock stops.
  */
final class QueryBench(ctx: Ctx, spark: SparkSession, trace: Option[Trace]) {
  import QueryBench._

  private val dataDir = ctx.root.resolve(DataDir).toString
  private val expected = readExpected(ctx.root.resolve(ExpectedFile))
  private val builders = graft.SparkEntry.queries

  /** The timed set: a fixed share of every module's checkable queries,
    * picked by a hash of the name (never by the seed), in seeded order.
    */
  val timed: Seq[Entry] = {
    val picked = expected.filter(_.status == "ok").groupBy(_.module).values.flatMap { es =>
      es.sortBy(e => sha(e.name)).take((es.size + Every - 1) / Every)
    }.toSeq.sortBy(_.name)
    new scala.util.Random(ctx.seed).shuffle(picked)
  }

  /** Run one query; returns its timing and checks its result. */
  private def runOne(e: Entry, t: Option[Trace], op: Long, o: Outcome): Q = {
    spark.catalog.clearCache()
    val fn = builders.getOrElse(e.name, sys.error(s"query ${e.name} is not in SparkEntry.queries"))
    def span[T](n: String)(b: => T): (T, Long) = t match {
      case Some(tr) => var id = 0L; val v = tr.span(n, op) { id = tr.current; b }; (v, id)
      case None => (b, 0L)
    }
    val t0 = System.nanoTime()
    val (df, b) = span(s"query.${e.module}.build") { fn(spark, dataDir) }
    val t1 = System.nanoTime()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val (rows, x) = span(s"query.${e.module}.exec") { df.collect() }
    val t2 = System.nanoTime()
    val got = (rows.length.toLong, Checks.contentHash(rows))
    if (got != (e.rows, e.hash)) o.fail(s"${e.name}: rows/hash $got, expected ${(e.rows, e.hash)}")
    System.err.println(f"[perfbench] ${e.name} build ${(t1 - t0) / 1e9}%.3f s exec ${(t2 - t1) / 1e9}%.3f s")
    Q(e.name, e.module, (t1 - t0) / 1e9, (t2 - t1) / 1e9, 0L, persisted, Seq(b, x))
  }

  /** One pass over the timed set; with a trace, the queries whose index
    * has the given parity run traced and the others plain.
    */
  private def pass(t: Option[Trace], parity: Int, o: Outcome): Seq[(Q, Boolean)] =
    timed.zipWithIndex.map { case (e, i) =>
      val traced = t.isDefined && i % 2 == parity
      val q = runOne(e, if (traced) t else None, i + 1L, o)
      o.attempted += 1
      (q, traced)
    }

  /** Untraced: whole passes until the window is used. Traced: two passes
    * in which every query runs once traced and once plain, alternating by
    * position, so the warm-up of the first pass falls on both sides.
    */
  def run(o: Outcome): Unit = trace match {
    case None =>
      val start = System.nanoTime()
      val passes = ArrayBuffer.empty[Seq[Q]]
      while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.seconds)
        passes += pass(None, 0, o).map(_._1)
      val all = passes.flatten.map(_.seconds).toSeq
      o.metric("op_iqm_s", Stats.iqm(all), "s")
      o.metric("pass_s", Stats.median(passes.map(_.map(_.seconds).sum).toSeq), "s")
    case Some(t) =>
      val both = pass(trace, 0, o) ++ pass(trace, 1, o)
      val plain = both.collect { case (q, false) => q }
      t.drain()
      val tracedQ = both.collect { case (q, true) =>
        q.copy(buildJobs = t.countersFor(q.spanIds.head).jobs)
      }
      Modules.foreach { m =>
        val qs = tracedQ.filter(_.module == m)
        o.layer(s"query.$m.build_s", qs.map(_.build).sum, "s")
        o.layer(s"query.$m.exec_s", qs.map(_.exec).sum, "s")
        o.layer(s"query.$m.build_jobs", qs.map(_.buildJobs).sum.toDouble, "count")
      }
      val total = tracedQ.map(_.seconds).sum
      o.layer("query.build_share", tracedQ.map(_.build).sum / total, "ratio")
      o.layer("query.persisted_after_build", tracedQ.map(_.persisted).sum.toDouble, "count")
      o.layer("query.p50_s", Stats.median(tracedQ.map(_.seconds)), "s")
      o.layer("query.p90_s", Stats.quantile(tracedQ.map(_.seconds), 0.9), "s")
      o.layer("query.floor_s", floor(), "s")
      o.layer("trace.overhead_s", total - plain.map(_.seconds).sum, "s")
      o.sparkCounters(t, (1L to timed.size.toLong).toSet, tracedQ.map(_.seconds))
  }

  /** Median time of an already-planned trivial job. */
  private def floor(): Double = {
    spark.range(1).count()
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); spark.range(1).count(); (System.nanoTime() - t0) / 1e9
    })
  }

  /** Set-up work the engine does before the first query: open every
    * table and run the flagship query.
    */
  def warm(): Unit = {
    graft.Tables.names.foreach(n => graft.Tables.load(spark, dataDir, n).schema)
    graft.SparkEntry.entry(spark, dataDir).collect()
  }
}

object QueryBench {
  val DataDir = "perfbench/data/sf0.01"
  val ExpectedFile = "perfbench/expected/queries_sf0.01.tsv"
  /** One in this many of each module's checkable queries is timed. */
  val Every = 16

  /** Defining objects, in the order the per-layer metrics are listed. */
  val Modules: Seq[String] = Seq("Relational", "Analytics", "Windows", "Temporal", "Stats",
    "TextOps", "Similarity", "Retrieval", "Curation", "Privacy", "CrossCorpus", "streaming",
    "multimodal", "fixture")

  /** Queries that materialize fixture silver to a fixed directory outside
    * the working tree; the benchmark only reads and writes inside it.
    */
  val WritesOutside: Set[String] = Set("q62_gold_draw_summary", "q64_facade_top_vendors",
    "q65_facade_winning_odds", "q66_goldsql_draw_summary", "q67_goldsql_number_frequency",
    "q68_goldsql_terminations", "q69_goldsql_letters", "q70_goldsql_geo_winnings",
    "q71_goldsql_vendor_leaderboard", "q72_goldsql_time_series")

  private val Multimodal = Set("q63_multimodal_features", "q110_frame_sample")

  final case class Entry(name: String, module: String, rows: Long, hash: String,
      status: String, reason: String)

  /** One timed query: builder and `collect()` seconds, the jobs its
    * builder ran and the RDDs it left persisted.
    */
  final case class Q(name: String, module: String, build: Double, exec: Double,
      buildJobs: Long, persisted: Int, spanIds: Seq[Long]) {
    def seconds: Double = build + exec
  }

  def moduleOf(name: String): String = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "Analytics" -> Analytics.queries,
      "Windows" -> Windows.queries, "Temporal" -> Temporal.queries, "Stats" -> Stats.queries,
      "TextOps" -> TextOps.queries, "Similarity" -> Similarity.queries,
      "Retrieval" -> Retrieval.queries, "Curation" -> Curation.queries,
      "Privacy" -> Privacy.queries, "CrossCorpus" -> CrossCorpus.queries,
      "streaming" -> graft.streaming.Events.queries)
      .collectFirst { case (m, qs) if qs.contains(name) => m }
      .getOrElse(if (Multimodal(name)) "multimodal" else "fixture")
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def readExpected(p: Path): Seq[Entry] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.startsWith("name\t") || l.isBlank)
      .map { l =>
        val f = l.split("\t", -1)
        Entry(f(0), f(1), f(2).toLong, f(3), f(4), f(5))
      }

  /** Record the expected file: every query of `SparkEntry.queries` runs
    * twice on a fresh cache; a query whose two results differ is marked
    * nondeterministic, and queries that would write outside the working
    * tree are marked excluded.
    */
  def record(spark: SparkSession, root: Path, out: Path): Unit = {
    val dir = root.resolve(DataDir).toString
    def once(fn: (SparkSession, String) => DataFrame): (Long, String) = {
      spark.catalog.clearCache()
      val rows = fn(spark, dir).collect()
      (rows.length.toLong, Checks.contentHash(rows))
    }
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val m = moduleOf(name)
      if (WritesOutside(name)) s"$name\t$m\t0\t-\texcluded\twrites fixture silver outside the working tree"
      else scala.util.Try((once(fn), once(fn))) match {
        case scala.util.Success(((r1, h1), (r2, h2))) =>
          if (r1 == r2 && h1 == h2) s"$name\t$m\t$r1\t$h1\tok\t"
          else s"$name\t$m\t$r1\t$h1\tnondeterministic\ttwo runs on the same input differ ($h1 vs $h2)"
        case scala.util.Failure(e) =>
          s"$name\t$m\t0\t-\terror\t${Option(e.getMessage).getOrElse(e.toString).linesIterator.next().take(120)}"
      }
    }
    Files.createDirectories(out.getParent)
    Files.write(out, ("name\tmodule\trows\thash\tstatus\treason" +: lines)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
