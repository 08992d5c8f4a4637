package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. They run after an operation's clock has stopped. */
object Checks {

  /** Gold table names in a fixed order. */
  val GoldTables: Seq[String] = graft.gold.Gold.builders.keys.toSeq.sorted

  /** Canonical text of one value: maps sorted by key, doubles by their
    * exact shortest repr, nested rows and arrays recursively.
    */
  def render(v: Any): String = v match {
    case null => "null"
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  /** Order-insensitive content hash of a result: SHA-256 over the sorted
    * canonical rows, first 16 hex digits.
    */
  def contentHash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Silver and gold agree with the generator's ground truth: the same set
    * of draws, prize rows per draw and exact `monto` cents per draw. Silver
    * `sorteos` is covered through gold, which joins it to every prize row.
    * Returns the mismatches (empty when correct).
    */
  def lakeMatches(spark: SparkSession, outRoot: Path, truth: Seq[BronzeGen.Truth]): Seq[String] = {
    val want = truth.map(t => t.sorteo -> ((t.prizes.toLong, t.montoCents))).toMap
    def cents(c: String) = sum(round(col(c) * 100).cast("long"))
    val silver = spark.read.parquet(outRoot.resolve("silver/premios").toString)
      .groupBy(col("sorteo").cast("long")).agg(count(lit(1)), cents("monto"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val gold = spark.read.parquet(outRoot.resolve("gold/gold_draw_summary").toString)
      .select(col("numero_sorteo"), col("total_premios"),
        round(col("total_monto") * 100).cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def diff(layer: String, got: Map[Long, (Long, Long)]): Seq[String] =
      if (got == want) Nil
      else (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
        .take(3).map(k => s"$layer sorteo=$k got=${got.get(k)} want=${want.get(k)}")
    diff("silver", silver) ++ diff("gold", gold)
  }

  /** Row count and an order-insensitive content hash (sum of per-row
    * xxhash64) of each gold table under `outRoot`, in one Spark job.
    */
  def goldDigest(spark: SparkSession, outRoot: Path): Map[String, (Long, Long)] =
    GoldTables.map { t =>
      val df = spark.read.parquet(outRoot.resolve(s"gold/$t").toString)
      df.select(lit(t).as("t"), xxhash64(df.columns.toSeq.map(col): _*).as("h"))
    }.reduce(_ union _)
      .groupBy(col("t")).agg(count(lit(1)), sum(col("h")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Number and total size of regular files under `dir` whose name ends
    * with `suffix` (0, 0 when `dir` does not exist).
    */
  def files(dir: Path, suffix: String = ""): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else Using.resource(Files.walk(dir)) { s =>
      val fs = s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix)).toSeq
      (fs.size.toLong, fs.map(p => Files.size(p)).sum)
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
    }
}
