package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Seeded bronze generator: weekly draw files in the HEADER/BODY grammar
  * of `data/fixtures/raw`, laid out as `year=Y/sorteo=N/<file>.txt`, plus
  * malformed deliveries shaped like `data/fixtures/bad`.
  *
  * Every draw is a pure function of (seed, week index), so a corpus, a
  * later weekly delivery and the ground truth for both can be rebuilt in
  * any order without generating the weeks before them.
  */
object BronzeGen {

  /** Ground truth for one well-formed draw: prize rows and the exact sum
    * of `monto` in cents.
    */
  final case class Truth(sorteo: Long, year: Int, prizes: Int, montoCents: Long)

  /** One rendered file; `truth` is empty for a malformed delivery. */
  final case class Delivery(relPath: String, content: String, truth: Option[Truth]) {
    def sorteo: Long = relPath.split("sorteo=")(1).takeWhile(_.isDigit).toLong
  }

  val FirstSorteo = 3000L
  private val FirstDate = LocalDate.of(2015, 1, 4)
  private val Fmt = DateTimeFormatter.ofPattern("dd/MM/uuuu")

  private val Letras = Array("P", "PR", "DT", "TT", "C", "PDT", "R")
  private val Vendors = Array("YECENIA MAZARIEGOS", "TELEMARKETING", "KIOSCO CENTRAL",
    "MARIA LOPEZ", "JUAN PEREZ", "VENDEDORA AMBULANTE", "LOTERIA EL SOL", "PUESTO 14",
    "ANA GOMEZ", "DISTRIBUIDORA NORTE", "CARLOS RUIZ", "TIENDA LA ESQUINA")
  private val Places = Array(
    "QUETZALTENANGO, QUETZALTENANGO", "COBAN, ALTA VERAPAZ", "ANTIGUA, SACATEPEQUEZ",
    "DE ESTA CAPITAL", "de esta capital, GUATEMALA", "ESCUINTLA, ESCUINTLA",
    "MAZATENANGO, SUCHITEPEQUEZ", "N/A, N/A", "HUEHUETENANGO, HUEHUETENANGO",
    "PUERTO BARRIOS, IZABAL")
  private val SmallAmounts = Array(40000L, 60000L, 75050L, 100000L, 123456L, 250000L)

  private def rng(seed: Long, week: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + week * 0xC2B2AE3D27D4EB4FL + 1)

  private def money(cents: Long): String =
    String.format(Locale.US, "%,d.%02d", Long.box(cents / 100), Long.box(cents % 100))

  private def header(r: SplittableRandom, week: Int, withCaducidad: Boolean): (Long, LocalDate, String, Array[Long]) = {
    val sorteo = FirstSorteo + week
    val date = FirstDate.plusWeeks(week)
    val tipo = if (week % 4 == 3) "EXTRAORDINARIO" else "ORDINARIO"
    val top = Array.fill(3)(r.nextLong(1L, 100000L))
    val reint = Seq.fill(if (r.nextInt(3) == 0) 2 else 3)(r.nextInt(10)).mkString(", ")
    val cad = if (withCaducidad) s" FECHA DE CADUCIDAD: ${date.plusDays(90).format(Fmt)}" else ""
    val line = s"SORTEO $tipo NO. $sorteo FECHA DEL SORTEO: ${date.format(Fmt)}$cad " +
      s"PRIMER PREMIO ${top(0)} ||| SEGUNDO PREMIO ${top(1)} ||| TERCER PREMIO ${top(2)} ||| REINTEGROS $reint"
    (sorteo, date, line, top)
  }

  private def relPath(sorteo: Long, date: LocalDate, week: Int): String =
    s"year=${date.getYear}/sorteo=$sorteo/results_raw_lottery_url_id_${100 + week}_$sorteo.txt"

  /** A well-formed draw for `week` with `prizes` body rows. */
  def draw(seed: Long, week: Int, prizes: Int): Delivery = {
    val r = rng(seed, week)
    val (sorteo, date, head, top) = header(r, week, withCaducidad = true)
    val sb = new StringBuilder(prizes * 80)
    sb ++= "HEADER\n" ++= head ++= "\n\nBODY\n"
    if (r.nextBoolean()) sb ++= "CENTENARES\n"
    var cents = 0L
    var i = 0
    while (i < prizes) {
      val numero = if (i < 3) top(i) else r.nextLong(0L, 1000000L)
      val c =
        if (i < 3) (3 - i) * 10000000L * (1 + r.nextInt(10))
        else if (r.nextInt(5) == 0) r.nextLong(1000L, 10000000L)
        else SmallAmounts(r.nextInt(SmallAmounts.length))
      cents += c
      sb ++= s"$numero    ${Letras(r.nextInt(Letras.length))}    ............    ${money(c)}\n"
      r.nextInt(20) match {
        case k if k < 12 =>
          sb ++= s"VENDIDO POR ${Vendors(r.nextInt(Vendors.length))}, ${Places(r.nextInt(Places.length))}\n"
        case k if k < 14 => sb ++= s"VENDIDO POR ${Vendors(r.nextInt(Vendors.length))}\n"
        case k if k < 18 => sb ++= "NO VENDIDO\n"
        case k if k < 19 => sb ++= "RUIDO QUE SE IGNORA\n"
        case _ => // a prize with no vendor line
      }
      i += 1
    }
    Delivery(relPath(sorteo, date, week), sb.toString,
      Some(Truth(sorteo, date.getYear, prizes, cents)))
  }

  /** A malformed delivery for `week`: either the header lacks its
    * FECHA DE CADUCIDAD field or the BODY marker is missing; both make
    * the strict parse throw.
    */
  def malformed(seed: Long, week: Int): Delivery = {
    val r = rng(seed, week)
    val missingField = r.nextBoolean()
    val (sorteo, date, head, top) = header(r, week, withCaducidad = !missingField)
    val body = s"${top(0)}    P    ............    ${money(10000000L)}\nNO VENDIDO\n"
    val content =
      if (missingField) s"HEADER\n$head\n\nBODY\n$body"
      else s"HEADER\n$head\n$body"
    Delivery(relPath(sorteo, date, week), content, None)
  }

  /** Write a delivery under `root`; returns its size in bytes. */
  def write(root: Path, d: Delivery): Long = {
    val p = root.resolve(d.relPath)
    Files.createDirectories(p.getParent)
    val bytes = d.content.getBytes(StandardCharsets.UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  /** Remove a delivery's file and its now-empty `sorteo=` directory. */
  def remove(root: Path, d: Delivery): Unit = {
    val p = root.resolve(d.relPath)
    Files.deleteIfExists(p)
    Files.deleteIfExists(p.getParent)
  }

  /** Weeks `0 until weeks` as well-formed draws under `root`. Returns the
    * truth per draw and the total bytes written.
    */
  def corpus(root: Path, seed: Long, weeks: Int, prizes: Int): (Seq[Truth], Long) = {
    var bytes = 0L
    val truth = (0 until weeks).map { w =>
      val d = draw(seed, w, prizes)
      bytes += write(root, d)
      d.truth.get
    }
    (truth, bytes)
  }

  /** The ground-truth sidecar: one tab-separated line per draw. */
  def writeSidecar(path: Path, truth: Seq[Truth]): Unit = {
    val lines = "sorteo\tyear\tprizes\tmonto_cents" +: truth.map(t =>
      s"${t.sorteo}\t${t.year}\t${t.prizes}\t${t.montoCents}")
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
