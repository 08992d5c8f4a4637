package perfbench

import java.nio.file.{Files, Paths}

import graft.parse.{Parser, Transformer}

/** The generator's own test (`python3 perfbench/run.py --selftest`):
  * every well-formed draw parses with `Parser.parseDraw` into exactly the
  * prize rows and `monto` cents its ground truth states, every malformed
  * delivery throws, and the same (seed, week) renders the same bytes.
  */
object BronzeGenTest {
  def main(args: Array[String]): Unit = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seed <- Seq(1L, 2L, 42L); week <- 0 until 60) {
      val d = BronzeGen.draw(seed, week, 120)
      val t = d.truth.get
      val parsed = Parser.parseDraw(d.content)
      val silver = Transformer.toSilver(parsed)
      val cents = silver.premios.map(p => math.round(p.monto * 100)).sum
      if (silver.premios.size != t.prizes || cents != t.montoCents ||
          silver.sorteo.numero_sorteo != t.sorteo || silver.sorteo.year != t.year ||
          silver.premios.exists(_.numero_premiado.isEmpty))
        problems += s"seed=$seed week=$week: parsed ${silver.premios.size} rows / $cents cents, truth $t"
      if (d.relPath != s"year=${t.year}/sorteo=${t.sorteo}/${d.relPath.split('/').last}")
        problems += s"seed=$seed week=$week: path ${d.relPath}"
      if (BronzeGen.draw(seed, week, 120) != d) problems += s"seed=$seed week=$week: not deterministic"
      val bad = BronzeGen.malformed(seed, week)
      if (scala.util.Try(Parser.parseDraw(bad.content)).isSuccess)
        problems += s"seed=$seed week=$week: malformed delivery parsed"
    }
    // a written corpus carries the same truth as the in-memory draws
    val root = Paths.get(args.headOption.getOrElse("perfbench-selftest"))
    val (truth, bytes) = BronzeGen.corpus(root, 5L, 10, 30)
    if (truth != (0 until 10).map(w => BronzeGen.draw(5L, w, 30).truth.get) || bytes <= 0)
      problems += "corpus truth differs from the rendered draws"
    BronzeGen.writeSidecar(root.resolve("truth.tsv"), truth)
    if (Files.readAllLines(root.resolve("truth.tsv")).size != 11) problems += "sidecar line count"
    problems.foreach(p => println(s"FAIL $p"))
    println(if (problems.isEmpty) "bronze generator: all checks passed" else s"${problems.size} failures")
    if (problems.nonEmpty) sys.exit(1)
  }
}
