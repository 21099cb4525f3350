package graft.tools

import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import graft.wod.CastParser

/** Measured delta for parse-time nested pruning (WodDataSourceSpec's
  * header-only gate): parse the generated corpus
  * ([[graft.wod.WodCorpus]]) with and without per-depth struct
  * building, bytes pre-loaded so only decompression + parse are timed.
  * Both modes decode every profile field (grammar validation is
  * projection-independent); the delta is exactly the skipped
  * allocation/collection work.
  */
object ParsePruneBench {
  def main(args: Array[String]): Unit = {
    val root = java.nio.file.Paths.get(graft.wod.WodFixtures.dir)
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".gz")).sorted
    val bytes = files.map(f =>
      f -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    def parseAll(skip: Boolean): (Long, Double) = {
      val t0 = System.nanoTime()
      var casts = 0L
      bytes.foreach { case (f, b) =>
        val r = new BufferedReader(new InputStreamReader(
          new GZIPInputStream(new ByteArrayInputStream(b), 64 * 1024),
          StandardCharsets.UTF_8))
        val ds = f.split('/').takeRight(3).head
        CastParser.casts(r, ds, skipProfile = skip)
          .foreach(_ => casts += 1)
        r.close()
      }
      (casts, (System.nanoTime() - t0) / 1e9)
    }
    val reps = 5
    var full = List.empty[Double]
    var pruned = List.empty[Double]
    var nFull = 0L
    var nPruned = 0L
    (1 to reps).foreach { _ =>
      val (cf, tf) = parseAll(skip = false); full ::= tf; nFull = cf
      val (cp, tp) = parseAll(skip = true); pruned ::= tp; nPruned = cp
    }
    require(nFull == nPruned, s"cast sets differ: $nFull vs $nPruned")
    println(f"PARSE_PRUNE casts=$nFull full_min=${full.min}%.3f " +
      f"pruned_min=${pruned.min}%.3f speedup=${full.min / pruned.min}%.2f " +
      s"full=${full.reverse.map(t => f"$t%.3f").mkString(",")} " +
      s"pruned=${pruned.reverse.map(t => f"$t%.3f").mkString(",")}")
  }
}
