package graft.wod

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPInputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** Pins the generated corpus the WOD specs read: the CTD record comes
  * out with the reference record's first bytes, the XBT and DRB members
  * have the reference members' cast and line counts, and the corpus is
  * the same bytes on every write.
  */
class WodCorpusSpec extends AnyFunSuite {

  test("the CTD record starts with the reference record's prefix, " +
      "record length included") {
    val text = new String(new GZIPInputStream(new ByteArrayInputStream(
      WodCorpus.member(WodCorpus.Ctd))).readAllBytes(), StandardCharsets.US_ASCII)
    // FIXTURES.md §1: 'C', a 20438-byte record, cast 19950762, GB,
    // cruise 13461, 2014-08-05, 5.44 h, 67.3981 N, -6.3056 E, 562
    // levels, profile type 0
    assert(text.startsWith(
      "C520438819950762GB5134612014 8 5332544664673981564-6305635620"))
    assert(text.linesIterator.forall(_.length == 80))
  }

  test("the XBT and DRB members have the reference members' cast and " +
      "line counts") {
    // FIXTURES.md §1: XBTO1967 9390 casts in 68,915 lines, DRBO2000
    // 12611 casts in 56,614 lines
    Seq(WodCorpus.Xbt -> ((9390, 68915)), WodCorpus.Drb -> ((12611, 56614)))
      .foreach { case (rel, (casts, lines)) =>
        val text = new String(new GZIPInputStream(new ByteArrayInputStream(
          WodCorpus.member(rel))).readAllBytes(), StandardCharsets.US_ASCII)
        assert(text.count(_ == '\n') === lines, rel)
        assert(text.linesIterator.forall(_.length == 80), rel)
        assert(CastParser.casts(new java.io.StringReader(text), "X")
          .count(_.isRight) === casts, rel)
      }
  }

  test("two writes give byte-identical members") {
    val a = WodCorpus.write(Files.createTempDirectory("wodcorpus_a"))
    val b = WodCorpus.write(Files.createTempDirectory("wodcorpus_b"))
    try WodCorpus.Members.foreach { rel =>
      assert(Files.readAllBytes(a.resolve(rel)) sameElements
        Files.readAllBytes(b.resolve(rel)), rel)
    } finally Seq(a, b).foreach(TestDirs.deleteTree)
  }
}
