package graft.wod

import java.io.StringReader

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import CastWriter.{render, value}

/** Property-based round-trip: generate a cast, render it to WOD native
  * ASCII (the independent encoder [[CastWriter]]), parse with
  * CastParser, compare. Covers the length-prefixed int/real field
  * encodings, optional sections (character data, PIs, secondary,
  * biological, taxa), missing values, multi-variable profiles, and
  * 80-char line padding.
  */
class RoundTripSpec extends AnyFunSuite {

  /** Deterministic property driver (scalacheck Gen sampled by seed;
    * no scalatestplus bridge in the offline dependency set).
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit = {
    var produced = 0
    var seed = 0L
    while (produced < n && seed < n * 10L) {
      gen.apply(Gen.Parameters.default, Seed(seed)).foreach { a =>
        produced += 1
        try body(a)
        catch {
          case e: Throwable =>
            throw new AssertionError(s"failed for seed $seed: ${e.getMessage}", e)
        }
      }
      seed += 1
    }
    assert(produced >= n, s"generator produced only $produced/$n samples")
  }

  // ---- generators ----

  private val genReal: Gen[(Long, Int)] = for {
    prec <- Gen.choose(0, 4)
    raw <- Gen.choose(-99999L, 999999L)
  } yield (raw, prec)

  private val genFlag = Gen.choose(0, 9)

  /** Generator size knobs: `default` mirrors typical casts; `adversarial`
    * pushes every optional section to its grammar boundaries — long
    * character-data strings (2-digit length field ≤ 99), double-digit
    * PI / secondary / biological / taxa counts, deep profiles whose
    * self-including byte counts cross digit-count boundaries, and
    * missing-marker rates high enough that all-dash level rows and
    * header-only casts are common, not rare.
    */
  private final case class GenSize(maxVars: Int, maxMeta: Int, maxSec: Int,
      maxBio: Int, maxTaxaSets: Int, maxTaxaPerSet: Int, maxLevels: Int,
      maxCruiseStr: Int, maxStationStr: Int, maxPis: Int,
      depthFreq: (Int, Int), varFreq: (Int, Int))

  private val defaultSize = GenSize(maxVars = 3, maxMeta = 2, maxSec = 4,
    maxBio = 3, maxTaxaSets = 2, maxTaxaPerSet = 3, maxLevels = 5,
    maxCruiseStr = 20, maxStationStr = 15, maxPis = 4,
    depthFreq = (9, 1), varFreq = (4, 1))

  private val adversarialSize = GenSize(maxVars = 10, maxMeta = 6,
    maxSec = 14, maxBio = 10, maxTaxaSets = 4, maxTaxaPerSet = 7,
    maxLevels = 40, maxCruiseStr = 99, maxStationStr = 99, maxPis = 12,
    depthFreq = (2, 1), varFreq = (2, 1))

  private def genCastSized(
      sz: GenSize): Gen[(AsciiCast, Map[String, (Long, Int)])] = for {
    castNumber <- Gen.choose(1, 99999999)
    country <- Gen.listOfN(2, Gen.alphaUpperChar).map(_.mkString)
    cruise <- Gen.choose(0, 9999999)
    year <- Gen.choose(1900, 2023)
    month <- Gen.choose(1, 12)
    day <- Gen.choose(1, 28)
    timeRaw <- Gen.option(Gen.zip(Gen.choose(0L, 2399L), Gen.const(2)))
    latRaw <- Gen.option(Gen.zip(Gen.choose(-89999L, 89999L), Gen.const(3)))
    lonRaw <- Gen.option(Gen.zip(Gen.choose(-179999L, 179999L), Gen.const(3)))
    nVars <- Gen.choose(0, sz.maxVars)
    varCodes <- Gen.pick(nVars, 1 to 50)
    vars <- Gen.sequence[Seq[AsciiVariable], AsciiVariable](
      varCodes.toSeq.sorted.map { code =>
        for {
          qc <- genFlag
          nMeta <- Gen.choose(0, sz.maxMeta)
          metaCodes <- Gen.listOfN(nMeta, Gen.choose(1, 30))
        } yield AsciiVariable(code, qc, metaCodes.map(AsciiAttr(_, 0.0)))
      })
    origCruise <- Gen.option(Gen.choose(1, sz.maxCruiseStr).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)))
    origStation <- Gen.option(Gen.choose(1, sz.maxStationStr).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)))
    pis <- Gen.listOf(Gen.zip(Gen.choose(1, 50), Gen.choose(1, 999)))
      .map(_.take(sz.maxPis).map(p => AsciiPi(p._1, p._2)))
    nSec <- Gen.choose(0, sz.maxSec)
    secCodes <- Gen.listOfN(nSec, Gen.choose(1, 99))
    nBio <- Gen.choose(0, sz.maxBio)
    bioCodes <- Gen.listOfN(nBio, Gen.choose(1, 99))
    nTaxaSets <- Gen.choose(0, sz.maxTaxaSets)
    taxaSizes <- Gen.listOfN(nTaxaSets, Gen.choose(0, sz.maxTaxaPerSet))
    taxaFlags <- Gen.listOfN(taxaSizes.sum * 2, genFlag)
    nLevels <- Gen.choose(0, sz.maxLevels)
    levelHasDepth <- Gen.listOfN(nLevels,
      Gen.frequency(sz.depthFreq._1 -> true, sz.depthFreq._2 -> false))
    levelVarPresent <- Gen.listOfN(nLevels,
      Gen.listOfN(vars.size,
        Gen.frequency(sz.varFreq._1 -> true, sz.varFreq._2 -> false)))
    flags <- Gen.listOfN(nLevels * (1 + vars.size) * 2, genFlag)
    realsSeed <- Gen.listOfN(200, genReal)
  } yield {
    val reals = scala.collection.mutable.Map.empty[String, (Long, Int)]
    var ri = 0
    def nextReal(key: String): (Long, Int) = {
      val r = realsSeed(ri % realsSeed.size); ri += 1
      reals(key) = r; r
    }
    def rv(key: String): Double = { val (raw, p) = nextReal(key); value(raw, p) }

    val time = timeRaw.map { case (raw, p) =>
      reals("time") = (raw, p); value(raw, p) }
    val lat = latRaw.map { case (raw, p) =>
      reals("lat") = (raw, p); value(raw, p) }
    val lon = lonRaw.map { case (raw, p) =>
      reals("lon") = (raw, p); value(raw, p) }

    val varsWithMeta = vars.zipWithIndex.map { case (v, vi) =>
      v.copy(metadata = v.metadata.zipWithIndex.map { case (m, mi) =>
        m.copy(value = rv(s"meta_${vi}_$mi")) })
    }
    val sec = secCodes.zipWithIndex.map { case (code, ai) =>
      AsciiAttr(code, rv(s"sec_$ai")) }
    val bio = bioCodes.zipWithIndex.map { case (code, ai) =>
      AsciiAttr(code, rv(s"bio_$ai")) }
    var tfi = 0
    val taxa = taxaSizes.zipWithIndex.map { case (sz, ti) =>
      (0 until sz).map { ei =>
        val q = taxaFlags(tfi); val o = taxaFlags(tfi + 1); tfi += 2
        AsciiTaxon(ei + 1, rv(s"taxa_${ti}_$ei"), q, o)
      }
    }
    var fi = 0
    def nf(): Int = { val f = flags(fi); fi += 1; f }
    val profile = (0 until nLevels).map { li =>
      val hasDepth = levelHasDepth(li)
      val depth = if (hasDepth) Some(rv(s"dep_$li")) else None
      val (df, of) = if (hasDepth) (nf(), nf()) else (0, 0)
      val data = varsWithMeta.zipWithIndex.flatMap { case (v, vi) =>
        if (levelVarPresent(li)(vi))
          Some(AsciiMeasurement(v.code, rv(s"val_${li}_${v.code}"), nf(), nf()))
        else None
      }
      AsciiLevel(depth, df, of, data)
    }
    val cast = AsciiCast(castNumber, country, cruise, year, month, day,
      time, lat, lon, nLevels, 0, varsWithMeta, origCruise, origStation,
      pis, sec, bio, taxa, profile)
    (cast, reals.toMap)
  }

  private val genCast = genCastSized(defaultSize)

  test("render -> parse round-trips any generated cast") {
    forAllSeeded(genCast, 200) { case (cast, reals) =>
      val ascii = render(cast, reals)
      val parsed = CastParser.casts(new StringReader(ascii), "TST").toVector
      assert(parsed.size === 1)
      parsed.head match {
        case Right(p) => assert(p === cast)
        case Left(e) => fail(s"parse error: ${e.error}\nrecord: $ascii")
      }
    }
  }

  test("multiple rendered casts in one stream parse in order") {
    forAllSeeded(Gen.listOfN(5, genCast), 20) { cs =>
      val ascii = cs.map { case (c, r) => render(c, r) }.mkString
      val parsed = CastParser.casts(new StringReader(ascii), "TST").toVector
      assert(parsed.size === cs.size)
      parsed.zip(cs).foreach { case (p, (c, _)) =>
        assert(p === Right(c))
      }
    }
  }

  test("adversarial section variants round-trip (boundary sizes, " +
      "dense missing markers, double-digit section counts)") {
    forAllSeeded(genCastSized(adversarialSize), 150) { case (cast, reals) =>
      val ascii = render(cast, reals)
      val parsed = CastParser.casts(new StringReader(ascii), "TST").toVector
      assert(parsed.size === 1)
      parsed.head match {
        case Right(p) => assert(p === cast)
        case Left(e) => fail(s"parse error: ${e.error}\nrecord: $ascii")
      }
    }
  }

  test("adversarial casts mixed in one stream parse in order") {
    forAllSeeded(Gen.listOfN(4, genCastSized(adversarialSize)), 10) { cs =>
      val ascii = cs.map { case (c, r) => render(c, r) }.mkString
      val parsed = CastParser.casts(new StringReader(ascii), "TST").toVector
      assert(parsed.size === cs.size)
      parsed.zip(cs).foreach { case (p, (c, _)) => assert(p === Right(c)) }
    }
  }

  /** PFL/GLD/MRB-shape casts: high-resolution profiles (hundreds of
    * levels, few variables) — multi-KB records whose self-including
    * byte counts reach 4-5 digits, the shape a profiling float or
    * glider file is made of.
    */
  private val deepProfileSize = GenSize(maxVars = 3, maxMeta = 3,
    maxSec = 6, maxBio = 0, maxTaxaSets = 0, maxTaxaPerSet = 0,
    maxLevels = 300, maxCruiseStr = 12, maxStationStr = 12, maxPis = 3,
    depthFreq = (30, 1), varFreq = (20, 1))

  test("deep-profile (PFL/GLD/MRB shape) casts round-trip") {
    forAllSeeded(genCastSized(deepProfileSize), 40) { case (cast, reals) =>
      val ascii = render(cast, reals)
      val parsed = CastParser.casts(new StringReader(ascii), "PFL").toVector
      assert(parsed.size === 1)
      parsed.head match {
        case Right(p) => assert(p === cast)
        case Left(e) => fail(s"parse error: ${e.error}")
      }
    }
  }

  /** OSD-shape casts: taxonomy-heavy (many taxa sets, flag extremes
    * 0/9 on QC + originator), secondary/biological attr codes across
    * the full multi-digit range — the corners the six fixtures never
    * exercise.
    */
  test("taxa-heavy casts with flag extremes and wide attr codes round-trip") {
    val gen = for {
      (base, reals) <- genCastSized(defaultSize)
      nSets <- Gen.choose(5, 8)
      sizes <- Gen.listOfN(nSets, Gen.choose(1, 10))
      flags <- Gen.listOfN(sizes.sum * 2, Gen.oneOf(0, 9))
      secCodes <- Gen.listOfN(6, Gen.choose(100, 9999))
      bioCodes <- Gen.listOfN(6, Gen.choose(100, 9999))
    } yield {
      var fi = -1
      def nf(): Int = { fi += 1; flags(fi) }
      val extraReals = scala.collection.mutable.Map.empty[String, (Long, Int)]
      val taxa = sizes.zipWithIndex.map { case (n, ti) =>
        (0 until n).map { ei =>
          extraReals(s"taxa_${ti}_$ei") = (ei * 1000L + 5, 2)
          AsciiTaxon(ei + 1, (ei * 1000L + 5) / 100.0, nf(), nf())
        }
      }
      val sec = secCodes.zipWithIndex.map { case (code, ai) =>
        extraReals(s"sec_$ai") = (42L, 1); AsciiAttr(code, 4.2) }
      val bio = bioCodes.zipWithIndex.map { case (code, ai) =>
        extraReals(s"bio_$ai") = (77L, 1); AsciiAttr(code, 7.7) }
      (base.copy(taxa = taxa, secondary = sec, biological = bio),
        reals ++ extraReals)
    }
    forAllSeeded(gen, 60) { case (cast, reals) =>
      val ascii = render(cast, reals)
      val parsed = CastParser.casts(new StringReader(ascii), "OSD").toVector
      assert(parsed.size === 1)
      parsed.head match {
        case Right(p) => assert(p === cast)
        case Left(e) => fail(s"parse error: ${e.error}")
      }
    }
  }

  /** A cast every byte of which is structural (no free-text fields), so
    * ANY interior byte replaced with '~' must fail its field parser or
    * the final consumed-vs-declared check — the C5 resync fixture.
    */
  private def structuralCast: (AsciiCast, Map[String, (Long, Int)]) = {
    val reals = Map("dep_0" -> (1234L, 1), "dep_1" -> (2234L, 1),
      "val_0_7" -> (2100L, 2), "val_1_7" -> (2200L, 2),
      "sec_0" -> (15L, 1), "sec_1" -> (25L, 1))
    val cast = AsciiCast(4242, "US", 77, 1999, 6, 15, None, None, None,
      2, 0, Seq(AsciiVariable(7, 1, Nil)), None, None, Nil,
      Seq(AsciiAttr(3, 1.5), AsciiAttr(9, 2.5)), Nil, Nil,
      Seq(AsciiLevel(Some(123.4), 1, 2, Seq(AsciiMeasurement(7, 21.0, 3, 4))),
        AsciiLevel(Some(223.4), 5, 6, Seq(AsciiMeasurement(7, 22.0, 7, 8)))))
    (cast, reals)
  }

  test("corrupted record yields one error and resyncs to the next cast") {
    val (good, goodReals) = structuralCast
    val a = render(good, goodReals)
    val cCast = good.copy(castNumber = 777)
    val c = render(cCast, goodReals)
    val bPadded = render(good.copy(castNumber = 555), goodReals)
    val bCore = bPadded.stripTrailing()
    // corrupt every interior position past the 'C'+count header (so
    // resync stays possible), EXCEPT the 2-char country field — a
    // free-text field where any byte is valid by design (the record is
    // "C290" + intF(castNumber) "3555" + country at offsets 8-9)
    for (p <- 4 until bCore.length if p != 8 && p != 9) {
      val corrupted = bPadded.substring(0, p) + "~" + bPadded.substring(p + 1)
      val parsed =
        CastParser.casts(new StringReader(a + corrupted + c), "TST")
          .take(10).toVector
      assert(parsed.head === Right(good), s"pos $p: first cast broke")
      assert(parsed(1).isLeft, s"pos $p: corruption not detected")
      // byte count stayed readable -> resync must land on cast C
      assert(parsed.lift(2) === Some(Right(cCast)), s"pos $p: resync failed")
      assert(parsed.size === 3, s"pos $p: expected exactly 3 outcomes")
    }
  }

  test("mid-cast truncation at EOF yields one error and terminates") {
    val (good, goodReals) = structuralCast
    val a = render(good, goodReals)
    val b = render(good.copy(castNumber = 555), goodReals).stripTrailing()
    // cut B everywhere: inside the byte-count header, mid-body, last byte
    for (k <- 1 until b.length) {
      val stream = a + b.substring(0, k)
      val parsed = CastParser.casts(new StringReader(stream), "TST")
        .take(10).toVector // take() bounds the test if termination broke
      assert(parsed.head === Right(good), s"cut $k: first cast broke")
      assert(parsed.size === 2 && parsed(1).isLeft,
        s"cut $k: want exactly one error then EOF, got $parsed")
    }
  }

  /** The record prefix is 'C' + a SELF-INCLUDING byte count: records
    * whose total sits where the count's digit count changes (9→10,
    * 99→100, …) are the fixed-point edge of that encoding, and the
    * 80-char line padding has its own modulo edge. Sweep station-string
    * lengths (1-char granularity) over two base casts so record totals
    * walk through both digit-boundary windows and every padding
    * residue.
    */
  test("record totals across count-digit and line-padding boundaries") {
    def sweep(secCount: Int): Unit = {
      val seen = scala.collection.mutable.Set.empty[Int]
      for (n <- 1 to 99) {
        val station = "S" * n
        val sec = (1 to secCount).map(i => AsciiAttr(i, 1.5))
        val reals = (0 until secCount).map(i => s"sec_$i" -> (15L, 1))
          .toMap ++ Map("dep_0" -> (1234L, 1), "val_0_7" -> (2100L, 2))
        val cast = AsciiCast(42, "US", 77, 1999, 6, 15, None, None, None,
          1, 0, Seq(AsciiVariable(7, 0, Nil)), None, Some(station),
          Nil, sec, Nil, Nil,
          Seq(AsciiLevel(Some(123.4), 0, 0,
            Seq(AsciiMeasurement(7, 21.0, 0, 0)))))
        val ascii = render(cast, reals)
        seen += ascii.length
        val parsed = CastParser.casts(new StringReader(ascii), "TST").toVector
        assert(parsed === Vector(Right(cast)), s"station len $n failed")
      }
      assert(seen.size > 1) // the sweep actually moved across sizes
    }
    sweep(secCount = 0)  // totals walk the 99→100 window
    sweep(secCount = 14) // bigger base: a later digit/padding window
  }
}
