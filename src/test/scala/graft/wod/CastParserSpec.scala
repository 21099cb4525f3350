package graft.wod

import java.io.{BufferedReader, FileInputStream, InputStreamReader, StringReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

/** Parser validation against the six fixture members — byte-count
  * invariant per cast plus spot-checked header values. The fixture
  * tests run on the generated corpus ([[WodCorpus]], in the shape of
  * the reference's fixtures, FIXTURES.md §1, and built to carry the
  * checked values) and again on the reference's NOAA-written members
  * wherever they are present ([[WodFixtureSuite]]).
  */
class CastParserSpec extends WodFixtureSuite {

  private def parser(fixtures: String)(rel: String, dataset: String) = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(new FileInputStream(s"$fixtures/$rel")),
      StandardCharsets.UTF_8))
    try CastParser.casts(in, dataset).toVector
    finally in.close()
  }

  private def parserTest(name: String)(
      body: ((String, String) => Vector[Either[CastError, AsciiCast]]) => Unit)(
      implicit pos: org.scalactic.source.Position): Unit =
    fixtureTest(name)(fixtures => body(parser(fixtures)))

  parserTest("CTD OBS fixture: single 562-level cast, header fields exact") {
    parseFixture =>
    val r = parseFixture("CTD/OBS/CTDO1971.gz", "CTD")
    assert(r.count(_.isLeft) === 0)
    assert(r.size === 1)
    val c = r.head.toOption.get
    assert(c.castNumber === 19950762)
    assert(c.country === "GB")
    assert(c.cruise === 13461)
    assert((c.year, c.month, c.day) === ((2014, 8, 5)))
    assert(c.time === Some(5.44))
    assert(c.latitude === Some(67.3981))
    assert(c.longitude === Some(-6.3056))
    assert(c.levels === 562)
    assert(c.profile.size === 562)
    assert(c.variables.map(_.code) === Seq(1, 2, 25))
    assert(c.originatorsCruise === Some("6901158"))
    assert(c.secondary.size === 11)
    // surface level: depth 0, all three variables measured
    assert(c.profile.head.depth === Some(0.0))
    assert(c.profile.head.data.size === 3)
  }

  parserTest("XBT OBS fixture: 9390 casts, all parse clean") { parseFixture =>
    val r = parseFixture("XBT/OBS/XBTO1967.gz", "XBT")
    assert(r.count(_.isLeft) === 0)
    assert(r.size === 9390)
    val c = r.head.toOption.get
    assert(c.castNumber === 3411247)
    assert((c.latitude, c.longitude) === ((Some(31.33), Some(-140.58))))
    assert(c.levels === 15)
    // XBT temperature profile at standard depths
    assert(c.profile.map(_.depth.get).take(5) === Seq(0.0, 10.0, 20.0, 30.0, 50.0))
    assert(c.profile.head.data.head.value === 18.2)
  }

  parserTest("DRB OBS fixture: 12611 casts, all parse clean") { parseFixture =>
    val r = parseFixture("DRB/OBS/DRBO2000.gz", "DRB")
    assert(r.count(_.isLeft) === 0)
    assert(r.size === 12611)
  }

  parserTest("APB and CTD/STD fixtures parse clean") { parseFixture =>
    assert(parseFixture("APB/OBS/APBO1997.gz", "APB").count(_.isLeft) === 0)
    assert(parseFixture("CTD/STD/CTDS1967.gz", "CTD").count(_.isLeft) === 0)
  }

  test("corrupt record yields error and resyncs via declared byte count") {
    // two tiny casts; corrupt the middle of the first
    val good = buildTinyCast(castNumber = 7, lat = 10.5, lon = 20.25)
    val bad = good.updated(30, 'X') // clobber inside header fields
    val both = pad80(bad) + pad80(good)
    val r = CastParser.casts(new StringReader(both), "TST").toVector
    assert(r.size === 2)
    assert(r.head.isLeft)
    assert(r(1).toOption.exists(_.castNumber === 7))
  }

  test("missing lat/lon carried as None (error surfaces in transform)") {
    val c = buildTinyCast(castNumber = 9, lat = 10.5, lon = 20.25,
      missingLocation = true)
    val r = CastParser.casts(new StringReader(pad80(c)), "TST").toVector
    assert(r.size === 1)
    val cast = r.head.toOption.get
    assert(cast.latitude.isEmpty && cast.longitude.isEmpty)
    assert(Transform.toCast("TST", cast).isLeft)
  }

  /** Render a minimal 1-level, 1-variable WOD 'C' record (the encoder
    * half of the round-trip; field encodings per the public WOD spec).
    */
  private def buildTinyCast(castNumber: Int, lat: Double, lon: Double,
      missingLocation: Boolean = false): String = {
    def intF(v: Int): String = { val s = v.toString; s"${s.length}$s" }
    def realF(v: Double, prec: Int): String = {
      val raw = math.round(v * math.pow(10, prec)).toString
      val sig = raw.count(_.isDigit)
      s"$sig${raw.length}$prec$raw"
    }
    val body = new StringBuilder
    body.append(intF(castNumber))             // cast number
    body.append("US")                          // country
    body.append(intF(12345))                   // cruise
    body.append("2020").append(" 1").append(" 2") // y/m/d
    body.append(realF(12.5, 2))                // time
    if (missingLocation) body.append("--")     // lat, lon missing
    else { body.append(realF(lat, 4)); body.append(realF(lon, 4)) }
    body.append(intF(1))                       // levels
    body.append("0")                           // profile type
    body.append(" 1")                          // nvars
    body.append(intF(1)).append("0").append("0") // var 1, qc 0, no meta
    body.append("0")                           // no character data
    body.append("0")                           // no secondary
    body.append("0")                           // no biological
    body.append(realF(0.0, 1)).append("00")    // depth + flags
    body.append(realF(18.2, 1)).append("00")   // temp + flags
    // prepend 'C' + byte count; the count covers the whole record
    // including itself, so iterate to a fixed point.
    var total = 1 + body.length
    var prev = -1
    while (total != prev) {
      prev = total
      total = 1 + intF(prev).length + body.length
    }
    "C" + intF(total) + body
  }

  private def pad80(s: String): String =
    s + (" " * ((80 - s.length % 80) % 80))
}
