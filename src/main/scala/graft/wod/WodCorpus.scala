package graft.wod

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.Random

/** A generated WOD ASCII corpus in the shape of the six members the
  * reference tests its converter on (FIXTURES.md §1): the same
  * `<DATASET>/<LEVEL>/<FILE>.gz` layout, cast counts, line counts and
  * spot-checked header values, rendered by [[CastWriter]] from fixed
  * seeds, so every [[write]] gives byte-identical members.
  *
  *  - [[Ctd]]: one 562-level CTD cast with temperature, salinity and
  *    pressure at every level. Its first 61 bytes are those of the
  *    reference record (FIXTURES.md §1), record length included.
  *    [[Apb]] and [[CtdStd]] hold the same bytes.
  *  - [[Xbt]]: 9390 XBT casts in 68,915 lines, along ship tracks,
  *    plus an ocean weather station whose casts crowd one geohash3
  *    cell.
  *  - [[Drb]]: 12611 drifting-buoy casts in 56,614 lines, a few with
  *    biological headers and taxonomic sets. [[Sur]] holds the same
  *    bytes (the SUR member exercises the SURF_ALL -> SUR_ALL rename).
  *
  * Line counts are of newline-terminated 80-character lines. Every
  * cast parses and transforms clean.
  */
object WodCorpus {

  val Apb = "APB/OBS/APBO1997.gz"
  val Ctd = "CTD/OBS/CTDO1971.gz"
  val CtdStd = "CTD/STD/CTDS1967.gz"
  val Drb = "DRB/OBS/DRBO2000.gz"
  val Sur = "SUR/OBS/SURF_ALL.gz"
  val Xbt = "XBT/OBS/XBTO1967.gz"

  val Members: Seq[String] = Seq(Apb, Ctd, CtdStd, Drb, Sur, Xbt)

  /** Writes the six members under `dir`; returns `dir`. */
  def write(dir: Path): Path = {
    val ctd = member(Ctd)
    val drb = member(Drb)
    Seq(Apb -> ctd, Ctd -> ctd, CtdStd -> ctd, Drb -> drb, Sur -> drb,
      Xbt -> member(Xbt)).foreach { case (rel, bytes) => put(dir, rel, bytes) }
    dir
  }

  /** Writes `n` copies of member `rel` into its `<DATASET>/<LEVEL>`
    * directory under `dir`, named `<FILE>_R<i>.gz`.
    */
  def replicate(dir: Path, rel: String, n: Int): Unit = {
    val bytes = member(rel)
    val base = rel.stripSuffix(".gz")
    (1 to n).foreach(i => put(dir, s"${base}_R$i.gz", bytes))
  }

  /** The gzip bytes of member `rel`, one of [[Members]]. */
  def member(rel: String): Array[Byte] = rel match {
    case Apb | Ctd | CtdStd => CastWriter.member(Iterator(ctdCast))
    case Drb | Sur => CastWriter.member(drbCasts)
    case Xbt => CastWriter.member(xbtCasts)
    case _ => throw new IllegalArgumentException(s"not a corpus member: $rel")
  }

  private def put(dir: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** A cast's real fields as (raw, precision) for [[CastWriter.render]];
    * `apply` records one and returns its value.
    */
  private final class Reals {
    private val m = Map.newBuilder[String, (Long, Int)]
    def apply(key: String, raw: Long, prec: Int): Double = {
      m += key -> ((raw, prec))
      CastWriter.value(raw, prec)
    }
    def result: Map[String, (Long, Int)] = m.result()
  }

  private def level(r: Reals, i: Int, depth: (Long, Int),
      values: Seq[(Int, Option[(Long, Int)])]): AsciiLevel =
    AsciiLevel(Some(r(s"dep_$i", depth._1, depth._2)), 0, 0, values.collect {
      case (code, Some((raw, prec))) =>
        AsciiMeasurement(code, r(s"val_${i}_$code", raw, prec), 0, 0)
    })

  private def attrs(r: Reals, prefix: String,
      entries: Seq[(Int, Long, Int)]): Seq[AsciiAttr] =
    entries.zipWithIndex.map { case ((code, raw, prec), i) =>
      AsciiAttr(code, r(s"${prefix}_$i", raw, prec))
    }

  private def date(year: Int, k: Int, n: Int): LocalDate =
    LocalDate.ofYearDay(year, 1 + (k.toLong * 365 / n).toInt)

  // ---- CTD: one deep cast ------------------------------------------------

  private val CtdLevels = 562
  private val CtdRecordBytes = 20438

  /** The CTD cast. Its profile is rendered once with whole-dbar
    * pressures; the upper levels then carry pressure to 0.1 dbar, as
    * many as bring the record to [[CtdRecordBytes]].
    */
  private def ctdCast: String = {
    val rng = new Random(1971L)
    // depth (0.1 m), temperature (m°C), salinity (1e-3), pressure (dbar)
    val rows = (0 until CtdLevels).map { d =>
      (d * 10L,
        300L + math.round(8200 * math.exp(-d / 180.0)) + rng.nextInt(41) - 20,
        35050L + d * 120L / CtdLevels + rng.nextInt(11) - 5,
        math.round(d * 1.0094))
    }
    val secondary = Seq(1, 2, 3, 4, 5, 7, 8, 10, 29, 91, 95).map(code =>
      (code, 1L + rng.nextInt(99999), rng.nextInt(3)))
    def render(fine: Int): String = {
      val r = new Reals
      val profile = rows.zipWithIndex.map { case ((d, t, s, p), i) =>
        val pressure = if (i >= 1 && i <= fine) (p * 10, 1) else (p, 0)
        level(r, i, (d, 1),
          Seq(1 -> Some((t, 3)), 2 -> Some((s, 3)), 25 -> Some(pressure)))
      }
      val c = AsciiCast(19950762, "GB", 13461, 2014, 8, 5,
        Some(r("time", 544, 2)), Some(r("lat", 673981, 4)),
        Some(r("lon", -63056, 4)), CtdLevels, 0,
        Seq(AsciiVariable(1, 0, attrs(r, "meta_0", Seq((4, 401, 0)))),
          AsciiVariable(2, 0, attrs(r, "meta_1", Seq((4, 401, 0)))),
          AsciiVariable(25, 0, Nil)),
        Some("6901158"), None, Seq(AsciiPi(1, 215), AsciiPi(2, 215)),
        attrs(r, "sec", secondary), Nil, Nil, profile)
      CastWriter.render(c, r.result)
    }
    val coarse = render(0).trim.length
    val rec = render(CtdRecordBytes - coarse)
    require(rec.trim.length == CtdRecordBytes,
      s"CTD record is ${rec.trim.length} bytes, want $CtdRecordBytes")
    rec
  }

  // ---- XBT: ship tracks and one weather station ---------------------------

  private val XbtCasts = 9390
  private val XbtLines = 68915
  private val XbtMaxLevels = 100
  private val XbtDepths =
    Seq(0, 10, 20, 30, 50, 75, 100, 125, 150, 200, 250, 300, 400, 500, 600)
  private val XbtCountries = Seq("US", "JP", "CA", "AU", "GB")

  /** Every 23rd cast is made at ocean weather station P (50 N,
    * 145 W); the rest run along ship tracks, the first starting at
    * (31.33, -140.58). Positions are in hundredths of a degree. The
    * first cast reports 15 standard depths; every other cast reports
    * observed levels 5 to 8 m apart, as many as make it 4 to 11 lines,
    * so the member is the reference's [[XbtLines]] lines long.
    */
  private def xbtCasts: Iterator[String] = {
    val rng = new Random(1967L)
    var number = 3411247
    var cruise = 0
    var left = 0
    var lat, lon, heading = 0.0
    var country = ""
    def cast(k: Int, lines: Int): String = {
      val station = k % 23 == 11
      val (latU, lonU) =
        if (station) (5000L + rng.nextInt(21) - 10, -14500L + rng.nextInt(21) - 10)
        else {
          if (left == 0) {
            cruise += 1
            left = 80 + rng.nextInt(170)
            country = XbtCountries(rng.nextInt(XbtCountries.size))
            if (k == 0) { lat = 31.33; lon = -140.58; heading = 3.6 }
            else {
              lat = -45 + rng.nextDouble() * 100
              lon = -180 + rng.nextDouble() * 360
              heading = rng.nextDouble() * 2 * math.Pi
            }
          } else {
            heading += rng.nextGaussian() * 0.05
            val step = 0.03 + rng.nextDouble() * 0.03
            lat += step * math.sin(heading)
            lon += step * math.cos(heading)
            if (math.abs(lat) > 60) { heading = -heading; lat = math.signum(lat) * 60 }
            if (lon >= 180) lon -= 360 else if (lon < -180) lon += 360
          }
          left -= 1
          (math.round(lat * 100), math.round(lon * 100))
        }
      val latV = CastWriter.value(latU, 2)
      val sst = 28.0 - 22.0 * math.pow(math.abs(latV) / 60, 1.3)
      val spacing = 5 + rng.nextInt(4)
      val depths =
        if (k == 0) XbtDepths else (0 until XbtMaxLevels).map(_ * spacing)
      val temps = depths.zipWithIndex.map { case (d, i) =>
        val t = 4 + (sst - 4) * math.exp(-d / 250.0) + rng.nextGaussian() * 0.1
        if (k == 0 && i == 0) 182L else math.round(t * 10)
      }
      val time = Option.when(rng.nextInt(12) != 0)(
        rng.nextInt(24) * 100L + rng.nextInt(60))
      val sec = Seq((29, 1L + rng.nextInt(3), 0), (30, 4L, 0))
      val day = date(1967, k, XbtCasts)
      val (num, ship, cruiseNo) =
        (number, if (station) "CA" else country, if (station) 9001 else cruise)
      number += 1 + rng.nextInt(3)
      def render(n: Int): String = {
        val r = new Reals
        val profile = (0 until n).map(i =>
          level(r, i, (depths(i).toLong, 0), Seq(1 -> Some((temps(i), 1)))))
        val c = AsciiCast(num, ship, cruiseNo, 1967, day.getMonthValue,
          day.getDayOfMonth, time.map(r("time", _, 2)), Some(r("lat", latU, 2)),
          Some(r("lon", lonU, 2)), n, 0, Seq(AsciiVariable(1, 0, Nil)), None,
          Option.when(station)("OWS-P"), Nil, attrs(r, "sec", sec), Nil, Nil,
          profile)
        CastWriter.render(c, r.result)
      }
      if (k == 0) render(XbtDepths.size) else fit(lines, XbtMaxLevels)(render)
    }
    val first = cast(0, 0)
    val targets = lineTargets(rng, XbtCasts - 1, XbtLines - first.length / 80,
      4, 11)
    Iterator.single(first) ++ Iterator.range(1, XbtCasts).map(k =>
      cast(k, targets(k - 1)))
  }

  // ---- DRB: drifting buoys ----------------------------------------------

  private val DrbCasts = 12611
  private val DrbLines = 56614
  private val DrbMaxLevels = 40
  private val Drifters = 36

  /** Cast `k` comes from drifter `k % 36`, which moves a few
    * kilometres between fixes and reports its thermistor chain at 5 m
    * spacing: as many levels as make the cast 3 to 6 lines, so the
    * member is the reference's [[DrbLines]] lines long. A sixth of the
    * drifters also measure salinity, at the surface only. Every 211th
    * cast has a biological header and taxonomic sets. Positions are in
    * thousandths of a degree.
    */
  private def drbCasts: Iterator[String] = {
    val rng = new Random(2000L)
    val pos = Array.fill(Drifters)(
      Array(-60 + rng.nextDouble() * 130, -180 + rng.nextDouble() * 360,
        rng.nextGaussian() * 0.03, rng.nextGaussian() * 0.03))
    val targets = lineTargets(rng, DrbCasts, DrbLines, 3, 6)
    Iterator.range(0, DrbCasts).map { k =>
      val b = k % Drifters
      val p = pos(b)
      p(2) = 0.9 * p(2) + rng.nextGaussian() * 0.005
      p(3) = 0.9 * p(3) + rng.nextGaussian() * 0.005
      p(0) = math.max(-70, math.min(75, p(0) + p(2)))
      p(1) += p(3)
      if (p(1) >= 180) p(1) -= 360 else if (p(1) < -180) p(1) += 360
      val latU = math.round(p(0) * 1000)
      val lonU = math.round(p(1) * 1000)
      val salinity = b % 6 == 1
      val sst = 28.0 - 22.0 * math.pow(math.abs(CastWriter.value(latU, 3)) / 70, 1.3)
      val temps = (0 until DrbMaxLevels).map(i =>
        math.round((sst - i * 5 * 0.02 + rng.nextGaussian() * 0.2) * 100))
      val surfaceSalinity = 34000L + rng.nextInt(2000)
      val time = rng.nextInt(24) * 100L + rng.nextInt(60)
      val sec = Seq((5, 1L + rng.nextInt(9), 0),
        (13, rng.nextInt(1000).toLong, 1), (91, 44000L + b, 0))
      val bio = k % 211 == 0
      val bioAttrs = Seq((1, 1L + rng.nextInt(500), 1), (2, 1L + rng.nextInt(99), 0))
      val taxa = Seq.fill(1 + k % 2, 2)(1L + rng.nextInt(9999))
      val day = date(2000, k, DrbCasts)
      fit(targets(k), DrbMaxLevels) { n =>
        val r = new Reals
        val profile = (0 until n).map(i =>
          level(r, i, (i * 5L, 0), Seq(1 -> Some((temps(i), 2))) ++
            Option.when(salinity)(
              2 -> Option.when(i == 0)((surfaceSalinity, 3)))))
        val c = AsciiCast(7000000 + k, Seq("US", "FR", "JP")(b % 3),
          500 + b, 2000, day.getMonthValue, day.getDayOfMonth,
          Some(r("time", time, 2)), Some(r("lat", latU, 3)),
          Some(r("lon", lonU, 3)), n, 0,
          Seq(AsciiVariable(1, 0, Nil)) ++
            Option.when(salinity)(AsciiVariable(2, 0, Nil)),
          None, Some(s"WMO${44000 + b}"),
          if (b % 5 == 0) Seq(AsciiPi(1, 300 + b)) else Nil,
          attrs(r, "sec", sec),
          if (bio) attrs(r, "bio", bioAttrs) else Nil,
          if (bio) taxa.zipWithIndex.map { case (set, s) =>
            set.zipWithIndex.map { case (raw, e) =>
              AsciiTaxon(100 + e, r(s"taxa_${s}_$e", raw, 2), 0, 0)
            }
          } else Nil,
          profile)
        CastWriter.render(c, r.result)
      }
    }
  }

  // ---- line counts --------------------------------------------------------

  /** `n` per-cast line counts in `[lo, hi]` that sum to `total`. */
  private def lineTargets(rng: Random, n: Int, total: Int, lo: Int,
      hi: Int): Array[Int] = {
    require(lo.toLong * n <= total && total <= hi.toLong * n)
    val t = Array.fill(n)(lo + rng.nextInt(hi - lo + 1))
    var gap = total - t.sum
    while (gap != 0) {
      val i = rng.nextInt(n)
      if (gap > 0 && t(i) < hi) { t(i) += 1; gap -= 1 }
      else if (gap < 0 && t(i) > lo) { t(i) -= 1; gap += 1 }
    }
    t
  }

  /** The record `render(n)` that is `lines` 80-character lines long,
    * for the fewest levels `n` up to `maxLevels`. A level adds fewer
    * than 80 characters, so every line count from one level's up to
    * `maxLevels`' is reached.
    */
  private def fit(lines: Int, maxLevels: Int)(render: Int => String): String = {
    var lo = 1
    var hi = maxLevels
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (render(mid).length / 80 >= lines) hi = mid else lo = mid + 1
    }
    val rec = render(lo)
    require(rec.length / 80 == lines,
      s"no level count gives a ${lines}-line cast: ${rec.length / 80} lines")
    rec
  }
}
