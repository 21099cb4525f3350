package graft.wod

/** WOD native ASCII encoder, written from the format description
  * rather than by inverting [[CastParser]], so a mistake shared by both
  * cannot pass the round trip. It renders the round-trip properties'
  * casts, the small members the source specs read, and the generated
  * corpus of [[WodCorpus]]. Real fields render from
  * `reals`: key -> (raw digits, precision), value = raw / 10^precision,
  * keyed `time`, `lat`, `lon`, `meta_<var>_<i>`, `sec_<i>`, `bio_<i>`,
  * `taxa_<set>_<i>`, `dep_<level>`, `val_<level>_<varCode>`.
  */
object CastWriter {

  def intF(v: Int): String = { val s = v.toString; s"${s.length}$s" }

  /** Render (raw, prec) as a WOD real field; value = raw / 10^prec. */
  def realF(raw: Long, prec: Int): String = {
    val chars = raw.toString
    val sig = chars.count(_.isDigit)
    s"$sig${chars.length}$prec$chars"
  }

  def value(raw: Long, prec: Int): Double = raw / math.pow(10, prec)

  def render(c: AsciiCast,
      reals: Map[String, (Long, Int)]): String = {
    val b = new StringBuilder
    b.append(intF(c.castNumber))
    b.append(c.country)
    b.append(intF(c.cruise))
    b.append(f"${c.year}%4d").append(f"${c.month}%2d").append(f"${c.day}%2d")
    def real(key: String, v: Option[Double]): Unit = v match {
      case None => b.append('-')
      case Some(_) => val (raw, p) = reals(key); b.append(realF(raw, p))
    }
    real("time", c.time); real("lat", c.latitude); real("lon", c.longitude)
    b.append(intF(c.levels))
    b.append(c.profileType.toString)
    b.append(f"${c.variables.size}%2d")
    for ((v, vi) <- c.variables.zipWithIndex) {
      b.append(intF(v.code)).append(v.qcFlag.toString)
      b.append(intF(v.metadata.size))
      for ((m, mi) <- v.metadata.zipWithIndex) {
        b.append(intF(m.code))
        val (raw, p) = reals(s"meta_${vi}_$mi")
        b.append(realF(raw, p))
      }
    }
    // character data & PIs
    val charBody = new StringBuilder
    var entries = 0
    c.originatorsCruise.foreach { s =>
      charBody.append("1").append(f"${s.length}%2d").append(s); entries += 1 }
    c.originatorsStation.foreach { s =>
      charBody.append("2").append(f"${s.length}%2d").append(s); entries += 1 }
    if (c.pis.nonEmpty) {
      charBody.append("3").append(f"${c.pis.size}%2d")
      c.pis.foreach(p =>
        charBody.append(intF(p.variable)).append(intF(p.piCode)))
      entries += 1
    }
    if (entries > 0) {
      val body = entries.toString + charBody.toString
      b.append(intF(body.length)).append(body)
    } else b.append("0")
    // secondary
    def attrSection(attrs: Seq[AsciiAttr], prefix: String): Unit =
      if (attrs.isEmpty) b.append("0")
      else {
        val body = new StringBuilder(intF(attrs.size))
        for ((a, ai) <- attrs.zipWithIndex) {
          body.append(intF(a.code))
          val (raw, p) = reals(s"${prefix}_$ai")
          body.append(realF(raw, p))
        }
        b.append(intF(body.length)).append(body)
      }
    attrSection(c.secondary, "sec")
    // biological + taxa
    if (c.biological.isEmpty && c.taxa.isEmpty) b.append("0")
    else {
      val body = new StringBuilder(intF(c.biological.size))
      for ((a, ai) <- c.biological.zipWithIndex) {
        body.append(intF(a.code))
        val (raw, p) = reals(s"bio_$ai")
        body.append(realF(raw, p))
      }
      b.append(intF(body.length)).append(body)
      b.append(intF(c.taxa.size))
      for ((ts, ti) <- c.taxa.zipWithIndex) {
        b.append(intF(ts.size))
        for ((t, ei) <- ts.zipWithIndex) {
          b.append(intF(t.code))
          val (raw, p) = reals(s"taxa_${ti}_$ei")
          b.append(realF(raw, p))
          b.append(t.qcFlag.toString).append(t.originatorsFlag.toString)
        }
      }
    }
    // profile
    for ((lvl, li) <- c.profile.zipWithIndex) {
      lvl.depth match {
        case None => b.append('-')
        case Some(_) =>
          val (raw, p) = reals(s"dep_$li")
          b.append(realF(raw, p))
          b.append(lvl.depthErrorFlag.toString)
          b.append(lvl.originatorsFlag.toString)
      }
      val byVar = lvl.data.map(m => m.variableCode -> m).toMap
      for (v <- c.variables) byVar.get(v.code) match {
        case None => b.append('-')
        case Some(m) =>
          val (raw, p) = reals(s"val_${li}_${v.code}")
          b.append(realF(raw, p))
          b.append(m.qcFlag.toString).append(m.originatorsFlag.toString)
      }
    }
    // 'C' + self-including byte count, then pad to 80-char lines
    val bodyStr = b.toString
    var total = 1 + bodyStr.length
    var prev = -1
    while (total != prev) { prev = total; total = 1 + intF(prev).length + bodyStr.length }
    val rec = "C" + intF(total) + bodyStr
    rec + (" " * ((80 - rec.length % 80) % 80))
  }

  /** The position of [[oneLevel]] cast `n`: (lat, lon) in thousandths
    * of a degree, spread over many geohash cells.
    */
  def position(n: Int): (Long, Long) =
    (-60000L + n * 7919L % 120000, -170000L + n * 15485L % 340000)

  /** `casts` (records from [[render]]) as the bytes of one gzip member
    * of 80-character lines.
    */
  def member(casts: IterableOnce[String]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    val gz = new java.util.zip.GZIPOutputStream(bytes)
    casts.iterator.foreach(_.grouped(80).foreach(line =>
      gz.write((line + "\n").getBytes(java.nio.charset.StandardCharsets.US_ASCII))))
    gz.close()
    bytes.toByteArray
  }

  /** Writes `casts` as one gzip member at `p`, creating its directories. */
  def writeMember(p: java.nio.file.Path, casts: IterableOnce[String]): Unit = {
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, member(casts))
  }

  /** A valid cast of `levels` levels of variable 1 (depth `i + 1` m,
    * value `20 + i / 100`) at (lat, lon), each given as (raw, precision).
    */
  def profile(n: Int, country: String, year: Int, lat: (Long, Int),
      lon: (Long, Int), levels: Int): String = {
    val c = AsciiCast(n, country, 77, year, 6, 15, None,
      Some(value(lat._1, lat._2)), Some(value(lon._1, lon._2)), levels, 0,
      Seq(AsciiVariable(1, 0, Nil)), None, None, Nil, Nil, Nil, Nil,
      (0 until levels).map(i => AsciiLevel(Some(i + 1.0), 0, 0,
        Seq(AsciiMeasurement(1, value(2000L + i, 2), 0, 0)))))
    render(c, Map("lat" -> lat, "lon" -> lon) ++ (0 until levels).flatMap(i =>
      Seq(s"dep_$i" -> ((i + 1).toLong, 0), s"val_${i}_1" -> (2000L + i, 2))))
  }

  /** A valid one-level cast; `n` sets its number and position. */
  def oneLevel(n: Int, located: Boolean = true): String = {
    val (lat, lon) = position(n)
    val c = AsciiCast(n, "US", 77, 1999, 6, 15, None,
      Option.when(located)(value(lat, 3)), Option.when(located)(value(lon, 3)),
      1, 0, Seq(AsciiVariable(7, 0, Nil)), None, None, Nil, Nil, Nil, Nil,
      Seq(AsciiLevel(Some(123.4), 0, 0, Seq(AsciiMeasurement(7, 21.0, 0, 0)))))
    render(c, Map("lat" -> (lat, 3), "lon" -> (lon, 3),
      "dep_0" -> (1234L, 1), "val_0_7" -> (2100L, 2)))
  }
}
