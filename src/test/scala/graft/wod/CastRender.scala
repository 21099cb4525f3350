package graft.wod

/** Test-side WOD native ASCII encoder, written from the format
  * description rather than by inverting [[CastParser]], so a mistake
  * shared by both cannot pass the round trip. Real fields render from
  * `reals`: key -> (raw digits, precision), value = raw / 10^precision,
  * keyed `time`, `lat`, `lon`, `meta_<var>_<i>`, `sec_<i>`, `bio_<i>`,
  * `taxa_<set>_<i>`, `dep_<level>`, `val_<level>_<varCode>`.
  */
object CastRender {

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
}
