package graft.wod

import java.io.Reader

/** Streaming character cursor over a WOD ASCII stream: strips CR/LF
  * (logical cast records ignore line breaks; files are 80-char
  * space-padded lines) and tracks the logical (newline-free) position
  * for the per-cast byte-count invariant.
  *
  * Constant memory — never materializes the file, so a multi-GB
  * gzipped member streams through an executor task unbuffered.
  */
final class WodCursor(in: Reader) {
  private val buf = new Array[Char](64 * 1024)
  private var len = 0
  private var off = 0
  private var lookahead: Int = -2 // -2 = none buffered, -1 = EOF
  /** Count of logical (non-newline) chars consumed. */
  var pos: Long = 0L

  private def rawNext(): Int = {
    while (true) {
      if (off < len) {
        val c = buf(off); off += 1
        if (c != '\n' && c != '\r') return c.toInt
      } else {
        len = in.read(buf); off = 0
        if (len <= 0) return -1
      }
    }
    -1
  }

  /** Peek the next logical char without consuming (-1 at EOF). */
  def peek(): Int = {
    if (lookahead == -2) lookahead = rawNext()
    lookahead
  }

  /** Consume and return the next logical char. */
  def next(): Char = {
    val c = if (lookahead != -2) { val l = lookahead; lookahead = -2; l }
    else rawNext()
    if (c < 0) throw new WodParseException(s"unexpected EOF at $pos")
    pos += 1
    c.toChar
  }

  def take(n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(next()); i += 1 }
    sb.toString
  }

  /** Consume exactly `n` chars as a signed long, allocation-free
    * (the per-field `take(n).trim` + `parseLong` pair dominated the
    * parse profile; numeric fields are the vast majority of a WOD
    * record). Accepts leading/trailing spaces and a single sign,
    * mirroring `java.lang.Long.parseLong(s.trim)` for the field
    * shapes the grammar allows; anything else is a parse error.
    */
  def takeLong(n: Int): Long = {
    var i = 0
    var v = 0L
    var sign = 1L
    var digits = 0
    var started = false  // a sign or digit was seen
    var ended = false    // trailing-space region entered
    while (i < n) {
      val c = next()
      if (c == ' ') { if (started) ended = true }
      else if (ended) throw new WodParseException(
        s"bad numeric field char '$c' at $pos")
      else if (c == '-' && !started) { sign = -1L; started = true }
      else if (c == '+' && !started) started = true
      else if (c >= '0' && c <= '9') {
        started = true; digits += 1; v = v * 10 + (c - '0')
      } else throw new WodParseException(
        s"bad numeric field char '$c' at $pos")
      i += 1
    }
    if (digits == 0) throw new WodParseException(
      s"empty numeric field at $pos")
    sign * v
  }

  /** Skip logical chars until `target` position (for error resync). */
  def skipTo(target: Long): Unit =
    while (pos < target && peek() >= 0) next()

  def atEof: Boolean = peek() < 0
}

/** Parser for the NOAA WOD native ASCII format (WOD13+/WOD18 'C'
  * records). Grammar re-derived from the public WOD format
  * documentation and validated byte-exactly against the reference's six
  * fixtures (22,002 casts across CTD/XBT/DRB/SUR/APB):
  *
  *  - int field  = 1 count char (digit; '0' → value 0, '-' → missing)
  *                 + count digits;
  *  - real field = sig-digits char, total-chars char, precision char,
  *                 then total chars of signed integer, value/10^prec;
  *                 '-' as first char → missing;
  *  - cast       = 'C', int(total bytes incl. header), int(cast#),
  *                 2ch country, int(cruise), 4ch year, 2ch month,
  *                 2ch day, real(time h), real(lat), real(lon),
  *                 int(levels), 1ch profile type, 2ch var count,
  *                 varCount × [int(code), 1ch qc, int(nMeta),
  *                             nMeta × (int code, real value)],
  *                 charDataSection, secondarySection, bioSection,
  *                 levels × [real(depth), 2 flags,
  *                           vars × (real(value), 2 flags if present)];
  *  - records are space-padded to 80-char line boundaries.
  */
object CastParser {

  private def intField(c: WodCursor): Option[Int] = {
    val f = c.next()
    if (f == '-') None
    else if (f == '0') Some(0)
    else if (f >= '1' && f <= '9') {
      Some(c.takeLong(f - '0').toInt)
    } else throw new WodParseException(
      s"bad int-field count char '$f' at ${c.pos}")
  }

  private def realField(c: WodCursor): Option[Double] = {
    val f = c.next()
    if (f == '-') None
    else if (f >= '0' && f <= '9') {
      val tot = c.next() - '0'
      val prec = c.next() - '0'
      if (tot < 0 || tot > 9 || prec < 0 || prec > 9)
        throw new WodParseException(s"bad real-field descriptor at ${c.pos}")
      Some(c.takeLong(tot) / math.pow(10, prec))
    } else throw new WodParseException(
      s"bad real-field sig char '$f' at ${c.pos}")
  }

  private def requireInt(c: WodCursor, what: String): Int =
    intField(c).getOrElse(
      throw new WodParseException(s"missing required $what at ${c.pos}"))

  private def fixedInt(c: WodCursor, n: Int, what: String): Int = {
    val s = c.take(n).trim
    if (s.isEmpty) 0
    else
      try java.lang.Integer.parseInt(s)
      catch {
        case _: NumberFormatException =>
          throw new WodParseException(s"bad $what '$s' at ${c.pos}")
      }
  }

  private def flag(c: WodCursor): Int = {
    val f = c.next()
    if (f >= '0' && f <= '9') f - '0'
    else if (f == ' ') 0
    else throw new WodParseException(s"bad flag char '$f' at ${c.pos}")
  }

  /** Per-depth struct census (instrumentation, one atomic add per
    * CAST): the projection-pruning gate asserts a header-only scan
    * builds ZERO of these. Not a metric surface — test-visible only.
    */
  private[graft] val levelStructsBuilt =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Mutable context so the caller can attribute an error to a cast
    * number even when the parse dies halfway through the record.
    */
  final class CastContext { var castNumber: Int = -1 }

  private def parseAfterByteCount(c: WodCursor, start: Long, totalBytes: Int,
      ctx: CastContext, skipProfile: Boolean = false): AsciiCast = {
    val castNumber = requireInt(c, "cast number")
    ctx.castNumber = castNumber
    val country = c.take(2)
    val cruise = intField(c).getOrElse(0)
    val year = fixedInt(c, 4, "year")
    val month = fixedInt(c, 2, "month")
    val day = fixedInt(c, 2, "day")
    val time = realField(c)
    val lat = realField(c)
    val lon = realField(c)
    val levels = requireInt(c, "level count")
    val profileType = flag(c)
    val nVars = fixedInt(c, 2, "variable count")
    val vars = Seq.fill(nVars) {
      val code = requireInt(c, "variable code")
      val qc = flag(c)
      val nMeta = intField(c).getOrElse(0)
      val meta = Seq.fill(nMeta)(AsciiAttr(requireInt(c, "metadata code"),
        realField(c).getOrElse(Double.NaN)))
      AsciiVariable(code, qc, meta)
    }

    // character data & principal investigators
    var origCruise: Option[String] = None
    var origStation: Option[String] = None
    var pis = Seq.empty[AsciiPi]
    val charBytes = intField(c).getOrElse(0)
    if (charBytes > 0) {
      val base = c.pos
      val nEntries = c.next() - '0'
      var i = 0
      while (i < nEntries) {
        val typ = c.next() - '0'
        typ match {
          case 1 => origCruise = Some(c.take(fixedInt(c, 2, "chardata len")).trim)
          case 2 => origStation = Some(c.take(fixedInt(c, 2, "chardata len")).trim)
          case 3 =>
            val nPi = fixedInt(c, 2, "PI count")
            pis = Seq.fill(nPi)(AsciiPi(requireInt(c, "PI variable"),
              requireInt(c, "PI code")))
          case t => throw new WodParseException(
            s"unknown character-data entry type $t at ${c.pos}")
        }
        i += 1
      }
      if (c.pos - base != charBytes) throw new WodParseException(
        s"character-data section consumed ${c.pos - base} of $charBytes bytes")
    }

    def attrSection(what: String): Seq[AsciiAttr] = {
      val nb = intField(c).getOrElse(0)
      if (nb == 0) Seq.empty
      else {
        val base = c.pos
        val n = requireInt(c, s"$what entry count")
        val entries = Seq.fill(n)(AsciiAttr(requireInt(c, s"$what code"),
          realField(c).getOrElse(Double.NaN)))
        if (c.pos - base != nb) throw new WodParseException(
          s"$what section consumed ${c.pos - base} of $nb bytes")
        entries
      }
    }

    val secondary = attrSection("secondary")

    // biological header + taxonomic sets
    var biological = Seq.empty[AsciiAttr]
    var taxa = Seq.empty[Seq[AsciiTaxon]]
    val bioBytes = intField(c).getOrElse(0)
    if (bioBytes > 0) {
      val base = c.pos
      val n = requireInt(c, "biological entry count")
      biological = Seq.fill(n)(AsciiAttr(requireInt(c, "biological code"),
        realField(c).getOrElse(Double.NaN)))
      if (c.pos - base != bioBytes) throw new WodParseException(
        s"biological section consumed ${c.pos - base} of $bioBytes bytes")
      val nTaxa = intField(c).getOrElse(0)
      taxa = Seq.fill(nTaxa) {
        val nEnt = intField(c).getOrElse(0)
        Seq.fill(nEnt) {
          val code = requireInt(c, "taxon code")
          val value = realField(c).getOrElse(Double.NaN)
          AsciiTaxon(code, value, flag(c), flag(c))
        }
      }
    }

    // profile data. skipProfile = the caller's projection needs no
    // per-depth data (header-only analytics): the section is still
    // DECODED field by field — same grammar, same errors, same
    // byte-count invariant, so the accepted-cast set is identical in
    // every projection (a corrupt profile fails the cast either way) —
    // but no AsciiLevel/AsciiMeasurement structs or Seqs are built.
    // Depth structs dominate a cast's allocation profile (levels ×
    // vars objects per cast vs a handful of header fields), so
    // header-only scans skip most of the transform cost.
    val profile =
      if (skipProfile) {
        var l = 0
        while (l < levels) {
          val depth = realField(c)
          if (depth.isDefined) { flag(c); flag(c) }
          vars.foreach { _ =>
            val value = realField(c)
            if (value.isDefined) { flag(c); flag(c) }
          }
          l += 1
        }
        Seq.empty
      } else {
        levelStructsBuilt.addAndGet(levels.toLong)
        Seq.fill(levels) {
          val depth = realField(c)
          val (df, of) =
            if (depth.isDefined) (flag(c), flag(c)) else (0, 0)
          val data = vars.map { v =>
            val value = realField(c)
            value.map(x => AsciiMeasurement(v.code, x, flag(c), flag(c)))
          }.collect { case Some(m) => m }
          AsciiLevel(depth, df, of, data)
        }
      }

    val used = c.pos - start
    if (used != totalBytes) throw new WodParseException(
      s"cast $castNumber consumed $used bytes, header declared $totalBytes")

    AsciiCast(castNumber, country, cruise, year, month, day, time, lat, lon,
      levels, profileType, vars, origCruise, origStation, pis, secondary,
      biological, taxa, profile)
  }

  /** Iterate all casts in a stream with per-cast error isolation
    * (reference C5 semantics, `DatasetYearTrain.java:190-192`): a cast
    * that fails to parse yields a Left and, when its declared byte
    * count was readable, the parser resyncs to the next record; without
    * a byte count the rest of the file is undecodable and iteration
    * stops after the error. An `IOException` from `in` is not a cast
    * error: it propagates, and the stream's owner decides what it means.
    */
  def casts(in: Reader, dataset: String,
      skipProfile: Boolean = false): Iterator[Either[CastError, AsciiCast]] =
    new Iterator[Either[CastError, AsciiCast]] {
      private val c = new WodCursor(in)
      private var finished = false

      private def skipPadding(): Unit =
        while (!c.atEof && c.peek() == ' '.toInt) c.next()

      override def hasNext: Boolean = {
        if (finished) return false
        skipPadding()
        if (c.atEof) { finished = true; false } else true
      }

      override def next(): Either[CastError, AsciiCast] = {
        if (!hasNext) throw new NoSuchElementException
        val start = c.pos
        var declaredEnd = -1L
        val ctx = new CastContext
        try {
          val ver = c.next()
          if (ver != 'C') throw new WodParseException(
            s"unsupported WOD record version '$ver' at ${c.pos} (want 'C')")
          val totalBytes = requireInt(c, "record byte count")
          declaredEnd = start + totalBytes
          Right(parseAfterByteCount(c, start, totalBytes, ctx, skipProfile))
        } catch {
          case e: java.io.IOException => throw e
          case e: Exception =>
            // resync to the declared record end when the cursor hasn't
            // overrun it — INCLUDING the ==-case (an error thrown on
            // the record's last byte, e.g. a bad final flag, leaves the
            // cursor exactly at the next record; stopping there would
            // silently drop the rest of the stream). Only a cursor
            // PAST the boundary (or no readable count) is undecodable.
            if (declaredEnd >= c.pos && declaredEnd > start) c.skipTo(declaredEnd)
            else finished = true // undecodable remainder — stop after error
            Left(CastError(dataset, ctx.castNumber,
              s"parse error at byte $start: ${e.getMessage}"))
        }
      }
    }
}
