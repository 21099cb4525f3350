/** Graft's native vector kernels, placed under org.apache.spark.sql so
  * they can use Spark's private[sql] expression utilities (the standard
  * pattern for third-party Catalyst extensions built against the
  * classic API).
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two array<double> columns: a tight
  * primitive loop inside whole-stage codegen — no boxing, no per-element
  * closure dispatch (unlike `aggregate`/`zip_with` higher-order
  * functions). This is the hot kernel of the O(n²) similarity joins and
  * the LSH bucketing (SURVEY §7.3(b): custom Expression where built-ins
  * can't express the op efficiently).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Codegen'd EXACT integer dot product over two array<tinyint>
  * columns — the scan kernel of the stored-SQ8 probe
  * ([[graft.operators.IvfStore.probe]]): per
  * candidate × per dimension, so a `zip_with`+`aggregate` HOF chain
  * here costs per-element closure dispatch on the hottest loop of the
  * quantized tier (measured: the HOF form made the stored-SQ8 probe
  * ~11× slower than the float probe at sf0.1; this kernel is the
  * fix). Accumulates in long — 64 dims × 127² ≪ 2^63, overflow-free
  * by construction for any real embedding width. A dimension
  * mismatch yields NULL (the `zip_with` HOF semantics this kernel
  * replaced): equal dims are an invariant of the SQ8 store, so a
  * mismatch means corrupt or mixed-width data — a visible null beats
  * a plausible truncated score.
  */
case class ArrayDotQ8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.ByteType),
      ArrayType(org.apache.spark.sql.types.ByteType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "array_dot_q8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getByte(i).toLong * y.getByte(i); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((long) $a.getByte($i)) * $b.getByte($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Codegen'd ASYMMETRIC-DISTANCE lookup sum — the scan kernel of the
  * PQ codec ([[graft.operators.IvfStore.probe]] and the
  * GRAFT_ANN expansions): per candidate, sum the m per-subspace
  * distance-table entries its code bytes select. The HOF spelling
  * (`aggregate(zip_with(...))` with per-entry DECIMAL(20,6) casts)
  * pays closure dispatch plus five BigDecimal operations per
  * SUBSPACE on the hottest loop of the tier — this kernel is a tight
  * primitive loop inside whole-stage codegen.
  *
  * Bit-equivalence to the DECIMAL formulation it replaces (so stored
  * rankings and oracles are unchanged): every table entry is
  * 6-dp-rounded by construction, so `rint(entry·1e6)` recovers its
  * exact decimal integer (entries are ≪ 2^52/1e6); the long sum of
  * those integers is the exact decimal sum; the final `/ 1e6` is an
  * exactly-rounded IEEE divide of an exactly-representable long —
  * the same nearest-double the DECIMAL(20,6)→double cast produced.
  * Order-independent (long adds commute), so the ranking stays
  * bit-deterministic under any partition order.
  *
  * Code bytes decode UNSIGNED (`& 0xFF` — ids 128-255 store as
  * negative bytes). A length mismatch or an out-of-range code id
  * yields NULL (corrupt data stays visible — [[ArrayDotQ8]]'s
  * discipline; note NULL-scored candidates are then dropped at the
  * `topk_pairs` cut, see its scaladoc).
  */
case class PqAdcDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.ByteType),
      ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val qtab = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (m != qtab.numElements()) return null
    var acc = 0L
    var j = 0
    while (j < m) {
      // corrupt input — a NULL code byte, a NULL table, a code past
      // the table's end, or a NULL table ENTRY — is a visible NULL,
      // never an NPE and never a silent 0 (primitive accessors read
      // null elements as 0, which would hand the corrupt candidate
      // the best-possible distance); this matches the NULL the
      // DECIMAL HOF formulation produced on the same rows
      if (codes.isNullAt(j) || qtab.isNullAt(j)) return null
      val c = codes.getByte(j) & 0xFF
      val tj = qtab.getArray(j)
      if (c >= tj.numElements() || tj.isNullAt(c)) return null
      acc += java.lang.Math.rint(tj.getDouble(c) * 1e6).toLong
      j += 1
    }
    acc / 1e6
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val tj = ctx.freshName("tj")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $m = $a.numElements();
         |if ($m != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  long $acc = 0L;
         |  boolean $bad = false;
         |  for (int $j = 0; $j < $m && !$bad; $j++) {
         |    if ($a.isNullAt($j) || $b.isNullAt($j)) { $bad = true; }
         |    else {
         |      int $c = ((int) $a.getByte($j)) & 0xFF;
         |      org.apache.spark.sql.catalyst.util.ArrayData $tj =
         |        $b.getArray($j);
         |      if ($c >= $tj.numElements() || $tj.isNullAt($c)) {
         |        $bad = true;
         |      } else {
         |        $acc += (long) java.lang.Math.rint(
         |          $tj.getDouble($c) * 1.0E6D);
         |      }
         |    }
         |  }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $acc / 1.0E6D; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Codegen'd PQ ENCODE — the index-BUILD kernel of the PQ tiers
  * ([[graft.operators.IvfStore.write]] and
  * [[graft.operators.IvfStore.encode]]): code j = argmin
  * over subspace j's codewords of the 6-dp-rounded subspace L2, ties
  * to the smaller code id — sim9's exact rule, previously an
  * interpreted `transform(array_min(transform(...)))` HOF chain that
  * paid per-element closure dispatch times `codes` codewords per
  * subspace (measured ~70% of IVF-PQ build wall-clock — ~40 µs/row
  * at m=4, codes=16, dims=64; at 100 TB ingest that is the dominant
  * term). The codebook rides as a REFERENCE OBJECT (a driver-
  * resident `double[j][c][i]`, O(1) plan nodes — the same
  * plan-literal-size discipline as the broadcast quantizer, shipped
  * once per task closure), and the whole argmin is one primitive
  * loop nest inside whole-stage codegen.
  *
  * Bit-parity with the HOF on VALID rows: the fold over subspace
  * dims is left-to-right in the same order, and the 6-dp round is
  * the SAME arithmetic Spark's `round(x, 6)` performs
  * (`BigDecimal.valueOf(x).setScale(6, HALF_UP)` — one BigDecimal
  * op per (subspace, codeword), never per element); ids past 127
  * wrap to the negative byte range by the plain two's-complement
  * narrowing (`(byte) c` ≡ `pmod(c+128,256)-128`). Proven by the
  * unchanged sim9/sim17–sim25 oracle hashes and the dual-eval
  * CODEGEN_ONLY gate. CORRUPT rows (a NULL element, or a length ≠
  * m·sub) yield NULL — visible, per [[PqAdcDistance]]'s discipline —
  * where the HOF's null propagation silently handed the argmin to
  * whichever codeword's distance went null (nulls sort first in
  * `array_min`): a behavior change only on rows that were never
  * validly encodable.
  */
case class PqEncode(child: Expression,
    codebook: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  require(codebook.nonEmpty && codebook.forall(_.nonEmpty) &&
    codebook.forall(cs => cs.forall(_.length == cs(0).length)),
    "pq_encode: codebook must be non-empty with uniform subspace dims")
  require(codebook.forall(_.length <= 256),
    "pq_encode: at most 256 codewords per subspace (one byte)")

  private val sub: Int = codebook(0)(0).length
  private val dims: Int = codebook.map(_(0).length).sum

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any): Any = {
    val out = PqEncode.encode(a.asInstanceOf[ArrayData], codebook, dims)
    if (out == null) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbk = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      s"""
         |byte[] $out = org.apache.spark.sql.graft.PqEncode.encode(
         |  $a, $cbk, $dims);
         |if ($out == null) { ${ev.isNull} = true; }
         |else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions
         |    .UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PqEncode {
  /** The shared primitive loop nest (interpreted eval and codegen both
    * call it — the arithmetic exists exactly once, so the dual-eval
    * gate is a consistency check, not a divergence risk). Returns
    * null on a corrupt row (wrong length or a NULL element).
    */
  def encode(arr: ArrayData, codebook: Array[Array[Array[Double]]],
      dims: Int): Array[Byte] = {
    if (arr.numElements() != dims) return null
    val e = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      if (arr.isNullAt(i)) return null
      e(i) = arr.getDouble(i)
      i += 1
    }
    val m = codebook.length
    val out = new Array[Byte](m)
    var j = 0
    var off = 0
    while (j < m) {
      val cws = codebook(j)
      val sub = cws(0).length
      var bestD = 0.0
      var bestC = 0
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var acc = 0.0
        var k = 0
        while (k < sub) { // left-to-right, the HOF aggregate's order
          val d = e(off + k) - cw(k)
          acc += d * d
          k += 1
        }
        // Spark round(x, 6): BigDecimal.valueOf (Double.toString
        // based, = scala BigDecimal(x)), HALF_UP
        val r = java.math.BigDecimal.valueOf(acc)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (c == 0 || r < bestD) { bestD = r; bestC = c }
        c += 1
      }
      out(j) = bestC.toByte // ids 128-255 wrap negative, decoded unsigned
      off += sub
      j += 1
    }
    out
  }
}

/** Codegen'd int8 absmax quantization of an array<double> given its
  * precomputed scale denominator: q_i = sign(x_i) · min(127,
  * ⌊|x_i|·127/amax + ½⌋) as a 1-byte value — EXACTLY the sim8/sim13
  * quantization rule (integral before the narrowing cast, so every
  * engine reproduces it). `amax` arrives as a scalar argument so it is
  * evaluated once per ROW — the HOF spelling (`transform` referencing
  * an amax column) re-evaluates the reduction per ELEMENT after
  * projection collapse (the Int8QuantStats trap, same fix). amax ≤ 0
  * (the zero vector) quantizes to all zeros. The elements are never
  * null, but the type declares them nullable: stored SQ8 lists
  * ([[graft.operators.IvfStore]]) keep the optional-element parquet
  * schema their files have always carried.
  */
case class Int8Quantize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = true)
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val amax = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Byte](n)
    if (amax > 0.0) {
      val s = 127.0 / amax
      var i = 0
      while (i < n) {
        val v = x.getDouble(i)
        val m = math.min(127.0, math.floor(math.abs(v) * s + 0.5))
        out(i) = (math.signum(v) * m).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |if ($b > 0.0) {
         |  double $s = 127.0 / $b;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $v = $a.getDouble($i);
         |    double $m = java.lang.Math.min(127.0,
         |      java.lang.Math.floor(java.lang.Math.abs($v) * $s + 0.5));
         |    $out[$i] = (byte) (java.lang.Math.signum($v) * $m);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Codegen'd L2 norm of an array<double>. */
case class ArrayNorm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getDouble(i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Single-pass int8 scalar-quantization statistics for an
  * array<double> embedding: returns `[amax, sum_abs_q, err_units]`
  * where `amax` = max |x_i| (the per-vector scale denominator),
  * `sum_abs_q` = Σ |q_i| for q_i = min(floor(|x_i|·127/amax + 0.5),
  * 127) — the quantized magnitudes — and `err_units` =
  * Σ floor(|x_i − q_i/scale|·1e9 + 0.5), the reconstruction error in
  * integer nano-units.
  *
  * Why this exact formulation: every output is either a max or a sum
  * of INTEGER-VALUED doubles (each ≪ 2^53), so the result is
  * bit-identical under any partition/summation order and any engine —
  * an oracle can replay the same floor arithmetic in SQL. (A float
  * MSE would depend on summation order; engine round() functions
  * disagree on negative ties, so rounding is spelled floor(x+0.5) on
  * magnitudes.) A zero vector (amax = 0) yields [0, 0, 0].
  *
  * One codegen'd pass, no per-element lambda dispatch — the same
  * rationale as [[ArrayDotProduct]]; a HOF formulation referencing a
  * precomputed scale column would re-evaluate the amax reduction per
  * element after projection collapse.
  */
case class Int8QuantStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "int8_quant_stats"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(x.getDouble(i)); if (v > amax) amax = v; i += 1
    }
    var sq = 0.0
    var eu = 0.0
    if (amax > 0) {
      val scale = 127.0 / amax
      i = 0
      while (i < n) {
        val av = math.abs(x.getDouble(i))
        var q = math.floor(av * scale + 0.5)
        if (q > 127) q = 127
        sq += q
        eu += math.floor(math.abs(av - q / scale) * 1e9 + 0.5)
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(amax, sq, eu))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val amax = ctx.freshName("amax")
      val scale = ctx.freshName("scale")
      val sq = ctx.freshName("sq")
      val eu = ctx.freshName("eu")
      val av = ctx.freshName("av")
      val q = ctx.freshName("q")
      s"""
         |int $n = $a.numElements();
         |double $amax = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $av = java.lang.Math.abs($a.getDouble($i));
         |  if ($av > $amax) $amax = $av;
         |}
         |double $sq = 0.0;
         |double $eu = 0.0;
         |if ($amax > 0) {
         |  double $scale = 127.0 / $amax;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $av = java.lang.Math.abs($a.getDouble($i));
         |    double $q = java.lang.Math.floor($av * $scale + 0.5);
         |    if ($q > 127) $q = 127;
         |    $sq += $q;
         |    $eu += java.lang.Math.floor(
         |      java.lang.Math.abs($av - $q / $scale) * 1e9 + 0.5);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new double[] {$amax, $sq, $eu});
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GraftExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
