package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry
import graft.wod.{CastWriter, Geohash, WodPipeline}

/** Codegen health gate. Round 17's audit found that
  * `BkSampleQuantile.doGenCode` emitted a hard-coded local variable
  * (`Object r = ...`), so any plan evaluating the kernel TWICE in one
  * codegen context (q33/q34's dual-quantile projection) failed janino
  * compilation and silently fell back to interpreted execution — 49
  * `Redefinition of local variable` traces in the round's test log,
  * with every test still green. This suite makes that failure mode
  * loud and un-landable:
  *
  *  1. every kernel with a custom `doGenCode` is evaluated TWICE
  *     (with distinct arguments, so common-subexpression elimination
  *     can't collapse the pair) in one projection, under
  *     `spark.sql.codegen.fallback=false` and
  *     `spark.sql.codegen.factoryMode=CODEGEN_ONLY` — a codegen
  *     compile error is a test failure, not a log line;
  *  2. a source scan asserts the set of `doGenCode` implementors
  *     equals the set this suite covers, so the NEXT kernel cannot
  *     land without joining the dual-evaluation gate;
  *  3. a repeated pass of the serving mix recompiles none of its
  *     code: the compiled-class cache
  *     ([[GraftSession.CodegenCacheEntries]]) holds every class one
  *     pass generates.
  */
class CodegenHealthSpec extends AnyFunSuite {

  /** Every case class in main that overrides doGenCode, found by
    * scanning the source tree (tests run from the repo root under
    * sbt). CodegenFallback-only expressions (e.g. ZOrderKey) are
    * excluded by construction: they have no hand-written codegen to
    * collide.
    */
  private def scanDoGenCodeImplementors(): Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected to run from the repo root, cwd=${System.getProperty("user.dir")}")
    val caseClass = """^\s*case class (\w+)[\[(]""".r
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        var cls: String = null
        Files.readAllLines(p).asScala.flatMap { line =>
          caseClass.findFirstMatchIn(line).foreach(m => cls = m.group(1))
          if (line.contains("def doGenCode(") && cls != null) Some(cls)
          else None
        }
      }.toSet
  }

  private val covered = Set(
    "ArrayDotProduct", "ArrayDotQ8", "ArrayNorm", "Int8Quantize",
    "Int8QuantStats", "GeohashEncode", "KmvEstimate", "BkSampleQuantile",
    "QuantileBucket", "PqAdcDistance", "PqEncode")

  test("every doGenCode implementor is covered by the dual-eval gate") {
    val found = scanDoGenCodeImplementors()
    assert(found === covered,
      s"""doGenCode implementors changed. Newly found: ${(found -- covered).mkString(", ")};
         |no longer present: ${(covered -- found).mkString(", ")}.
         |Add each new kernel to CodegenHealthSpec's dual-evaluation test
         |(two occurrences with distinct arguments in ONE projection) and
         |update `covered`.""".stripMargin)
  }

  test("every codegen'd kernel survives double evaluation in one " +
      "compiled stage (codegen.fallback=false)") {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = GraftSession.builder("local[2]", 2)
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .getOrCreate()
    try {
      // scalar kernels: two occurrences each, arguments swapped or
      // varied so the pair cannot be CSE'd into one evaluation
      val r = spark.sql(
        """SELECT
             array_dot(a, b)            AS d1,
             array_dot(b, a)            AS d2,
             array_norm(a)              AS n1,
             array_norm(b)              AS n2,
             array_dot_q8(qa, qb)       AS q1,
             array_dot_q8(qb, qa)       AS q2,
             int8_quantize(a, 2.0d)     AS z1,
             int8_quantize(b, 4.0d)     AS z2,
             int8_quant_stats(a)        AS s1,
             int8_quant_stats(b)        AS s2,
             geohash_encode(10.0d, 20.0d) AS g1,
             geohash_encode(20.0d, 10.0d) AS g2
           FROM VALUES (
             array(1.0d, 2.0d), array(3.0d, 4.0d),
             CAST(array(1, 2) AS ARRAY<TINYINT>),
             CAST(array(5, 6) AS ARRAY<TINYINT>)
           ) AS t(a, b, qa, qb)""").head()
      assert(r.getDouble(0) === 11.0 && r.getDouble(1) === 11.0)
      assert(r.getDouble(2) === math.sqrt(5.0))
      assert(r.getDouble(3) === 5.0)
      assert(r.getLong(4) === 17L && r.getLong(5) === 17L)
      // amax=2: [1,2]·127/2 → [64 (floor(63.5+.5)), 127]
      assert(r.getSeq[Byte](6) === Seq[Byte](64, 127))
      // amax=4: [3,4]·127/4 → [floor(95.25+.5)=95, 127]
      assert(r.getSeq[Byte](7) === Seq[Byte](95, 127))
      assert(r.getSeq[Double](8).head === 2.0)
      assert(r.getSeq[Double](9).head === 4.0)
      assert(r.getString(10) === graft.wod.Geohash.encode(10.0, 20.0))
      assert(r.getString(11) === graft.wod.Geohash.encode(20.0, 10.0))

      // dimension mismatch → NULL (the zip_with semantics the kernel
      // replaced; equal dims are an SQ8-store invariant, so a mismatch
      // is corrupt data and must be visible, not a truncated score)
      val mm = spark.sql(
        """SELECT array_dot_q8(CAST(array(1, 2, 3) AS ARRAY<TINYINT>),
                               CAST(array(1, 2) AS ARRAY<TINYINT>)) AS d
        """).head()
      assert(mm.isNullAt(0), "array_dot_q8 must be null on a dim mismatch")

      // pq_adc: two occurrences (distinct args — no CSE), unsigned
      // decode of a wrapped code byte (-128 → id 128), and the two
      // NULL contracts (length mismatch, out-of-range code id)
      val adc = spark.sql(
        """SELECT
             pq_adc(CAST(array(1, 0) AS ARRAY<TINYINT>),
                    array(array(0.5d, 1.25d), array(2.0d, 3.5d))) AS a1,
             pq_adc(CAST(array(0, 1) AS ARRAY<TINYINT>),
                    array(array(0.5d, 1.25d), array(2.0d, 3.5d))) AS a2,
             pq_adc(CAST(array(-128) AS ARRAY<TINYINT>),
                    array(transform(sequence(0, 128),
                      gx -> CAST(gx AS DOUBLE)))) AS a3,
             pq_adc(CAST(array(0) AS ARRAY<TINYINT>),
                    array(array(1.0d), array(2.0d))) AS a4,
             pq_adc(CAST(array(3) AS ARRAY<TINYINT>),
                    array(array(1.0d, 2.0d))) AS a5,
             pq_adc(CAST(array(0) AS ARRAY<TINYINT>),
                    array(CAST(NULL AS ARRAY<DOUBLE>))) AS a6,
             pq_adc(CAST(array(0) AS ARRAY<TINYINT>),
                    array(array(CAST(NULL AS DOUBLE)))) AS a7,
             pq_adc(CAST(array(CAST(NULL AS TINYINT)) AS ARRAY<TINYINT>),
                    array(array(1.0d))) AS a8""").head()
      assert(adc.getDouble(0) === 3.25, "codes [1,0]: 1.25 + 2.0")
      assert(adc.getDouble(1) === 4.0, "codes [0,1]: 0.5 + 3.5")
      assert(adc.getDouble(2) === 128.0,
        "byte -128 must decode UNSIGNED to table entry 128")
      assert(adc.isNullAt(3), "pq_adc must be null on a length mismatch")
      assert(adc.isNullAt(4), "pq_adc must be null on an out-of-range code")
      assert(adc.isNullAt(5),
        "pq_adc must be null (not NPE) on a NULL distance table")
      assert(adc.isNullAt(6),
        "pq_adc must be null on a NULL table ENTRY — a primitive read " +
          "would hand the corrupt candidate distance 0 (best possible)")
      assert(adc.isNullAt(7), "pq_adc must be null on a NULL code byte")

      // aggregate-output kernels: kmv_estimate twice over two sketches
      val kmv = spark.sql(
        """SELECT kmv_estimate(s1) AS e1, kmv_estimate(s2) AS e2 FROM (
             SELECT kmv_sketch(h, 8) AS s1, kmv_sketch(h, 16) AS s2
             FROM VALUES (10L), (20L), (30L) AS t(h))""").head()
      assert(kmv.getLong(0) === 3L && kmv.getLong(1) === 3L)

      // the EXACT q33/q34 shape that exposed the round-17 collision:
      // median AND p90 projected from the same merged sketch in one
      // select (Analytics2.scala:803-806)
      val bk = spark.sql(
        """SELECT bksample_quantile(sk, 0.5d) AS med,
                  bksample_quantile(sk, 0.9d) AS p90 FROM (
             SELECT bksample_merge(sk) AS sk FROM (
               SELECT g, bksample_sketch(h, x, 8) AS sk FROM VALUES
                 (1, 1L, 10L), (1, 2L, 20L), (2, 3L, 30L), (2, 4L, 40L)
               AS t(g, h, x) GROUP BY g))""").head()
      assert(bk.getLong(0) === 20L) // sorted {10,20,30,40}, floor(3·.5)=1
      assert(bk.getLong(1) === 30L) // floor(3·.9)=2

      // PqEncode rides a reference-object codebook (no SQL surface;
      // the PQ index builders construct it through the bridge) — two
      // instances with DIFFERENT codebooks in one projection, plus
      // the NULL contracts (wrong length, NULL element) and the
      // unsigned byte wrap (a 130-codeword subspace whose argmin is
      // id 129 must store as byte -127)
      locally {
        import org.apache.spark.sql.graft.{GraftExpressionBridge => B, PqEncode}
        // cb1: 1 subspace of 2 dims, codewords {(0,0), (1,1)};
        // cb2: 2 subspaces of 1 dim each, codewords {5} / {3, 7}
        val cb1: Array[Array[Array[Double]]] =
          Array(Array(Array(0.0, 0.0), Array(1.0, 1.0)))
        val cb2: Array[Array[Array[Double]]] =
          Array(Array(Array(5.0)), Array(Array(3.0), Array(7.0)))
        // cb3: one subspace, 130 codewords at x = c for c in 0..129
        val cb3: Array[Array[Array[Double]]] =
          Array(Array.tabulate(130)(c => Array(c.toDouble)))
        val pe = spark.range(1).select(
            B.column(PqEncode(B.expression(
              expr("array(0.9d, 1.1d)")), cb1)).as("c1"),
            B.column(PqEncode(B.expression(
              expr("array(4.0d, 6.9d)")), cb2)).as("c2"),
            B.column(PqEncode(B.expression(
              expr("array(129.2d)")), cb3)).as("c3"),
            B.column(PqEncode(B.expression(
              expr("array(1.0d)")), cb1)).as("c4"),
            B.column(PqEncode(B.expression(
              expr("array(1.0d, CAST(NULL AS DOUBLE))")), cb1)).as("c5"))
          .head()
        assert(pe.getSeq[Byte](0) === Seq[Byte](1),
          "(0.9,1.1) is nearer (1,1) than (0,0)")
        assert(pe.getSeq[Byte](1) === Seq[Byte](0, 1),
          "subspace 0: 4.0→code 0 (only); subspace 1: 6.9→7 (code 1)")
        assert(pe.getSeq[Byte](2) === Seq[Byte](-127),
          "argmin id 129 must wrap to byte -127 (unsigned decode)")
        assert(pe.isNullAt(3),
          "a row of the wrong length must encode as NULL, not pad")
        assert(pe.isNullAt(4),
          "a NULL element must encode as NULL — the HOF's null " +
            "propagation handed the argmin to the null codeword")
      }

      // QuantileBucket rides a literal boundary array (no SQL surface;
      // the z-order write path builds it through the bridge) — two
      // instances with DIFFERENT boundaries in one projection
      import org.apache.spark.sql.graft.{GraftExpressionBridge => B, QuantileBucket}
      val qb = spark.range(1).select(
          B.column(QuantileBucket(
            B.expression(lit(7.0)), Array(5.0))).as("u"),
          B.column(QuantileBucket(
            B.expression(lit(1.5)), Array(1.0, 2.0))).as("v"))
        .head()
      assert(qb.getInt(0) === 1 && qb.getInt(1) === 1)
    } finally spark.stop()
  }

  /** (compiles, generated classes, compile ms) since JVM start. */
  private def codegenCounters: (Long, Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      CodeGenerator.compileTime / 1e6)

  /** Spark's JVM-wide compiled-class cache, a guava cache keyed by
    * (class loader, source); Spark gives it no public accessor.
    */
  private def compiledClassCache: java.util.Map[AnyRef, AnyRef] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("cache").invoke(cache)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[AnyRef, AnyRef]]
      .asMap()
  }

  /** `body`'s result and the source of every class compiled while it
    * runs: CodeGenerator logs each source at DEBUG before compiling it.
    */
  private def withCompiledSources[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = CodeGenerator.getClass.getName.stripSuffix("$")
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("compiled-sources", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("/* 001 */")) sources.add(m)
      }
    }
    capture.start()
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val level = logger.getLevel
    Configurator.setLevel(name, Level.DEBUG)
    logger.addAppender(capture)
    logger.setAdditive(false)
    try (body, sources.asScala.toSeq)
    finally {
      logger.removeAppender(capture)
      logger.setAdditive(true)
      Configurator.setLevel(name, level)
      capture.stop()
    }
  }

  test("the compiled-class cache keeps a whole serving pass, and a " +
      "repeat recompiles none of it") {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = GraftSession.builder("local[2]", 2)
      // log whole sources, so two sources compare in full
      .config("spark.sql.codegen.logging.maxLines", "-1")
      .getOrCreate()
    val tmp = Files.createTempDirectory("graft_codegen_cache")
    try {
      // 40 one-level casts in two members
      val in = tmp.resolve("in")
      Seq("CTDO1.gz" -> (1 to 20), "CTDO2.gz" -> (21 to 40)).foreach {
        case (file, casts) =>
          val p = in.resolve(s"CTD/OBS/$file")
          Files.createDirectories(p.getParent)
          val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
          try casts.foreach(n =>
            gz.write(CastWriter.oneLevel(n).getBytes("US-ASCII")))
          finally gz.close()
      }
      val out = tmp.resolve("out").toString
      WodPipeline.convertBulk(spark, WodPipeline.Config(input = in.toString,
        output = out, datasets = Seq("CTD")))
      val prefix = {
        val (lat, lon) = CastWriter.position(1)
        Geohash.encode(CastWriter.value(lat, 3), CastWriter.value(lon, 3))
          .take(4)
      }

      val dir = "/root/testdata/sf0.001"
      val queries = Seq("q1_pricing_summary", "q40_sketch_planned_join",
        "em1_knn_top1", "sim4_ivf_ann_top1", "sim20_ivf_pq_stored_top1",
        "sim24_ivfpq_bounded_rerank").map(Registry.byName)
      val actions: Seq[(String, () => Int)] =
        queries.map(q => q.name -> (() => q.fn(spark, dir).collect().length)) ++
        Seq(
          "wod_full" -> (() => spark.read.format("wod").load(in.toString)
            .collect().length),
          "wod_projected" -> (() => spark.read.format("wod")
            .load(in.toString).select("castNumber", "geohash3")
            .collect().length),
          "geohash_prefix" -> (() => spark.read.parquet(s"$out/bulk/casts")
            .filter(col("geohash").like(prefix + "%"))
            .select("castNumber", "geohash").collect().length))
      case class Run(name: String, rows: Int, compiles: Long,
          classes: Long, compileMs: Double, sources: Seq[String])
      def pass(): Seq[Run] = actions.map { case (name, run) =>
        val (c0, k0, t0) = codegenCounters
        val (rows, sources) = withCompiledSources(run())
        val (c1, k1, t1) = codegenCounters
        Run(name, rows, c1 - c0, k1 - k0, t1 - t0, sources)
      }

      pass() // builds the stored indexes the sim queries serve from
      compiledClassCache.clear()
      val first = pass()
      val kept = new java.util.HashSet[AnyRef](compiledClassCache.keySet)
      val second = pass()
      assert(first.forall(_.rows > 0), s"every action returns rows: $first")
      assert(second.map(_.rows) === first.map(_.rows))

      // from an empty cache, one pass compiles each source it needs once
      val needed = first.map(_.compiles).sum
      assert(needed > 100, "one pass must need more compiled classes " +
        s"than Spark's default cache holds (100), got $needed")
      assert(kept.size === needed, "the cache must keep every source " +
        s"one pass compiles: $needed compiled, ${kept.size} kept")
      assert(compiledClassCache.keySet.containsAll(kept),
        "the repeat pass evicted first-pass classes")

      // a repeat compiles no first-pass source again. What it may
      // compile is source no first-pass source equals: Spark names a
      // LIMIT's counter field from a JVM-wide sequence
      // (`_limit_counter_<n>`), AQE numbers whole-stage ids in
      // stage-creation order, which varies with timing, and now and
      // then plans a variant the first pass did not run. The count
      // varies between runs, so it is not pinned.
      val firstSources = first.flatMap(_.sources).toSet
      for (r <- second) {
        assert(r.compiles === r.sources.size,
          s"${r.name}: ${r.compiles} compiles, ${r.sources.size} captured")
        if (r.sources.isEmpty)
          assert((r.classes, r.compileMs) === ((0L, 0.0)), r.name)
        assert(!r.sources.exists(firstSources),
          s"${r.name} compiled a first-pass source again")
      }
      // pinned: the stored IVF-PQ probes' regime job
      // (IvfStore.probeRegime) has a LIMIT, so its stage compiles on
      // every action; no other action plans a LIMIT
      assert(second.filter(_.sources.exists(_.contains("_limit_counter_")))
        .map(_.name) === Seq("sim20_ivf_pq_stored_top1",
          "sim24_ivfpq_bounded_rerank"))
    } finally spark.stop()
  }
}
