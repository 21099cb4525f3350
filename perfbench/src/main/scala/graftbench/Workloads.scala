package graftbench

import java.io.{ByteArrayOutputStream, EOFException, FileInputStream, StringReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.queries.Registry
import graft.wod.{AsciiCast, CastParser, Transform, WodPipeline, WodSource}
import Main.{deleteTree, files, manifestFiles, median, parquetBytes}

/** Layer probes over a workload's generated WOD corpus and output,
  * measured around single calls into each layer.
  */
object Probes {

  private def timeIt[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Whole member, or the decodable prefix of a truncated one. */
  def gunzip(path: String): Array[Byte] = {
    val in = new GZIPInputStream(new FileInputStream(path), 64 * 1024)
    val out = new ByteArrayOutputStream(1 << 20)
    val buf = new Array[Byte](64 * 1024)
    try {
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    } catch { case _: EOFException => () }
    finally in.close()
    out.toByteArray
  }

  /** Files read by the file scans of an executed query. */
  def scanFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  /** The geohash-prefix read the pruning rule serves. Returns the rows. */
  def likeRead(spark: SparkSession, stores: Seq[String],
      prefix: String): (Array[org.apache.spark.sql.Row], Long) = {
    val df = stores.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .filter(col("geohash").like(prefix + "%"))
      .select("castNumber", "geohash")
    val rows = df.collect()
    (rows, scanFiles(df))
  }

  def dsv2Full(spark: SparkSession, corpus: String): Long = {
    val obs = Observation()
    spark.read.format("wod").load(corpus).observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def dsv2Pruned(spark: SparkSession, corpus: String): Array[Int] =
    spark.read.format("wod").load(corpus).select("castNumber", "geohash3")
      .collect().map(_.getInt(0))

  /** gunzip / parse / transform / source probes over the corpus. */
  def wodLayers(spark: SparkSession, tracer: Tracer,
      m: JsonNode): Map[String, Double] = {
    val fs = manifestFiles(m).map(f => (f.get("dataset").asText, f.get("path").asText))
    val reps = 3
    val gz = (1 to reps).map(_ => timeIt(fs.map { case (ds, p) => (ds, gunzip(p)) }))
    val texts = gz.head._1.map { case (ds, b) =>
      (ds, new String(b, StandardCharsets.US_ASCII)) }
    val asciiMb = gz.head._1.map(_._2.length.toLong).sum / 1e6
    var parseErrors = 0L
    val parsed = (1 to reps).map { _ =>
      timeIt {
        val ok = mutable.ArrayBuffer.empty[(String, AsciiCast)]
        var bad = 0L
        texts.foreach { case (ds, t) =>
          CastParser.casts(new StringReader(t), ds).foreach {
            case Right(c) => ok += ((ds, c))
            case Left(_) => bad += 1
          }
        }
        parseErrors = bad
        ok
      }
    }
    val casts = parsed.head._1
    var transformErrors = 0L
    val transformS = median((1 to reps).map { _ =>
      timeIt {
        transformErrors = casts.count { case (ds, c) => Transform.toCast(ds, c).isLeft }
      }._2
    })
    val paths = fs.map(_._2).mkString(",")
    tracer.enabled = true
    val source = (1 to 2).map { _ =>
      val (_, sec) = tracer.op("probe.source", "WodSource.read") {
        WodSource.read(spark, paths).write.format("noop").mode("overwrite").save()
      }
      sec
    }
    tracer.enabled = false
    tracer.drain()
    val sourceCpu = median(tracer.ops.asScala.filter(_.layer == "probe.source")
      .toSeq.map(o => tracer.opMetrics(o)("exec_cpu_s")))
    val gunzipS = median(gz.map(_._2))
    val parseS = median(parsed.map(_._2))
    Map(
      "gunzip.s" -> gunzipS,
      "parse.s" -> parseS,
      "parse.mb_per_s" -> asciiMb / parseS,
      "parse.error_casts" -> (parseErrors + transformErrors).toDouble,
      "transform.s" -> transformS,
      "source.s" -> median(source),
      "source.cpu_s" -> sourceCpu,
      "encode.cpu_s_derived" -> (sourceCpu - gunzipS - parseS - transformS))
  }

  /** DSv2 reads of the corpus as probes (the convert workloads). */
  def dsv2Layers(spark: SparkSession, corpus: String): Map[String, Double] = Map(
    "dsv2.full_s" -> median((1 to 2).map(_ => timeIt(dsv2Full(spark, corpus))._2)),
    "dsv2.pruned_s" -> median((1 to 2).map(_ => timeIt(dsv2Pruned(spark, corpus))._2)))

  /** Scheduling and commit counts of the traced conversion calls. */
  def convertLayers(tracer: Tracer, layer: String): Map[String, Double] = {
    tracer.drain()
    val ms = tracer.ops.asScala.filter(_.layer == layer).toSeq.map(tracer.opMetrics)
    def med(k: String) = median(ms.map(_(k)))
    Map("convert.jobs" -> med("jobs"), "convert.stages" -> med("stages"),
      "convert.tasks" -> med("tasks"), "convert.no_task_s" -> med("no_task_s"),
      "convert.commit_s" -> med("commit_s"))
  }

  /** Files, bytes and rows one conversion wrote. */
  def writeLayers(out: Path, rows: Long): Map[String, Double] = {
    val parquet = files(out).filter(_.getFileName.toString.endsWith(".parquet"))
    Map("write.files" -> parquet.size.toDouble,
      "write.mb" -> parquet.map(Files.size).sum / 1e6,
      "write.rows" -> rows.toDouble)
  }

  def storeFiles(stores: Seq[String]): Long = stores.map(s =>
    files(Paths.get(s)).count(_.getFileName.toString.endsWith(".parquet"))).sum
}

/** Conversion checks shared by the workloads: every planned store
  * committed, and row counts equal to what the generator planted.
  */
final class ConversionCheck(spark: SparkSession, m: JsonNode) {
  private val perFile = manifestFiles(m).map { f =>
    (f.get("dataset").asText, f.get("file").asText) ->
      (f.get("valid").asLong, f.get("errors").size.toLong +
        (if (f.get("truncated").asBoolean) 1 else 0), f.get("truncated").asBoolean)
  }.toMap
  val valid: Long = m.get("valid").asLong
  val errors: Long = m.get("errors").asLong
  private val truncated = perFile.values.exists(_._3)

  def perFileRun(rs: Seq[WodPipeline.FileResult]): Option[String] = {
    val probs = rs.flatMap { r =>
      val key = (r.task.dataset, Paths.get(r.task.src).getFileName.toString)
      val (v, e, truncated) = perFile.getOrElse(key, (-1L, -1L, false))
      // a truncated member keeps a prefix of its complete casts (see
      // README: the casts in the reader's last buffer are dropped)
      val castsOk = if (truncated) r.casts > 0 && r.casts <= v else r.casts == v
      Seq(
        Option.when(!castsOk || r.errors != e)(
          s"${key._2}: ${r.casts} casts / ${r.errors} errors, want $v / $e"),
        Option.when(!WodPipeline.isComplete(spark, r.task.outStore))(
          s"${r.task.outStore} has no _SUCCESS"),
        Option.when(e > 0 && !WodPipeline.isComplete(spark, r.task.errStore))(
          s"${r.task.errStore} has no _SUCCESS")).flatten
    }
    if (rs.size != perFile.size) Some(s"${rs.size} files converted, want ${perFile.size}")
    else probs.headOption
  }

  def bulkRun(out: String, casts: Long, errs: Long): Option[String] = {
    val datasets = m.get("datasets").asScala.map(_.asText)
    val stores = s"$out/bulk/casts" +: datasets.map(d =>
      s"$out/bulk/casts/dataset=$d/level=OBS").toSeq
    val castsOk = if (truncated) casts > 0 && casts <= valid else casts == valid
    if (!castsOk || errs != errors)
      Some(s"bulk: $casts casts / $errs errors, want $valid / $errors")
    else stores.find(s => !WodPipeline.isComplete(spark, s))
      .map(s => s"$s has no _SUCCESS")
  }
}

/** convert_files (`WodPipeline.run`, one job or two per file) and
  * convert_bulk (`WodPipeline.convertBulk`, O(datasets) jobs). Each
  * pass is one conversion call of the whole corpus into a fresh output
  * directory; the last call's output stays for the full output check.
  */
final class ConvertWorkload(dir: String, m: JsonNode, bulk: Boolean)
    extends Workload {
  private val input = s"$dir/wod/input"
  private val datasets = m.get("datasets").asScala.map(_.asText).toSeq
  private var spark: SparkSession = _
  private var check: ConversionCheck = _
  private var calls = 0
  private val outputs = mutable.ArrayBuffer.empty[Path]
  private var lastRows = 0L

  private def convert(): (Long, Option[String]) = {
    calls += 1
    val out = Paths.get(s"$dir/out/call-$calls")
    outputs += out
    val cfg = WodPipeline.Config(input = input, output = out.toString,
      datasets = datasets)
    if (bulk) {
      val (c, e) = WodPipeline.convertBulk(spark, cfg)
      lastRows = c + e
      (c, check.bulkRun(out.toString, c, e))
    } else {
      val rs = WodPipeline.run(spark, cfg)
      lastRows = rs.map(r => r.casts + r.errors).sum
      (rs.map(_.casts).sum, check.perFileRun(rs))
    }
  }

  private val name = if (bulk) "WodPipeline.convertBulk" else "WodPipeline.run"
  private var lastProblem: Option[String] = None

  override def prepare(s: SparkSession, tracer: Tracer): Unit = {
    spark = s
    check = new ConversionCheck(s, m)
    // warm-up call, checked like every timed one
    val (_, problem) = convert()
    problem.foreach(p => throw new IllegalStateException(s"warm-up: $p"))
    afterPass()
  }

  override def pass(i: Int): Seq[Action] = Seq(Action("convert", name,
    run = () => { val (c, p) = convert(); lastProblem = p; c },
    check = _ => lastProblem, castRows = true))

  /** Keep only the newest output. */
  override def afterPass(): Unit = {
    outputs.dropRight(1).foreach(deleteTree)
    outputs.remove(0, outputs.size - 1)
  }

  private def stores: Seq[String] = {
    val out = outputs.last
    if (bulk) Seq(s"$out/bulk/casts")
    else files(out.resolve("yearly")).map(_.toString)
      .filter(_.endsWith("_SUCCESS")).map(p => Paths.get(p).getParent.toString)
  }

  override def bytesRatio: Double =
    parquetBytes(outputs.last).toDouble / m.get("ascii_bytes").asLong

  override def layerMetrics(s: SparkSession, tracer: Tracer): Map[String, Double] = {
    val (_, scanned) = Probes.likeRead(s, stores, m.get("like_prefix").asText)
    Probes.convertLayers(tracer, "convert") ++
      Probes.writeLayers(outputs.last, lastRows) ++
      Probes.wodLayers(s, tracer, m) ++
      Probes.dsv2Layers(s, input) ++
      Map("geo_read.files_frac" -> scanned.toDouble / Probes.storeFiles(stores))
  }

  override def extraReport: Map[String, Any] = Map(
    "output" -> outputs.last.toString, "bulk" -> bulk)
}

/** query_mix: one closed-loop client over a fixed mix of the registry's
  * bench queries plus two DSv2 reads and one geohash-prefix read, in a
  * seeded order each pass.
  */
final class QueryMix(dir: String, m: JsonNode, seed: Long) extends Workload {
  private val tables = s"$dir/tables"
  private val corpus = s"$dir/wod/input"
  private val oracleDir = s"$dir/oracle"
  private val queries = QueryMix.Mix.map(Registry.byName)
  private var spark: SparkSession = _
  private var store: String = _
  private var storeRows = 0L
  private var expected = Map.empty[String, Long]
  private val validSet = m.get("files").asScala
    .flatMap(_.get("valid_numbers").asScala.map(_.asInt)).toSet
  private val prefix = m.get("like_prefix").asText
  private val likeRows = m.get("like_rows").asLong
  private var setups = 0
  private val scanned = mutable.ArrayBuffer.empty[Long]

  override def prepare(s: SparkSession, tracer: Tracer): Unit = {
    spark = s
    setups += 1
    // the converted store the prefix read serves
    val out = s"$dir/out/store-$setups"
    val cfg = WodPipeline.Config(input = corpus, output = out,
      datasets = m.get("datasets").asScala.map(_.asText).toSeq)
    val ((c, e), _) = tracer.op("setup.convert", "WodPipeline.convertBulk") {
      WodPipeline.convertBulk(s, cfg)
    }
    new ConversionCheck(s, m).bulkRun(out, c, e).foreach(p =>
      throw new IllegalStateException(s"store build: $p"))
    store = s"$out/bulk/casts"
    storeRows = c + e
    // warm-up: each query once, its collected result kept for the oracle
    // compare, then WarmupPasses whole passes of every action, checked
    expected = queries.map { q =>
      val df = q.fn(s, tables)
      val rows = df.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/${q.name}")
      q.name -> rows.length.toLong
    }.toMap
    (1 to QueryMix.WarmupPasses).foreach(i => pass(-i).foreach(a =>
      a.check(a.run()).foreach(p => throw new IllegalStateException(s"warm-up: $p"))))
  }

  private def actions: Seq[Action] = queries.map { q =>
    Action("query", q.name, run = () => q.fn(spark, tables).collect().length.toLong,
      check = n => Option.when(n != expected(q.name))(
        s"${q.name}: $n rows, want ${expected(q.name)}"))
  } ++ Seq(
    Action("dsv2", "dsv2_full", run = () => Probes.dsv2Full(spark, corpus),
      check = n => Option.when(n != validSet.size)(
        s"dsv2 full read: $n casts, want ${validSet.size}"), castRows = true),
    Action("dsv2", "dsv2_pruned", run = () => {
      val got = Probes.dsv2Pruned(spark, corpus)
      if (got.toSet == validSet && got.length == validSet.size) got.length.toLong
      else -got.length.toLong
    }, check = n => Option.when(n != validSet.size)(
      s"dsv2 pruned read: ${math.abs(n)} casts, want exactly the " +
        s"${validSet.size} valid ones"), castRows = true),
    Action("geo", "geohash_like", run = () => {
      val (rows, files) = Probes.likeRead(spark, Seq(store), prefix)
      scanned += files
      if (rows.forall(_.getString(1).startsWith(prefix))) rows.length.toLong
      else -1L
    }, check = n => Option.when(n != likeRows)(
      s"geohash LIKE '$prefix%': $n rows, want $likeRows")))

  override def pass(i: Int): Seq[Action] =
    new scala.util.Random(seed * 1000003L + i).shuffle(actions)

  override def bytesRatio: Double =
    parquetBytes(Paths.get(store).getParent).toDouble / m.get("ascii_bytes").asLong

  override def layerMetrics(s: SparkSession, tracer: Tracer): Map[String, Double] = {
    val dsv2 = tracer.ops.asScala.toSeq
    Probes.convertLayers(tracer, "setup.convert") ++
      Probes.writeLayers(Paths.get(store).getParent, storeRows) ++
      Probes.wodLayers(s, tracer, m) ++
      Map(
        "dsv2.full_s" -> median(dsv2.filter(_.name == "dsv2_full").map(_.dur / 1000)),
        "dsv2.pruned_s" -> median(dsv2.filter(_.name == "dsv2_pruned").map(_.dur / 1000)),
        "geo_read.files_frac" -> median(scanned.map(_.toDouble).toSeq) /
          Probes.storeFiles(Seq(store)))
  }

  override def extraReport: Map[String, Any] = Map(
    "oracle_dir" -> oracleDir,
    "oracle_sql" -> queries.flatMap(q => q.sql.map(q.name -> _)).toMap)
}

object QueryMix {
  /** Untimed passes before the timed loop. The JIT keeps shortening a
    * pass for about ten passes (5.8 s to 4.2 s over a 60 s loop on the
    * reference host), most steeply over the first two. With one, the
    * first timed pass ran 10-20% slower than the rest, so whether a run
    * fitted three or four passes into its seconds moved every timing.
    */
  val WarmupPasses = 2

  /** The bench queries the loop times: stored IVF-PQ serving (plain and
    * bounded rerank), IVF ANN, exact kNN, a sketch-planned join and a
    * scan-aggregate. With the three WOD reads that makes nine action
    * types per pass, on the reference host: the prefix read at 0.2 s,
    * the two DSv2 reads, q40 and q1 at 0.40-0.46 s, em1 and sim4 at
    * 0.5-0.75 s, sim20 and sim24 at 1.2-1.45 s. So the median falls
    * inside the dense 0.40-0.46 s group and p90 inside the slowest pair,
    * not on the edge between two groups, where one action more or less
    * below it moves the quantile by a whole group gap. All 30 bench
    * queries do not fit the run-time budget (README).
    */
  val Mix: Seq[String] = Seq("sim20_ivf_pq_stored_top1", "em1_knn_top1",
    "q40_sketch_planned_join", "q1_pricing_summary", "sim4_ivf_ann_top1",
    "sim24_ivfpq_bounded_rerank")
}
