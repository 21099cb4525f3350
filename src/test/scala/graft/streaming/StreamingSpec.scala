package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("plain append-mode windows emit a strict subset of the " +
      "sentinel-driven full-coverage stream (st3 vs st1)") {
    import spark.implicits._
    val appended = EventsStreaming.hourlyAppendStream(spark, dir, slices = 4)
      .as[(Long, String, Long)].collect().toSet
    // st1: same watermarked append plan, but the staged sentinel
    // pushes the final watermark past every real window — full result
    val full = EventsStreaming.hourlyAggStream(spark, dir)
      .selectExpr("hour_ts", "event_type", "n_events")
      .as[(Long, String, Long)].collect().toSet
    // watermark advanced across micro-batches → finalized windows exist
    assert(appended.nonEmpty, "append mode emitted no closed windows")
    // every emitted window is final — identical values in both runs
    assert(appended.subsetOf(full),
      s"append rows must match full-coverage values; extra: ${appended -- full}")
    // without the sentinel, the tail windows are withheld
    assert(appended.size < full.size)
  }

  test("file sink resumes from checkpoint exactly-once after a stop") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val batch = graft.queries.Tables.events(spark, dir)
    val fullStage = EventsStreaming.stageTimeSlices(batch, 4, trailer = true)
    val sliceFiles = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (sliceFiles.hasNext) all += sliceFiles.next()
    val ordered = all.sortBy(_.getFileName.toString)

    // single uninterrupted run = the reference result
    val refBase = Files.createTempDirectory("st5_ref")
    EventsStreaming.drainToFileSink(spark, batch.schema, fullStage,
      refBase.resolve("out").toString, refBase.resolve("chk").toString)
    val expected = spark.read.parquet(refBase.resolve("out").toString)
      .as[(Long, String, Long)].collect().sorted

    // interrupted run: first two slices, stop, add the rest, resume
    // with the SAME checkpoint + output
    val stage2 = Files.createTempDirectory("st5_partial")
    val base = Files.createTempDirectory("st5_resume")
    val (out, chk) = (base.resolve("out").toString, base.resolve("chk").toString)
    def copyIn(p: java.nio.file.Path): Unit = {
      val dst = stage2.resolve(p.getFileName)
      Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
    ordered.take(2).foreach(copyIn)
    EventsStreaming.drainToFileSink(spark, batch.schema, stage2.toString,
      out, chk) // run 1: processes 2 slices, then "crashes" (stops)
    ordered.drop(2).foreach(copyIn)
    EventsStreaming.drainToFileSink(spark, batch.schema, stage2.toString,
      out, chk) // run 2: resumes from the checkpointed offsets + state
    val resumed = spark.read.parquet(out)
      .as[(Long, String, Long)].collect().sorted

    // exactly-once across the restart: same rows, no dupes, no gaps
    assert(resumed.toSeq === expected.toSeq)
  }

  test("streaming dedup stays exactly-once across stop/resume and " +
      "post-restart redelivery") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val batch = graft.queries.Tables.events(spark, dir)
    val nIds = batch.select("event_id").distinct().count()
    // every event delivered twice (at-least-once redelivery)
    val fullStage = EventsStreaming.stageTimeSlices(
      batch.union(batch), 4, trailer = false)
    val sliceFiles = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (sliceFiles.hasNext) all += sliceFiles.next()
    // drop the local-FS .crc sidecars — only real slices
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    val stage2 = Files.createTempDirectory("st6_partial")
    val base = Files.createTempDirectory("st6_resume")
    val (out, chk) = (base.resolve("out").toString, base.resolve("chk").toString)
    def copyIn(p: java.nio.file.Path, name: String = null): Unit =
      Files.copy(p, stage2.resolve(
        if (name == null) p.getFileName.toString else name),
        StandardCopyOption.COPY_ATTRIBUTES)
    ordered.take(2).foreach(p => copyIn(p))
    EventsStreaming.drainDedupToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 1, then "crash"
    ordered.drop(2).foreach(p => copyIn(p))
    // a whole slice REDELIVERED after the restart: its rows are dups
    // (checkpointed dedup state) and/or late (behind the watermark) —
    // either way none may re-emit
    copyIn(ordered.head, "slice-9998.parquet")
    EventsStreaming.drainDedupToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 2: resume from checkpoint
    val emitted = spark.read.parquet(out).select("event_id")
      .as[Long].collect()
    assert(emitted.length === nIds,
      s"expected each of $nIds ids exactly once, got ${emitted.length}")
    assert(emitted.distinct.length === emitted.length, "duplicate emits")
  }

  test("st20 as-of enrichment state survives a checkpoint stop/resume — " +
      "a purchase arriving after the restart still matches a click " +
      "ingested before the stop") {
    import java.nio.file.{Files, StandardCopyOption}
    import spark.implicits._
    val union = EventsStreaming.asofUnion(spark, dir)
    val fullStage = EventsStreaming.stageTimeSlices(union, 4, trailer = false)
    val ordered = {
      val it = Files.list(java.nio.file.Paths.get(fullStage)).iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (it.hasNext) b += it.next()
      b.sortBy(_.getFileName.toString)
    }

    // single uninterrupted run = the reference result
    val refBase = Files.createTempDirectory("st20_ref")
    EventsStreaming.drainAsOfToFileSink(spark, union.schema, fullStage,
      refBase.resolve("out").toString, refBase.resolve("chk").toString)
    val expected = spark.read.parquet(refBase.resolve("out").toString)
      .as[(Long, Long, Option[Long])].collect().sorted

    // real matches must exist for the proof to bite
    assert(expected.count(_._3.isDefined) > 0, "no purchase matched a click")

    // interrupted run: 2 slices, stop, add the rest, resume on the
    // SAME checkpoint — matches must be identical, not just complete
    val stage2 = Files.createTempDirectory("st20_partial")
    val base = Files.createTempDirectory("st20_resume")
    val (out, chk) = (base.resolve("out").toString, base.resolve("chk").toString)
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName),
        StandardCopyOption.COPY_ATTRIBUTES): Unit
    ordered.take(2).foreach(copyIn)
    EventsStreaming.drainAsOfToFileSink(spark, union.schema,
      stage2.toString, out, chk)
    ordered.drop(2).foreach(copyIn)
    EventsStreaming.drainAsOfToFileSink(spark, union.schema,
      stage2.toString, out, chk)
    val resumed = spark.read.parquet(out)
      .as[(Long, Long, Option[Long])].collect().sorted
    assert(resumed.toSeq === expected.toSeq)
  }

  test("sessionizeStream state + armed timeouts survive a checkpoint " +
      "stop/resume — same sessions as uninterrupted, timeouts fire " +
      "after restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, max, min}
    import EventsStreaming.UserSession
    import spark.implicits._
    val raw = graft.queries.Tables.events(spark, dir)
    // deterministic witness for the timeout-across-restart property: a
    // synthetic QUIET user whose single event is the last microsecond
    // of slice 2 (stageTimeSlices cuts at tsMin + span*i/slices). Its
    // timeout (last + gap) is above run 1's final watermark (maxTs(2
    // slices) - 1h), so the state is necessarily still open at the
    // stop, and the user never reappears — only the RECOVERED timeout
    // can close it.
    val (tsMin, tsMax) = raw.agg(min(col("ts")), max(col("ts")))
      .as[(Long, Long)].head()
    val span = tsMax - tsMin + 1
    val quietUser = 999999999L
    val quiet = raw.orderBy(col("ts")).limit(1)
      .withColumn("user_id", lit(quietUser))
      .withColumn("ts", lit(tsMin + span * 2 / 4 - 1))
    val batch = raw.unionByName(quiet)
    val fullStage = EventsStreaming.stageTimeSlices(batch, 4, trailer = true)
    val sliceFiles = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (sliceFiles.hasNext) all += sliceFiles.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    // single uninterrupted run = the reference session set
    val refBase = Files.createTempDirectory("st8_ref")
    EventsStreaming.drainSessionsToFileSink(spark, batch.schema, fullStage,
      refBase.resolve("out").toString, refBase.resolve("chk").toString)
    val expected = spark.read.parquet(refBase.resolve("out").toString)
      .as[UserSession].collect().toSet
    assert(expected.nonEmpty)

    // interrupted run: two slices, "crash", add the rest, resume from
    // the SAME checkpoint + output
    val stage2 = Files.createTempDirectory("st8_partial")
    val base = Files.createTempDirectory("st8_resume")
    val (out, chk) = (base.resolve("out").toString, base.resolve("chk").toString)
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    ordered.take(2).foreach(copyIn)
    EventsStreaming.drainSessionsToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 1, then "crash"
    val afterRun1 = spark.read.parquet(out).as[UserSession].collect().toSet
    ordered.drop(2).foreach(copyIn)
    EventsStreaming.drainSessionsToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 2: resume state + timeouts
    val resumed = spark.read.parquet(out).as[UserSession].collect().toSet

    // exactly the uninterrupted result — no lost state, no dupes
    assert(resumed === expected)
    // the stop landed mid-stream: run 1 emitted a strict subset, so
    // open state genuinely crossed the restart
    assert(afterRun1.subsetOf(resumed) && afterRun1.size < resumed.size)
    // and at least one post-restart emission was a pure TIMEOUT fire:
    // a session of a user with NO events in the post-restart slices
    // can only close via the recovered EventTimeTimeout timestamp
    val lateUsers = ordered.drop(2)
      .map(p => spark.read.parquet(p.toString))
      .reduce(_ union _).select("user_id").distinct()
      .as[Long].collect().toSet
    val timeoutFires = (resumed -- afterRun1)
      .filterNot(s => lateUsers.contains(s.user_id))
    assert(timeoutFires.exists(_.user_id == quietUser),
      "expected the quiet user's session closed by a timeout armed " +
        s"BEFORE the stop and fired AFTER the resume; got $timeoutFires")
  }

  test("stream-stream join state survives a checkpoint stop/resume — " +
      "a click buffered BEFORE the stop matches a purchase arriving " +
      "AFTER the restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, max, min}
    import spark.implicits._
    val raw = graft.queries.Tables.events(spark, dir)
    // deterministic witness for the buffered-state property: a
    // synthetic user whose click is the last instant of slice 2 and
    // whose only purchase is the first instant of slice 3 (60 s later,
    // inside the 30 min join window). With the stop after slice 2, the
    // click can ONLY match from join state recovered off the checkpoint.
    val (tsMin, tsMax) = raw.agg(min(col("ts")), max(col("ts")))
      .as[(Long, Long)].head()
    val span = tsMax - tsMin + 1
    val cut = tsMin + span * 2 / 4
    val witnessUser = 888888888L
    val template = raw.orderBy(col("ts")).limit(1)
      .withColumn("user_id", lit(witnessUser))
    val wClick = template
      .withColumn("ts", lit(cut - 1))
      .withColumn("event_type", lit("click"))
    val wPurchase = template
      .withColumn("ts", lit(cut + 1))
      .withColumn("event_type", lit("purchase"))
      .withColumn("value", lit(42.0))
    val batch = raw.unionByName(wClick).unionByName(wPurchase)
    val fullStage = EventsStreaming.stageTimeSlices(batch, 4, trailer = false)
    val sliceFiles = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (sliceFiles.hasNext) all += sliceFiles.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    // single uninterrupted run = the reference match set
    val refBase = Files.createTempDirectory("st4r_ref")
    EventsStreaming.drainJoinToFileSink(spark, batch.schema, fullStage,
      refBase.resolve("out").toString, refBase.resolve("chk").toString)
    val expected = spark.read.parquet(refBase.resolve("out").toString)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(expected.exists(_._1 == witnessUser),
      "the witness pair must join in the uninterrupted run")

    // interrupted run: two slices, "crash", add the rest, resume from
    // the SAME checkpoint + output
    val stage2 = Files.createTempDirectory("st4r_partial")
    val base = Files.createTempDirectory("st4r_resume")
    val (out, chk) = (base.resolve("out").toString, base.resolve("chk").toString)
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    ordered.take(2).foreach(copyIn)
    EventsStreaming.drainJoinToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 1, then "crash"
    val afterRun1 = spark.read.parquet(out)
      .as[(Long, Long, Long, Double)].collect().toSet
    ordered.drop(2).foreach(copyIn)
    EventsStreaming.drainJoinToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 2: resume both sides' join state
    val resumed = spark.read.parquet(out)
      .as[(Long, Long, Long, Double)].collect().toSet

    // exactly the uninterrupted result — no lost buffers, no dupes
    assert(resumed === expected)
    // the stop landed mid-stream and the witness match crossed it:
    // left side arrived before the stop, right side after
    assert(afterRun1.subsetOf(resumed) && afterRun1.size < resumed.size)
    assert(!afterRun1.exists(_._1 == witnessUser),
      "the witness purchase must not exist before the stop")
    assert((resumed -- afterRun1).exists(_._1 == witnessUser),
      "the witness match must emit from RECOVERED pre-stop click state")
  }

  test("LEFT OUTER join eviction survives a checkpoint stop/resume — " +
      "a matchless click buffered BEFORE the stop emits its " +
      "null-extended row only AFTER the restart's watermark passes " +
      "its window; a matched click never null-emits") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, max, min}
    import spark.implicits._
    val raw = graft.queries.Tables.events(spark, dir)
    val (tsMin, tsMax) = raw.agg(min(col("ts")), max(col("ts")))
      .as[(Long, Long)].head()
    val span = tsMax - tsMin + 1
    val cut = tsMin + span * 2 / 4
    // witness 1: a click at the last instant of slice 2 with NO
    // purchase ever. At the stop, the watermark (≈ cut − 1h) has not
    // passed click + 30 min, so no null row may exist yet; after the
    // resume the watermark sails past it — the null row can only come
    // from click state + eviction clock recovered off the checkpoint.
    val evictUser = 777777777L
    // witness 2: st4's crossing pair — click before the stop, purchase
    // after, inside the window. Must emit EXACTLY the matched row:
    // a wrong eviction at restart would ALSO emit a null row for it.
    val matchUser = 888888888L
    val template = raw.orderBy(col("ts")).limit(1)
    val wEvict = template
      .withColumn("user_id", lit(evictUser))
      .withColumn("ts", lit(cut - 1))
      .withColumn("event_type", lit("click"))
    val wClick = template
      .withColumn("user_id", lit(matchUser))
      .withColumn("ts", lit(cut - 1))
      .withColumn("event_type", lit("click"))
    val wPurchase = template
      .withColumn("user_id", lit(matchUser))
      .withColumn("ts", lit(cut + 1))
      .withColumn("event_type", lit("purchase"))
      .withColumn("value", lit(42.0))
    val batch = raw.unionByName(wEvict).unionByName(wClick)
      .unionByName(wPurchase)
    // the eviction witness needs the final watermark to pass
    // click + 30 min: the fixture spans months, 1.5 h of margin exists
    require(cut - 1 + 1_800_000_000_000L + 3_600_000_000_000L < tsMax,
      "fixture must span > 1.5h past the cut for the eviction witness")
    val fullStage = EventsStreaming.stageTimeSlices(batch, 4, trailer = true)
    val sliceFiles = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (sliceFiles.hasNext) all += sliceFiles.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    // single uninterrupted run = the reference emission set
    val refBase = Files.createTempDirectory("st9r_ref")
    EventsStreaming.drainLeftJoinToFileSink(spark, batch.schema, fullStage,
      refBase.resolve("out").toString, refBase.resolve("chk").toString)
    val expected = spark.read.parquet(refBase.resolve("out").toString)
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    assert(expected.exists(r => r._1 == evictUser && r._3.isEmpty),
      "the eviction witness must null-emit in the uninterrupted run")

    // interrupted run: two slices, "crash", add the rest, resume
    val stage2 = Files.createTempDirectory("st9r_partial")
    val base = Files.createTempDirectory("st9r_resume")
    val (out, chk) = (base.resolve("out").toString, base.resolve("chk").toString)
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    ordered.take(2).foreach(copyIn)
    EventsStreaming.drainLeftJoinToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 1, then "crash"
    val afterRun1 = spark.read.parquet(out).as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    ordered.drop(2).foreach(copyIn)
    EventsStreaming.drainLeftJoinToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 2: resume state + eviction clock
    val resumed = spark.read.parquet(out).as[(Long, Long, Option[Long], Option[Double])].collect().toSet

    // exactly the uninterrupted result — no lost state, no dupes
    assert(resumed === expected)
    assert(afterRun1.subsetOf(resumed) && afterRun1.size < resumed.size)
    // the null row did NOT exist at the stop (watermark hadn't passed
    // its window) and emitted only from recovered state afterwards
    assert(!afterRun1.exists(_._1 == evictUser),
      "the eviction witness must still be buffered at the stop")
    assert((resumed -- afterRun1)
        .exists(r => r._1 == evictUser && r._3.isEmpty),
      "the null-extended row must emit from RECOVERED click state")
    // the crossing match emitted exactly once, as a match — a restart
    // that mis-recovered the eviction clock would also null-emit it
    val matchRows = resumed.filter(_._1 == matchUser)
    assert(matchRows.size == 1 && matchRows.head._3.nonEmpty,
      s"the crossing pair must emit exactly its matched row: $matchRows")
  }

  test("sessionizeStream closes a quiet user's session via event-time " +
      "timeout, not end-of-input") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import EventsStreaming.{SessionEvent, UserSession}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, sec: Long, c: Long) =
      SessionEvent(u, new java.sql.Timestamp(sec * 1000L), c)

    val input = MemoryStream[SessionEvent]
    val sessions = EventsStreaming.sessionizeStream(
      input.toDS(), gapUs = 5_000_000L, watermarkDelay = "0 seconds")
    val q = sessions.writeStream
      .outputMode("append").format("memory")
      .queryName("sess_timeout").start()
    def emitted(): Set[UserSession] =
      spark.table("sess_timeout").as[UserSession].collect().toSet
    try {
      // batch 1: user 1 bursts (3 events inside the 5 s gap);
      // user 2 pings once at the same time.
      input.addData(ev(1, 1, 10), ev(1, 2, 20), ev(1, 3, 30), ev(2, 3, 5))
      q.processAllAvailable()
      // nothing may close yet: no gap crossed, and the watermark (3 s)
      // has not passed either user's last+gap (8 s).
      assert(emitted().isEmpty, "no session may close while inside the gap")

      // batches 2+3: ONLY user 2 speaks, far in the future. User 1 goes
      // quiet forever — under the old NoTimeout design its state would
      // be held until end-of-input; here the watermark (→ 100000 s)
      // passes user 1's last+gap and EventTimeTimeout must emit the
      // session with user 1 contributing zero rows.
      input.addData(ev(2, 100000, 7))
      q.processAllAvailable()
      input.addData(ev(2, 100001, 9)) // guarantees a batch AFTER the
      q.processAllAvailable()         // watermark advance, so timeouts fire
      val got = emitted()
      assert(got.contains(UserSession(1L, 3L, 1000000L, 3000000L, 60L)),
        s"user 1's session must close via timeout; got $got")
      // user 2's first session closed by the gap-split on arrival
      assert(got.contains(UserSession(2L, 1L, 3000000L, 3000000L, 5L)))
      // user 2's current session (100000 s …) is still open: the
      // watermark has not passed ITS last+gap
      assert(!got.exists(s => s.user_id == 2L && s.start_us >= 100000000000L),
        s"open session must not emit early; got $got")
    } finally q.stop()
  }

  test("st15 IVF ingest: streamed index build survives stop/resume, and " +
      "a post-restart REDELIVERED slice appends duplicate rows the probe " +
      "provably absorbs — final answer equals the uninterrupted run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, max, min}
    import graft.operators.{IvfStore, ListCodec}
    val vecs = graft.queries.Tables.embeddings(spark, dir)
    // uninterrupted streamed build (the registered st15 path)
    val expected = VectorStreaming.ivfIngestStream(spark, vecs,
      dims = 64, k = 16, nprobe = 3, slices = 4)
      .collect().toSeq

    // interrupted build against the SAME frozen quantizer contract
    val r = vecs.select(min(col("vec_id")), max(col("vec_id"))).head()
    val cut = r.getLong(0) + (r.getLong(1) - r.getLong(0) + 1) * 3 / 4
    val base = vecs.filter(col("vec_id") < cut)
    val delta = vecs.filter(col("vec_id") >= cut)
    val table = "graft_spec_st15_resume"
    IvfStore.write(base, "vec_id", "embedding", dims = 64,
      codec = ListCodec.Flat, k = Some(16), table = table,
      location = Some(Files.createTempDirectory("st15_loc").toString))
    val fullStage = DocumentsStreaming.stageIdSlices(delta, 4, "vec_id")
    val files = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    val stage2 = Files.createTempDirectory("st15_partial")
    val chk = Files.createTempDirectory("st15_chk").toString
    def copyIn(p: java.nio.file.Path, name: String = null): Unit =
      Files.copy(p, stage2.resolve(
        if (name == null) p.getFileName.toString else name),
        StandardCopyOption.COPY_ATTRIBUTES)
    ordered.take(2).foreach(p => copyIn(p))
    VectorStreaming.drainIvfAppend(spark, delta.schema, stage2.toString,
      table, dims = 64, buckets = 8, chk) // run 1, then "crash"
    ordered.drop(2).foreach(p => copyIn(p))
    // a whole slice REDELIVERED after the restart (at-least-once):
    // its vectors re-append to the index as duplicate list rows
    copyIn(ordered.head, "slice-9998.parquet")
    VectorStreaming.drainIvfAppend(spark, delta.schema, stage2.toString,
      table, dims = 64, buckets = 8, chk) // run 2: resume + redelivery
    spark.catalog.refreshTable(table)

    // the duplication really happened (the claim isn't vacuous) ...
    val nIndexed = spark.table(table).count()
    val nVecs = vecs.count()
    assert(nIndexed > nVecs,
      s"redelivered slice must duplicate index rows: $nIndexed <= $nVecs")
    // ... and the probe's per-query MAX-collapse absorbs it exactly
    val got = IvfStore.probe(spark, table, vecs,
      "vec_id", "embedding", dims = 64, nprobe = 3)
      .orderBy(col("id_a")).collect().toSeq
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_centroids")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_applied") // replay ledger
    assert(got === expected)
  }

  test("st17 corpus intake survives stop/resume; a REDELIVERED slice " +
      "re-audits its docs as duplicates and the min-channel collapse " +
      "restores every original claim — report equals uninterrupted run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val docs = graft.queries.Tables.documents(spark, dir)
    val expected = CorpusStreaming.intakeStream(spark, dir).collect().toSeq

    val staged = CorpusStreaming.stageJsonlSlices(docs, 4)
    val files = Files.list(Paths.get(staged)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".json") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    val censusDir = Files.createTempDirectory("st17_census").toString
    val auditDir = Files.createTempDirectory("st17_audit").toString
    val chk = Files.createTempDirectory("st17_chk").toString
    val stage2 = Files.createTempDirectory("st17_partial")
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(StructField("h", StringType))))
      .write.mode("overwrite").parquet(censusDir)
    val readSchema = StructType(
      docs.schema.fields :+ StructField("_corrupt_record", StringType))
    def copyIn(p: java.nio.file.Path, name: String = null): Unit =
      Files.copy(p, stage2.resolve(
        if (name == null) p.getFileName.toString else name),
        StandardCopyOption.COPY_ATTRIBUTES)
    ordered.take(2).foreach(p => copyIn(p))
    CorpusStreaming.drainIntake(spark, readSchema, stage2.toString,
      censusDir, auditDir, chk) // run 1, then "crash"
    ordered.drop(2).foreach(p => copyIn(p))
    // a whole slice REDELIVERED after the restart: its already-ingested
    // docs re-audit as duplicates (census hit)
    copyIn(ordered.head, "slice-9998.json")
    CorpusStreaming.drainIntake(spark, readSchema, stage2.toString,
      censusDir, auditDir, chk) // run 2: resume + redelivery

    // the redelivery really happened: more audit rows than record keys
    val audit = spark.read.parquet(auditDir)
    val nRows = audit.count()
    val nKeys = audit.select("k").distinct().count()
    assert(nRows > nKeys,
      s"redelivered slice must append duplicate audit rows: $nRows <= $nKeys")
    val got = CorpusStreaming.report(spark, auditDir).collect().toSeq
    assert(got === expected)
  }

  test("st18 session_window state survives a checkpoint stop/resume — " +
      "merged sessions spanning the restart equal the uninterrupted run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val batch = graft.queries.Tables.events(spark, dir)
    val fullStage = EventsStreaming.stageTimeSlices(batch, 4, trailer = true)
    val files = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    // single uninterrupted run = the reference session-window set
    val refBase = Files.createTempDirectory("st18_ref")
    EventsStreaming.drainSessionWindowToFileSink(spark, batch.schema,
      fullStage, refBase.resolve("out").toString,
      refBase.resolve("chk").toString)
    val expected = spark.read.parquet(refBase.resolve("out").toString)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)

    // interrupted run: 2 slices, "crash", add the rest, resume on the
    // SAME checkpoint — the state store's open merged windows must
    // recover so late events keep extending pre-stop sessions
    val stage2 = Files.createTempDirectory("st18_partial")
    val base = Files.createTempDirectory("st18_resume")
    val (out, chk) = (base.resolve("out").toString, base.resolve("chk").toString)
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES): Unit
    ordered.take(2).foreach(copyIn)
    EventsStreaming.drainSessionWindowToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 1, then "crash"
    val afterRun1 = spark.read.parquet(out)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    ordered.drop(2).foreach(copyIn)
    EventsStreaming.drainSessionWindowToFileSink(spark, batch.schema,
      stage2.toString, out, chk) // run 2: resume the window state
    val resumed = spark.read.parquet(out)
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    assert(resumed === expected)
    // the stop landed mid-stream: open session_window state genuinely
    // crossed the restart
    assert(afterRun1.subsetOf(resumed) && afterRun1.size < resumed.size)
  }

  test("st19 BM25 serving resumes from its checkpointed query offsets — " +
      "queries answered before the stop are not re-served, queries " +
      "after it are, and the final answer set equals uninterrupted") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val table = graft.queries.TextQueries.ensureTextIndex(spark, dir)
    val queries: Seq[(Long, Seq[String])] = Seq(
      1L -> Seq("spark", "vector"), 2L -> Seq("hash", "window"),
      3L -> Seq("spark", "hash"), 4L -> Seq("vector", "window"))
    // uninterrupted serve = the reference
    val expected = CorpusStreaming.bm25ServeStream(spark, table,
      queries, topK = 5).collect().toSeq
    assert(expected.map(_.getLong(0)).distinct.size === 4)

    val staged = CorpusStreaming.stageQueryFiles(spark, queries)
    val files = Files.list(Paths.get(staged)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    val stage2 = Files.createTempDirectory("st19_partial")
    val out = Files.createTempDirectory("st19_out").toString
    val chk = Files.createTempDirectory("st19_chk").toString
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES): Unit
    ordered.take(2).foreach(copyIn)
    CorpusStreaming.serveBm25(spark, table, stage2.toString, out, chk,
      topK = 5) // run 1: serves queries 1-2, then "crashes"
    val served1 = spark.read.parquet(out)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    assert(served1 === Set(1L, 2L))
    ordered.drop(2).foreach(copyIn)
    CorpusStreaming.serveBm25(spark, table, stage2.toString, out, chk,
      topK = 5) // run 2: resumes at the first unanswered query
    val answers = spark.read.parquet(out)
    // exactly-once serving across the restart: no query answered twice
    // (each answer row appears once even BEFORE the distinct collapse)
    assert(answers.count() === answers.distinct().count())
    val got = answers.distinct()
      .orderBy(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("doc_id")).collect().toSeq
    assert(got === expected)
  }

  test("st28 batch BM25 serving resumes from its checkpointed batch " +
      "offsets — a batch answered before the stop is not re-served, " +
      "the one after it is, and the final answers equal uninterrupted") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val table = graft.queries.TextQueries.ensureTextIndex(spark, dir)
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, "spark vector"), (2L, "hash window")),
      Seq((3L, "spark hash"), (4L, "vector window")))
    val expected = CorpusStreaming.bm25BatchServeStream(spark, table,
      batches, topK = 5).collect().toSeq
    assert(expected.map(_.getLong(0)).distinct.size === 4)

    val staged = CorpusStreaming.stageQueryBatchFiles(spark, batches)
    val files = Files.list(Paths.get(staged)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)
    assert(ordered.size === 2)

    val stage2 = Files.createTempDirectory("st28_partial")
    val out = Files.createTempDirectory("st28_out").toString
    val chk = Files.createTempDirectory("st28_chk").toString
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES): Unit
    copyIn(ordered.head)
    CorpusStreaming.serveBm25Batches(spark, table, stage2.toString,
      out, chk, topK = 5) // run 1: serves batch 1, then "crashes"
    val served1 = spark.read.parquet(out)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    assert(served1 === Set(1L, 2L),
      "run 1 must have answered exactly the first batch's queries")
    ordered.drop(1).foreach(copyIn)
    CorpusStreaming.serveBm25Batches(spark, table, stage2.toString,
      out, chk, topK = 5) // run 2: resumes at the unanswered batch
    val answers = spark.read.parquet(out)
    // exactly-once serving across the restart: no answer row doubled
    assert(answers.count() === answers.distinct().count())
    val got = answers.distinct()
      .orderBy(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("rank")).collect().toSeq
    assert(got === expected)
  }

  test("st21 KMV sketch state round-trips the CHECKPOINTED state store " +
      "— a day's estimate keeps accumulating across the restart and " +
      "the final estimates equal the uninterrupted run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val batch = graft.queries.Tables.events(spark, dir)
    // uninterrupted reference (the registered st21 path)
    val expected = EventsStreaming.kmvDistinctStream(spark, dir)
      .as[(Long, Long)].collect().toMap

    val fullStage = EventsStreaming.stageTimeSlices(batch, 4,
      trailer = false)
    val files = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    // complete-mode drain through foreachBatch: each batch overwrites
    // `out` with the FULL current aggregate, so `out` always holds the
    // state store's latest view — restartable with the same chk
    def drain(staged: String, out: String, chk: String): Unit = {
      val q = EventsStreaming.kmvDailyAgg(spark, batch.schema, staged,
          k = 64)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            b.write.mode("overwrite").parquet(out)
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    val stage2 = Files.createTempDirectory("st21_partial")
    val out = Files.createTempDirectory("st21_out").toString
    val chk = Files.createTempDirectory("st21_chk").toString
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES): Unit
    // stop after ONE slice: the fixture spans exactly 30 days, so the
    // half-way cut lands ON a midnight (no day would span the restart
    // and the growth assertion below would be vacuous); the quarter
    // cut splits a day
    ordered.take(1).foreach(copyIn)
    drain(stage2.toString, out, chk) // run 1, then "crash"
    val afterRun1 = spark.read.parquet(out)
      .as[(Long, Long)].collect().toMap
    ordered.drop(1).foreach(copyIn)
    drain(stage2.toString, out, chk) // run 2: sketches resume from chk
    val resumed = spark.read.parquet(out)
      .as[(Long, Long)].collect().toMap

    // final estimates equal the uninterrupted run: the recovered
    // sketch buffers are the SAME multiset-of-mins they'd have been
    // without the stop (serialize → state store → deserialize exact)
    assert(resumed === expected)
    // the restart landed mid-stream: later days only appear after the
    // resume, and at least one day seen BEFORE the stop accumulated
    // more distinct users AFTER it — sketch state crossed the restart
    assert(afterRun1.size < resumed.size)
    assert(afterRun1.exists { case (d, est) => resumed(d) > est },
      s"expected a boundary day's estimate to grow across the " +
        s"restart; run1=$afterRun1")
  }

  test("st24 bottom-k sample state round-trips the CHECKPOINTED state " +
      "store — the resumed run equals the uninterrupted one, and the " +
      "mid-crash output is exactly the batch estimate of the processed " +
      "slice alone") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val batch = graft.queries.Tables.events(spark, dir)
    val expected = EventsStreaming.bkQuantileStream(spark, dir)
      .as[(Long, Long, Long)].collect().toSet

    val fullStage = EventsStreaming.stageTimeSlices(batch, 4,
      trailer = false)
    val files = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    def drain(staged: String, out: String, chk: String): Unit = {
      val q = EventsStreaming.bkDailyAgg(spark, batch.schema, staged,
          k = 256)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            b.write.mode("overwrite").parquet(out)
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    val stage2 = Files.createTempDirectory("st24_partial")
    val out = Files.createTempDirectory("st24_out").toString
    val chk = Files.createTempDirectory("st24_chk").toString
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES): Unit
    // one slice (a quarter of the span: splits a day), then "crash"
    ordered.take(1).foreach(copyIn)
    drain(stage2.toString, out, chk)
    val afterRun1 = spark.read.parquet(out)
      .as[(Long, Long, Long)].collect().toSet
    // the mid-crash view is DETERMINISTICALLY the batch estimate of
    // the processed slice alone — a genuine partial, not a coincidence
    val sliceOnly = spark.read.schema(batch.schema)
      .parquet(stage2.toString)
      .select(expr("ts DIV 86400000000000").as("d"),
        conv(substring(md5(col("event_id").cast("string")), 1, 13),
          16, 10).cast("long").as("h"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("x"))
      .groupBy(col("d"))
      .agg(graft.functions.VectorFunctions.bksample_sketch(
        col("h"), col("x"), 256).as("sk"))
      .select(col("d"),
        graft.functions.VectorFunctions
          .bksample_quantile(col("sk"), lit(0.5)).as("m"),
        graft.functions.VectorFunctions
          .bksample_quantile(col("sk"), lit(0.9)).as("p"))
      .as[(Long, Long, Long)].collect().toSet
    assert(afterRun1 === sliceOnly)
    // resume on the same checkpoint with the remaining slices
    ordered.drop(1).foreach(copyIn)
    drain(stage2.toString, out, chk)
    val resumed = spark.read.parquet(out)
      .as[(Long, Long, Long)].collect().toSet
    // recovered sample buffers are byte-faithful: final == uninterrupted
    assert(resumed === expected)
    // later days only appear after the resume
    assert(afterRun1.size < resumed.size)
  }

  test("st25 count-min state round-trips the CHECKPOINTED state store " +
      "— counter matrices keep accumulating across the restart and " +
      "the final estimates equal the uninterrupted run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val batch = graft.queries.Tables.events(spark, dir)
    val expected = EventsStreaming.cmsFreqStream(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet

    val fullStage = EventsStreaming.stageTimeSlices(batch, 4,
      trailer = false)
    val files = Files.list(Paths.get(fullStage)).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) all += files.next()
    val ordered = all.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

    def drain(staged: String, out: String, chk: String): Unit = {
      val q = EventsStreaming.cmsDailyAgg(spark, batch.schema, staged,
          w = 1024, d = 3)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            b.write.mode("overwrite").parquet(out)
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    val stage2 = Files.createTempDirectory("st25_partial")
    val out = Files.createTempDirectory("st25_out").toString
    val chk = Files.createTempDirectory("st25_chk").toString
    def copyIn(p: java.nio.file.Path): Unit =
      Files.copy(p, stage2.resolve(p.getFileName.toString),
        StandardCopyOption.COPY_ATTRIBUTES): Unit
    // one slice (a quarter of the span: splits a day), then "crash"
    ordered.take(1).foreach(copyIn)
    drain(stage2.toString, out, chk)
    val afterRun1 = spark.read.parquet(out)
      .as[(Long, Long, Long, Long)].collect().toSet
    // the mid-crash view is DETERMINISTICALLY the batch answer over
    // the processed slice alone — a genuine partial, not a coincidence
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => F}
    def probeHash(u: String) =
      conv(substring(md5(lit(u)), 1, 13), 16, 10).cast("long")
    val sliceOnly = spark.read.schema(batch.schema)
      .parquet(stage2.toString)
      .select(expr("ts DIV 86400000000000").as("d"),
        conv(substring(md5(col("user_id").cast("string")), 1, 13),
          16, 10).cast("long").as("h"))
      .groupBy(col("d"))
      .agg(F.cms_sketch(col("h"), 1024, 3).as("sk"))
      .select(col("d"),
        F.cms_query(col("sk"), probeHash("1")).as("u1"),
        F.cms_query(col("sk"), probeHash("2")).as("u2"),
        F.cms_query(col("sk"), probeHash("3")).as("u3"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterRun1 === sliceOnly)
    ordered.drop(1).foreach(copyIn)
    drain(stage2.toString, out, chk) // counters resume from chk
    val resumed = spark.read.parquet(out)
      .as[(Long, Long, Long, Long)].collect().toSet

    // recovered counter matrices are byte-faithful: element-wise sums
    // across the restart land on the uninterrupted answer exactly
    assert(resumed === expected)
    // the restart landed mid-stream: later days only appear after it
    assert(afterRun1.size < resumed.size)
  }

  test("st22 index maintenance survives a checkpoint stop/resume — " +
      "the resumed index equals the uninterrupted run's, and the " +
      "mid-crash index serves exactly the processed batches") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions._
    import graft.operators.{BucketedStores, GraftPipeline}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(length(col("text")) >= 100)
      .select(col("doc_id"), col("text"))
    val upserts = docs
      .filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" upd")).as("text"))
      .filter(length(col("text")) >= 100)
    val deletes = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val changelog = deletes
      .select(col("doc_id"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
      .unionByName(upserts.select(col("doc_id"), lit("upsert").as("op"),
        col("text")))
    def served(t: String): Set[(Long, String)] = spark.table(t)
      .select("doc_id", "h").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    // uninterrupted run = the reference index
    GraftPipeline.buildExactIndexMor(base, "doc_id", "text", "st22_ref")
    DocumentsStreaming.indexMaintenanceStream(spark, "st22_ref",
      changelog, slices = 4)
    val expected = served("st22_ref")

    // interrupted run: 2 slices, "crash", add the rest, resume on the
    // SAME checkpoint
    val fullStage = DocumentsStreaming.stageIdSlices(changelog, 4)
    val ordered = {
      val it = Files.list(Paths.get(fullStage)).iterator()
      val all = scala.collection.mutable.ArrayBuffer
        .empty[java.nio.file.Path]
      while (it.hasNext) all += it.next()
      // drop the local FS's hidden .crc siblings — they sort before
      // the slices and are invisible to the stream source
      all.filterNot(_.getFileName.toString.startsWith("."))
        .sortBy(_.getFileName.toString)
    }
    val stage2 = Files.createTempDirectory("st22_partial")
    val chk = Files.createTempDirectory("st22_chk").toString
    def copyIn(p: java.nio.file.Path): Unit = Files.copy(p,
      stage2.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    GraftPipeline.buildExactIndexMor(base, "doc_id", "text", "st22_res")
    ordered.take(2).foreach(copyIn)
    DocumentsStreaming.drainIndexMaintenance(spark, "st22_res",
      changelog.schema, stage2.toString, chk) // run 1, then "crash"
    val midCrash = served("st22_res")
    ordered.drop(2).foreach(copyIn)
    DocumentsStreaming.drainIndexMaintenance(spark, "st22_res",
      changelog.schema, stage2.toString, chk) // run 2: resume
    assert(served("st22_res") === expected,
      "resumed maintenance must land on the uninterrupted run's index")

    // the mid-crash state is not vacuous: exactly the first two
    // slices' changes applied — some change visible, some still ahead
    assert(midCrash !== served("st22_res"),
      "the crash point must sit strictly inside the changelog")
    val baseServed = base
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(midCrash !== baseServed,
      "run 1 must have applied its processed batches before the crash")
    BucketedStores.dropVersioned(spark, "st22_ref")
    BucketedStores.dropVersioned(spark, "st22_res")
  }

  test("st26 key-stats maintenance survives a checkpoint stop/resume — " +
      "the resumed stats are BYTE-equal to a from-scratch rescan of " +
      "the fully-drained table, rows and stats in lockstep throughout") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions._
    import graft.operators.SketchStats
    def tmp() = Files.createTempDirectory("st26spec").toString
    val rows = spark.range(4000L).select(col("id").as("k"))
    spark.range(0L).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("st26_res")
    SketchStats.analyzeKey(spark, "st26_res", "k")
    val fullStage = DocumentsStreaming.stageIdSlices(rows, 4, "k")
    val ordered = {
      val it = Files.list(Paths.get(fullStage)).iterator()
      val all = scala.collection.mutable.ArrayBuffer
        .empty[java.nio.file.Path]
      while (it.hasNext) all += it.next()
      all.filterNot(_.getFileName.toString.startsWith("."))
        .sortBy(_.getFileName.toString)
    }
    val stage2 = Files.createTempDirectory("st26_partial")
    val chk = Files.createTempDirectory("st26_chk").toString
    def copyIn(p: java.nio.file.Path): Unit = Files.copy(p,
      stage2.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    ordered.take(2).foreach(copyIn)
    DocumentsStreaming.drainStatsMaintenance(spark, "st26_res",
      rows.schema, stage2.toString, chk) // run 1, then "crash"
    val mid = SketchStats.read(spark, "st26_res").get
    assert(mid.nRows > 0 && mid.nRows < 4000L,
      s"the crash point must sit strictly inside the stream: $mid")
    assert(mid.nRows === spark.table("st26_res").count(),
      "rows and stats must agree at the crash point")
    ordered.drop(2).foreach(copyIn)
    DocumentsStreaming.drainStatsMaintenance(spark, "st26_res",
      rows.schema, stage2.toString, chk) // run 2: resume
    val fin = SketchStats.read(spark, "st26_res").get
    assert(fin.nRows === 4000L)
    assert(fin.nRows === spark.table("st26_res").count(),
      "no batch may double-apply across the resume")
    // byte-equality with a from-scratch rescan: the maintained sketch
    // has no drift, crash or not
    val rescan = SketchStats.analyzeKey(spark, "st26_res", "k")
    assert(java.util.Arrays.equals(fin.cms, rescan.cms),
      "resumed stats must be byte-equal to the rescan")
    // a SECOND maintenance stream (fresh checkpoint = fresh lineage,
    // batch ids restart at 0) must APPLY its batches: the replay guard
    // is scoped to the checkpoint identity, so a new lineage can never
    // be silently skipped against the old lineage's high-water mark
    val more2 = spark.range(4000L, 4400L).select(col("id").as("k"))
    DocumentsStreaming.statsMaintenanceStream(spark, "st26_res",
      more2, "k")
    val after = SketchStats.read(spark, "st26_res").get
    assert(after.nRows === 4400L,
      "a fresh-lineage maintenance stream must append and fold, not " +
        s"silently no-op against the old lineage's batch ids: $after")
    assert(after.nRows === spark.table("st26_res").count())
    val rescan2 = SketchStats.analyzeKey(spark, "st26_res", "k")
    assert(java.util.Arrays.equals(after.cms, rescan2.cms),
      "second-lineage stats must be byte-equal to the rescan")
    Seq("st26_res", "st26_res__kstats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("st23 near-store maintenance survives a checkpoint stop/resume " +
      "— the resumed pair store equals the uninterrupted run's") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions._
    import graft.operators.{BucketedStores, GraftPipeline}
    val cfg = GraftPipeline.Config(minChars = 100, nearDedup = true)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(length(col("text")) >= 100)
      .select(col("doc_id"), col("text"))
    val upserts = docs
      .filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" upd")).as("text"))
      .filter(length(col("text")) >= 100)
    val deletes = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val changelog = deletes
      .select(col("doc_id"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
      .unionByName(upserts.select(col("doc_id"), lit("upsert").as("op"),
        col("text")))
    def servedPairs(t: String): Set[(Long, Long)] = spark.table(t)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    GraftPipeline.buildNearIndexesMor(base, "doc_id", "text",
      "st23_ref_lsh", "st23_ref_pairs", cfg)
    DocumentsStreaming.nearIndexMaintenanceStream(spark, "st23_ref_lsh",
      "st23_ref_pairs", changelog, cfg, slices = 4)
    val expected = servedPairs("st23_ref_pairs")

    val fullStage = DocumentsStreaming.stageIdSlices(changelog, 4)
    val ordered = {
      val it = Files.list(Paths.get(fullStage)).iterator()
      val all = scala.collection.mutable.ArrayBuffer
        .empty[java.nio.file.Path]
      while (it.hasNext) all += it.next()
      all.filterNot(_.getFileName.toString.startsWith("."))
        .sortBy(_.getFileName.toString)
    }
    val stage2 = Files.createTempDirectory("st23_partial")
    val chk = Files.createTempDirectory("st23_chk").toString
    def copyIn(p: java.nio.file.Path): Unit = Files.copy(p,
      stage2.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    GraftPipeline.buildNearIndexesMor(base, "doc_id", "text",
      "st23_res_lsh", "st23_res_pairs", cfg)
    ordered.take(2).foreach(copyIn)
    DocumentsStreaming.drainNearIndexMaintenance(spark, "st23_res_lsh",
      "st23_res_pairs", changelog.schema, stage2.toString, chk, cfg)
    val midCrash = servedPairs("st23_res_pairs")
    ordered.drop(2).foreach(copyIn)
    DocumentsStreaming.drainNearIndexMaintenance(spark, "st23_res_lsh",
      "st23_res_pairs", changelog.schema, stage2.toString, chk, cfg)
    assert(servedPairs("st23_res_pairs") === expected,
      "resumed near maintenance must land on the uninterrupted stores")
    assert(midCrash !== expected,
      "the crash point must sit strictly inside the changelog")
    Seq("st23_ref_lsh", "st23_ref_pairs", "st23_res_lsh",
      "st23_res_pairs").foreach(BucketedStores.dropVersioned(spark, _))
  }
}
