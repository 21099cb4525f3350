package graft.sources

import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission, PosixFilePermissions}
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.wod.CastWriter

/** Listing a local tree starts no process: the session's `file://`
  * filesystem ([[NioLocalFileSystem]]) reads a status's permission,
  * owner and group through `java.nio`, not by running `ls -ld`, and a
  * `wod` scan lists its files once. Process starts are recorded
  * in-process with JFR (`jdk.ProcessStart`).
  */
class NioListingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private val datasets = Seq("CTD", "XBT")
  private val levels = Seq("OBS", "STD")
  private val perDir = 5 // 2 x 2 x 5 = 20 members
  private val castsPerMember = 3

  private var tmp: JPath = _
  private def tree = tmp.resolve("tree")

  /** Renders `<DS>/<LEVEL>/<DS>O<i>.gz` under `dir`. */
  private def render(dir: JPath, ds: Seq[String], lv: Seq[String],
      n: Int): Unit =
    for (d <- ds; l <- lv; i <- 1 to n)
      CastWriter.writeMember(dir.resolve(s"$d/$l/${d}O$i.gz"),
        (1 to castsPerMember).map(c => CastWriter.oneLevel(i * 100 + c)))

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("niolist")
    render(tree, datasets, levels, perDir)
    // the JVM's first listing and scan run over a separate tree, so the
    // recorded ones see no first-use set-up
    render(tmp.resolve("warm"), Seq("APB"), Seq("OBS"), 1)
    val warm = tmp.resolve("warm").toString
    listFiles(warm)
    spark.read.format("wod").load(warm).count()
  }

  override def afterAll(): Unit = spark.stop()

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listFiles(dir: String): Seq[FileStatus] = {
    val it = fs(dir).listFiles(new Path(dir), true)
    val out = Seq.newBuilder[FileStatus]
    while (it.hasNext) out += it.next()
    out.result()
  }

  /** Runs `body`; returns its result and the commands of the process
    * starts JFR recorded meanwhile.
    */
  private def processStarts[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile(tmp, "starts", ".jfr")
    rec.dump(file)
    rec.close()
    val starts = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    (out, starts)
  }

  test("listFiles over a 3-level tree of 20 members starts no process") {
    val (files, starts) = processStarts(listFiles(tree.toString))
    assert(files.count(_.getPath.getName.endsWith(".gz")) === 20)
    // LocatedFileStatus copies every status's permission, owner, group
    assert(files.forall(_.getOwner.nonEmpty))
    assert(starts.size == 0, s"process starts: ${starts.take(3)}")
  }

  test("a directory wod scan, planned and executed, starts no process") {
    val (n, starts) = processStarts(
      spark.read.format("wod").load(tree.toString).count())
    assert(n === 20 * castsPerMember)
    assert(starts.size == 0, s"process starts: ${starts.take(3)}")
  }

  test("a listed status carries the file's own permission, owner and " +
      "group") {
    val dir = tree.resolve("CTD/OBS")
    val file = dir.resolve("CTDO1.gz")
    Files.setPosixFilePermissions(file,
      PosixFilePermissions.fromString("rw-r-----"))
    def bits(p: JPath): Short = Files.getPosixFilePermissions(p).asScala
      .map(b => 1 << (8 - PosixFilePermission.values.indexOf(b))).sum.toShort
    def check(st: FileStatus, p: JPath): Unit = {
      val attrs = Files.readAttributes(p, classOf[PosixFileAttributes])
      assert(st.getPermission.toShort === bits(p), p)
      assert(st.getOwner === Files.getOwner(p).getName, p)
      assert(st.getGroup === attrs.group.getName, p)
    }
    assert(bits(file) === Integer.parseInt("640", 8).toShort)
    val local = fs(tree.toString)
    val listed = local.listStatus(new Path(dir.toString))
      .find(_.getPath.getName == "CTDO1.gz").get
    check(listed, file)
    check(local.getFileStatus(new Path(file.toString)), file)
    check(local.getFileStatus(new Path(dir.toString)), dir)
    check(listFiles(dir.toString).find(_.getPath.getName == "CTDO1.gz").get,
      file)
    val parent = local.listStatus(new Path(tree.resolve("CTD").toString))
    check(parent.find(_.getPath.getName == "OBS").get, dir)
  }
}
