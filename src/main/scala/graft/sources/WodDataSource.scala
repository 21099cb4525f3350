package graft.sources

import java.io.{FileNotFoundException, IOException, InputStream, Reader}
import java.util
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.wod.{AsciiCast, Cast, CastError, CastParser, Transform => WodTransform, WodSource}

/** DataSource V2 for WOD native ASCII (`spark.read.format("wod")
  * .load(dir)`) — the engine's one WOD reader, behind SQL and both
  * conversion modes (SURVEY §7.1 step 4): file enumeration by the
  * source, one InputPartition per gzip member (gzip is non-splittable —
  * the same per-file parallelism unit the reference uses via HTCondor
  * fan-out), streaming parse directly to InternalRow on executors.
  *
  * The error side-channel (C5) is two metadata columns:
  *  - `_source_file`: the member's fully qualified path;
  *  - `_error`: `struct<dataset, castNumber, error>`, set on error rows.
  *
  * Error rows appear only in scans that reference `_error` (Spark's
  * `_corrupt_record` rule): one per cast that fails parse/transform and
  * one per unreadable or damaged member, with every cast column null.
  * A scan that does not reference `_error` returns exactly the valid
  * casts.
  *
  * A scan pays its set-up once, not once per member or per planning
  * pass:
  *  - the files are listed once per scan ([[WodScan]]), though physical
  *    planning and AQE re-planning each ask for the partitions;
  *  - the Hadoop conf ships to the executors as one broadcast;
  *  - readers borrow compiled `Cast` serializers from a JVM-wide pool
  *    instead of generating one per member;
  *  - a reader's row is a view of the serializer's row and the metadata
  *    columns, not a per-reader projection: Spark puts a `ProjectExec`
  *    on every row-based v2 scan, codegen'd once per query, and that
  *    node makes the one `UnsafeRow` copy.
  * The work left per member is gunzip, parse, transform and one row
  * conversion.
  */
class WodDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "wod"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WodDataSource.castSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WodTable(properties.asScala.toMap)
}

object WodDataSource {
  val SourceFileColumn = "_source_file"
  val ErrorColumn = "_error"

  val castEncoder: ExpressionEncoder[Cast] = ExpressionEncoder[Cast]()
  /** The cast columns, top level nullable: they are null in error rows. */
  val castSchema: StructType =
    StructType(castEncoder.schema.map(_.copy(nullable = true)))
  /** The reader's row layout: cast columns, then the metadata columns. */
  val fullSchema: StructType = castSchema
    .add(SourceFileColumn, StringType)
    .add(ErrorColumn, ExpressionEncoder[CastError]().schema)

  /** Compiled `Cast` serializers not in use. `createSerializer`
    * generates the serializer's Java source again on every call (about
    * 20 ms, before the compiled-class cache is consulted), so a reader
    * borrows one here and gives it back when its member is exhausted or
    * it closes. The queue never holds more serializers than the JVM has
    * had readers open at once. Not a `ThreadLocal`: one thread may have
    * two readers open.
    */
  private[graft] val serializers =
    new ConcurrentLinkedQueue[ExpressionEncoder.Serializer[Cast]]()

  private[sources] def borrowSerializer(): ExpressionEncoder.Serializer[Cast] = {
    val s = serializers.poll()
    if (s != null) s else castEncoder.createSerializer()
  }
}

final class WodTable(properties: Map[String, String])
    extends Table with SupportsRead with SupportsMetadataColumns {

  override def name(): String =
    s"wod(${properties.getOrElse("path", properties.getOrElse("paths", "?"))})"
  override def schema(): StructType = WodDataSource.castSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def metadataColumns(): Array[MetadataColumn] =
    WodDataSource.fullSchema.drop(WodDataSource.castSchema.length).map { f =>
      new MetadataColumn {
        override def name(): String = f.name
        override def dataType(): DataType = f.dataType
      }: MetadataColumn
    }.toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WodScanBuilder(options)
}

/** Column pruning: the gzip stream is sequential so every cast's bytes
  * are consumed regardless, but pruned scans emit narrow rows — and
  * when `depths` is not in the projection, the reader tells the parser
  * to DECODE the profile section without building per-depth structs
  * (see [[WodPartitionReader]]): nested `depths` dominate both row
  * width and allocation, so `SELECT castNumber, geohash3` pays neither.
  */
final class WodScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var required: StructType = WodDataSource.castSchema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Catalyst may hand us NESTED-pruned struct types (inner fields of
    // `depths` removed); our reader serializes full Cast rows, so honor
    // the pruning at top level only and keep the full nested types —
    // declaring a narrower nested type than the rows carry corrupts the
    // unsafe row layout.
    val full = WodDataSource.fullSchema
    required = StructType(
      requiredSchema.fieldNames.map(n => full(full.fieldIndex(n))))
  }
  override def build(): Scan = new WodScan(options, required)
}

final class WodScan(options: CaseInsensitiveStringMap,
    required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = "WOD ASCII cast scan"

  /** One partition per .gz file under the load path(s), named by its
    * fully qualified path — driver-side metadata listing only. Paths
    * may be globs; `load(a, b)` arrives as a JSON array in `paths`.
    * Listed once: physical planning and AQE re-planning both call
    * `planInputPartitions` on this scan, and a new action builds a new
    * scan, so the listing never outlives its action.
    */
  private lazy val partitions: Array[InputPartition] = {
    val paths = Option(options.get("paths"))
      .map(new ObjectMapper().readValue(_, classOf[Array[String]]).toSeq)
      .getOrElse(Seq.empty) ++ Option(options.get("path"))
    require(paths.nonEmpty, "wod source requires a load path")
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      val matched = Option(fs.globStatus(path)).getOrElse(Array.empty)
      if (matched.isEmpty) throw new FileNotFoundException(
        s"wod source: path does not exist: $p")
      matched.toSeq.flatMap { st =>
        if (st.isDirectory) {
          val it = fs.listFiles(st.getPath, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val f = it.next()
            if (f.isFile && f.getPath.getName.endsWith(".gz"))
              buf += fs.makeQualified(f.getPath).toString
          }
          buf.toSeq
        } else Seq(fs.makeQualified(st.getPath).toString)
      }
    }
    files.sorted.map(f => WodInputPartition(f): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** One broadcast Hadoop conf per scan (Spark's `FileScan` idiom), not
    * one serialized copy per task.
    */
  private lazy val readerFactory = WodReaderFactory(
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf)), required)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  private def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
}

final case class WodInputPartition(file: String) extends InputPartition

final case class WodReaderFactory(conf: Broadcast[SerializableConfiguration],
    required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new WodPartitionReader(p.asInstanceOf[WodInputPartition].file,
      conf.value.value, required)
}

/** Streams one gzip member: parse → transform → serialize, emitted as
  * a view of the required columns; constant memory, no driver
  * involvement. The only place the engine opens, gunzips and parses a
  * WOD member. The row `get` returns is reused by the next `next`.
  */
final class WodPartitionReader(file: String, conf: Configuration,
    required: StructType)
    extends PartitionReader[InternalRow] {
  import WodDataSource._

  private val dataset = WodSource.datasetOf(file)
  private val keepErrors = required.fieldNames.contains(ErrorColumn)
  // Nested pruning at PARSE time: when the projection needs no
  // `depths`, the profile section is decoded (same grammar, same
  // byte-count invariant — the accepted-cast set is projection-
  // independent) but no per-depth structs are built. Header-only
  // analytics over raw ASCII skip the dominant allocation cost of a
  // cast (levels × vars objects); at corpus scale that is most of the
  // transform work.
  private val skipProfile = !required.fieldNames.contains("depths")
  // borrowed on the first `next`, given back exactly once: when the
  // member is exhausted or on `close`, whichever comes first (under
  // `coalesce` a task closes its readers only when it ends)
  private var serializer: ExpressionEncoder.Serializer[Cast] = _
  private val nullCast = new GenericInternalRow(castSchema.length)
  private val meta = new GenericInternalRow(
    Array[Any](UTF8String.fromString(file), null))
  private val joined = new JoinedRow
  private val view = ProjectingInternalRow(required,
    required.fieldNames.toIndexedSeq.map(fullSchema.fieldIndex))
  view.project(joined)

  private var in: Reader = _
  private var parsed: Iterator[Either[CastError, AsciiCast]] = _
  private var done = false
  private var current: InternalRow = _

  private def open(): Reader = {
    val path = new Path(file)
    val raw = path.getFileSystem(conf).open(path)
    in = new AsciiReader(
      if (!file.endsWith(".gz")) raw
      else try new GZIPInputStream(raw, 64 * 1024)
      catch { case e: IOException => raw.close(); throw e })
    in
  }

  private def row(cast: InternalRow, error: InternalRow): InternalRow = {
    meta.update(1, error)
    joined(cast, meta)
    view
  }

  private def release(): Unit = if (serializer != null) {
    serializers.offer(serializer)
    serializer = null
  }

  private def fail(err: CastError): Unit =
    if (keepErrors) current = row(nullCast, InternalRow(
      UTF8String.fromString(err.dataset), err.castNumber,
      UTF8String.fromString(err.error)))

  override def next(): Boolean = {
    current = null
    while (current == null && !done)
      try {
        if (parsed == null) {
          serializer = borrowSerializer()
          parsed = CastParser.casts(open(), dataset, skipProfile)
        }
        if (!parsed.hasNext) done = true
        else parsed.next() match {
          case Right(ascii) => WodTransform.toCast(dataset, ascii) match {
            case Right(cast) => current = row(serializer(cast), null)
            case Left(err) => fail(err)
          }
          case Left(err) => fail(err)
        }
      } catch {
        // missing file, corrupt gzip header, truncated or damaged
        // stream: the member ends with one error row naming it, never a
        // task failure (one bad object in an S3 prefix must not kill a
        // 100 TB job)
        case e: IOException =>
          done = true
          fail(CastError(dataset, -1, s"unreadable member $file: $e"))
      }
    if (done) release()
    current != null
  }

  override def get(): InternalRow = current

  override def close(): Unit = {
    release()
    if (in != null) in.close()
  }
}

/** Byte-per-char `Reader` (WOD is single-byte ASCII) that makes exactly
  * one `InputStream.read` per call, so a stream error — a truncated or
  * corrupt gzip member — surfaces only after every byte inflated before
  * it has been returned. `InputStreamReader` decodes several reads per
  * call and loses the chars of the call that fails.
  */
private final class AsciiReader(in: InputStream) extends Reader {
  private var bytes = new Array[Byte](0)

  override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
    if (bytes.length < len) bytes = new Array[Byte](len)
    val n = in.read(bytes, 0, len)
    var i = 0
    while (i < n) { cbuf(off + i) = (bytes(i) & 0xff).toChar; i += 1 }
    n
  }

  override def close(): Unit = in.close()
}
