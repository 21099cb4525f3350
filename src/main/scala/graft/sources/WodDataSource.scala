package graft.sources

import java.io.{FileNotFoundException, IOException, InputStream, Reader}
import java.util
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
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
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("paths"))
      .map(new ObjectMapper().readValue(_, classOf[Array[String]]).toSeq)
      .getOrElse(Seq.empty) ++ Option(options.get("path"))
    require(paths.nonEmpty, "wod source requires a load path")
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
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

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    WodReaderFactory(conf, required)
  }
}

final case class WodInputPartition(file: String) extends InputPartition

final case class WodReaderFactory(conf: SerializableConfiguration,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new WodPartitionReader(p.asInstanceOf[WodInputPartition].file, conf.value,
      required)
}

/** Streams one gzip member: parse → transform → serialize (pruned to
  * the required columns), constant memory, no driver involvement. The
  * only place the engine opens, gunzips and parses a WOD member.
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
  private val serializer = castEncoder.createSerializer()
  private val castOnly = required.fieldNames.sameElements(castSchema.fieldNames)
  private lazy val project = UnsafeProjection.create(
    required.fieldNames.toIndexedSeq.map { name =>
      val i = fullSchema.fieldIndex(name)
      BoundReference(i, fullSchema(i).dataType, nullable = true)
    })
  private val nullCast = new GenericInternalRow(castSchema.length)
  private val meta = new GenericInternalRow(
    Array[Any](UTF8String.fromString(file), null))
  private val joined = new JoinedRow

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

  private def row(cast: InternalRow, error: InternalRow): InternalRow =
    if (castOnly) cast
    else { meta.update(1, error); project(joined(cast, meta)) }

  private def fail(err: CastError): Unit =
    if (keepErrors) current = row(nullCast, InternalRow(
      UTF8String.fromString(err.dataset), err.castNumber,
      UTF8String.fromString(err.error)))

  override def next(): Boolean = {
    current = null
    while (current == null && !done)
      try {
        if (parsed == null) parsed = CastParser.casts(open(), dataset, skipProfile)
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
    current != null
  }

  override def get(): InternalRow = current

  override def close(): Unit = if (in != null) in.close()
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
