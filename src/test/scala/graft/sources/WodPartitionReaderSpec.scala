package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs
import graft.wod.{CastWriter, WodFixtures}
import graft.wod.CastWriter.{oneLevel => cast}

/** [[WodPartitionReader]] on its own: two readers open on one thread
  * never share a row, and a reader gives its pooled serializer back
  * exactly once.
  */
class WodPartitionReaderSpec extends AnyFunSuite with BeforeAndAfterAll {
  import WodDataSource.{fullSchema, serializers}

  private var tmp: Path = _
  private val conf = new Configuration()

  // member A: casts 1..12, cast 5 has no location (transform error);
  // member B: casts 101..117
  private def a = tmp.resolve("CTD/OBS/A.gz")
  private def b = tmp.resolve("XBT/OBS/B.gz")

  override def beforeAll(): Unit = {
    tmp = Files.createTempDirectory("wodreader")
    CastWriter.writeMember(a, (1 to 12).map(n => cast(n, located = n != 5)))
    CastWriter.writeMember(b, (101 to 117).map(cast(_)))
  }

  override def afterAll(): Unit = TestDirs.deleteTree(tmp)

  private val schemas = Seq(
    "full cast" -> WodDataSource.castSchema,
    "cast + _source_file + _error" -> WodDataSource.fullSchema,
    "castNumber, geohash3" -> StructType(
      Seq("castNumber", "geohash3").map(n => fullSchema(fullSchema.fieldIndex(n)))))

  private def reader(file: Path, required: StructType) =
    new WodPartitionReader(file.toString, conf, required)

  private def sequential(file: Path, required: StructType): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(required)
    val r = reader(file, required)
    try Iterator.continually(r).takeWhile(_.next())
      .map(r => toRow(r.get().copy()).asInstanceOf[Row]).toSeq
    finally r.close()
  }

  for ((name, required) <- schemas)
    test(s"two readers interleaved on one thread return their own rows: " +
        name) {
      val toRow = CatalystTypeConverters.createToScalaConverter(required)
      val (ra, rb) = (reader(a, required), reader(b, required))
      val (outA, outB) = (Seq.newBuilder[Row], Seq.newBuilder[Row])
      var (moreA, moreB) = (true, true)
      try while (moreA || moreB) {
        // both rows are taken before either is copied
        moreA = moreA && ra.next()
        moreB = moreB && rb.next()
        val (rowA, rowB) = (if (moreA) ra.get() else null,
          if (moreB) rb.get() else null)
        if (moreA) outA += toRow(rowA.copy()).asInstanceOf[Row]
        if (moreB) outB += toRow(rowB.copy()).asInstanceOf[Row]
      } finally { ra.close(); rb.close() }
      val (seqA, seqB) = (sequential(a, required), sequential(b, required))
      assert(seqA.size === (if (required.fieldNames.contains("_error")) 12
        else 11))
      assert(seqB.size === 17)
      assert(outA.result() === seqA)
      assert(outB.result() === seqB)
    }

  test("an exhausted, then closed reader returns its serializer once") {
    serializers.clear()
    val r = reader(a, WodDataSource.castSchema)
    assert(r.next())
    assert(serializers.isEmpty, "a reading reader holds its serializer")
    while (r.next()) ()
    assert(serializers.size === 1, "returned when the member is exhausted")
    val s = serializers.peek()
    r.close()
    r.close()
    assert(serializers.size === 1, "close must not return it again")
    // a reader closed before its member ends returns it on close
    val r2 = reader(b, WodDataSource.castSchema)
    assert(r2.next())
    assert(serializers.isEmpty)
    r2.close()
    assert(serializers.size === 1 && (serializers.peek() eq s))
    r2.close()
    assert(serializers.size === 1)
  }
}
