package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The jobless serving-regime gate ([[RelationRowBound]]): parquet
  * footer counts must be EXACT through row-preserving plans, prove
  * over-cap with a short-circuit, and refuse (None) any plan whose
  * row count a footer cannot witness — the refusal is what keeps the
  * gate a pure optimization (callers fall back to the counting job).
  */
class RelationRowBoundSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_rrb").toString

  override def beforeAll(): Unit = {
    import spark.implicits._
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(4).write.parquet(s"$dir/t100")
  }

  override def afterAll(): Unit = spark.stop()

  private def t100 = spark.read.parquet(s"$dir/t100")

  test("exact count through row-preserving wrappers") {
    assert(RelationRowBound.boundedCount(t100, 1000).contains(100L))
    assert(RelationRowBound.boundedCount(
      t100.select("id").repartition(8).sortWithinPartitions("id"),
      1000).contains(100L))
  }

  test("over-cap proof short-circuits (value > cap, not exact)") {
    val c = RelationRowBound.boundedCount(t100, 10)
    assert(c.exists(_ > 10))
    assert(RelationRowBound.exceeds(t100, 10).contains(true))
    assert(RelationRowBound.exceeds(t100, 100).contains(false))
  }

  test("limit is exact: min(n, child)") {
    assert(RelationRowBound.boundedCount(t100.limit(7), 1000)
      .contains(7L))
    assert(RelationRowBound.boundedCount(t100.limit(500), 1000)
      .contains(100L))
  }

  test("union all adds; temp view resolves") {
    assert(RelationRowBound.boundedCount(
      t100.union(t100.select("id", "s")), 1000).contains(200L))
    t100.createOrReplaceTempView("rrb_v")
    assert(RelationRowBound.boundedCount(
      spark.table("rrb_v"), 1000).contains(100L))
  }

  test("unprovable shapes refuse: filter, join, aggregate, generate") {
    import org.apache.spark.sql.functions._
    assert(RelationRowBound.boundedCount(
      t100.filter(col("id") > 3), 1000).isEmpty)
    assert(RelationRowBound.boundedCount(
      t100.join(t100.select(col("id")), "id"), 1000).isEmpty)
    assert(RelationRowBound.boundedCount(
      t100.groupBy("id").count(), 1000).isEmpty)
    assert(RelationRowBound.boundedCount(
      t100.select(explode(array(col("id"), col("id")))), 1000).isEmpty)
  }

  test("the footer walk is bounded: past MaxFooters files an " +
      "under-cap sum proves nothing, an over-cap one still proves " +
      "itself from the first footers") {
    // 20 files of exactly 5 rows each (range splits evenly)
    val path = s"$dir/t20files"
    spark.range(0L, 100L, 1L, 20).write.parquet(path)
    val t20 = spark.read.parquet(path)
    assert(t20.inputFiles.length === 20 &&
      t20.inputFiles.length > RelationRowBound.MaxFooters)
    // 16 footers read, 4 files left, 80 rows ≤ cap: unprovable
    assert(RelationRowBound.boundedCount(t20, 1000).isEmpty)
    assert(RelationRowBound.exceeds(t20, 90).isEmpty)
    // over-cap within the first footers: proven without reading on
    assert(RelationRowBound.boundedCount(t20, 10).exists(_ > 10))
    assert(RelationRowBound.exceeds(t20, 10).contains(true))
    assert(RelationRowBound.exceeds(t20, 79).contains(true))
  }

  test("local relation counts without files") {
    import spark.implicits._
    assert(RelationRowBound.boundedCount(
      Seq(1, 2, 3).toDF("x"), 10).contains(3L))
  }
}
