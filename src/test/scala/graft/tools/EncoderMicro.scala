package graft.tools

import org.apache.spark.sql.SparkSession

/** Prices the cast product-encoder serialization (the measured
  * ~90% of the parse floor, WodProfile r21): the SAME synthetic cast
  * stream through (a) the current Seq-field case classes and (b) an
  * Array-field clone of the model — the candidate change — noop sink.
  */
object EncoderMicro {
  // Array-field clone of the nested model (schema-identical)
  final case class AAttr(code: Int, value: Double)
  final case class AMeta(code: Int, value: Double)
  final case class AVar(code: Int, qcFlag: Int, metadata: Array[AMeta])
  final case class APd(variableCode: Int, value: Double, qcFlag: Int,
      originatorsFlag: Int)
  final case class ADepth(depth: java.lang.Double, depthErrorFlag: Int,
      originatorsFlag: Int, data: Array[APd])
  final case class ACast(
      dataset: String, castNumber: Int, cruiseNumber: Int,
      country: String, latitude: Double, longitude: Double,
      year: Int, month: Int, day: Int,
      geohash: String, geohash3: String, geometry: Array[Byte],
      attributes: Array[AAttr], variables: Array[AVar],
      depths: Array[ADepth])

  final case class SAttr(code: Int, value: Double)
  final case class SMeta(code: Int, value: Double)
  final case class SVar(code: Int, qcFlag: Int, metadata: Seq[SMeta])
  final case class SPd(variableCode: Int, value: Double, qcFlag: Int,
      originatorsFlag: Int)
  final case class SDepth(depth: java.lang.Double, depthErrorFlag: Int,
      originatorsFlag: Int, data: Seq[SPd])
  final case class SCast(
      dataset: String, castNumber: Int, cruiseNumber: Int,
      country: String, latitude: Double, longitude: Double,
      year: Int, month: Int, day: Int,
      geohash: String, geohash3: String, geometry: Array[Byte],
      attributes: Seq[SAttr], variables: Seq[SVar],
      depths: Seq[SDepth])

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val n = 200000
    val nd = 40 // depths per cast
    def seqCast(i: Int): SCast = SCast(
      "XBT", i, i / 10, "US", 10.5 + i % 90, -120.0 + i % 180,
      1990 + i % 30, 1 + i % 12, 1 + i % 28,
      "9q8yyk8ytpxr", "9q8", Array.fill(21)(7.toByte),
      (0 until 4).map(j => SAttr(j, j * 1.5)),
      (0 until 3).map(j => SVar(j, 0, (0 until 2).map(m => SMeta(m, m)))),
      (0 until nd).map(d => SDepth(d * 2.0, 0, 0,
        (0 until 3).map(p => SPd(p, d + p * 0.1, 0, 0)))))
    def arrCast(i: Int): ACast = ACast(
      "XBT", i, i / 10, "US", 10.5 + i % 90, -120.0 + i % 180,
      1990 + i % 30, 1 + i % 12, 1 + i % 28,
      "9q8yyk8ytpxr", "9q8", Array.fill(21)(7.toByte),
      (0 until 4).map(j => AAttr(j, j * 1.5)).toArray,
      (0 until 3).map(j => AVar(j, 0,
        (0 until 2).map(m => AMeta(m, m)).toArray)).toArray,
      (0 until nd).map(d => ADepth(d * 2.0, 0, 0,
        (0 until 3).map(p => APd(p, d + p * 0.1, 0, 0)).toArray)).toArray)

    val seqRdd = spark.sparkContext.parallelize(1 to n, 8).map(seqCast)
    val arrRdd = spark.sparkContext.parallelize(1 to n, 8).map(arrCast)
    (1 to 3).foreach { rep =>
      val t0 = System.nanoTime()
      spark.createDataset(seqRdd).write.format("noop")
        .mode("overwrite").save()
      val tSeq = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      spark.createDataset(arrRdd).write.format("noop")
        .mode("overwrite").save()
      val tArr = (System.nanoTime() - t1) / 1e9
      println(f"ENCODER rep$rep seq=$tSeq%.2fs array=$tArr%.2fs " +
        f"ratio=${tSeq / tArr}%.2f")
    }
    spark.stop()
  }
}
