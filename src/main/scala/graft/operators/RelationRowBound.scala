package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Driver-side, JOB-FREE row-count bounds for serving-regime gates.
  *
  * Every ANN serving surface starts by deciding a batch REGIME: a
  * bounded query batch gets probed-list pruning and the candidate
  * gather, a corpus-as-queries batch gets the fully lazy pipeline
  * (results identical either way — the regime only picks which
  * optimizations apply). That decision used to cost one bounded
  * `LIMIT cap+1` count JOB per probe / per GRAFT_ANN statement —
  * ~0.2 s of fixed driver scheduling that DOMINATES the decision it
  * feeds (r20 verdict: sim12's +0.18 s gap to its API twin was
  * exactly this job).
  *
  * This helper answers "does the relation have more than `cap` rows?"
  * from METADATA instead: walk the analyzed plan through provably
  * row-count-preserving operators (projections, aliases,
  * repartitions, sorts — none can change the row count) down to leaf
  * relations, and sum parquet FOOTER row counts, short-circuiting as
  * soon as the sum exceeds the cap. A parquet footer's row count is
  * exact by format contract, the file listing comes from the
  * relation's own (already materialized) FileIndex, and the walk
  * refuses anything it cannot prove (filters, joins, generates,
  * aggregates, non-parquet leaves → None, caller falls back to the
  * counting job). Over-cap proofs are therefore EXACT, never
  * heuristic: the pruning/gather semantics stay decided by real row
  * counts, just read from footers instead of a Spark job.
  *
  * Cost model: one footer read (~ms, tail of one file) usually
  * decides an over-cap corpus; a bounded batch reads its handful of
  * footers once, and no relation costs more than
  * [[RelationRowBound.MaxFooters]] sequential reads. No caching —
  * footers are re-read per call, so the decision is always as current
  * as the job it replaces.
  */
object RelationRowBound {

  /** Exact row count when ≤ cap; when the relation is larger, any
    * value > cap (the walk short-circuits, so the overshoot is not
    * the exact total). None = not provable without a job.
    */
  def boundedCount(df: DataFrame, cap: Long): Option[Long] =
    scala.util.Try(
      walk(df.sparkSession, df.queryExecution.analyzed, cap))
      .toOption.flatten

  /** Some(true) iff PROVABLY more than `cap` rows, Some(false) iff
    * provably at most `cap`, None when underivable.
    */
  def exceeds(df: DataFrame, cap: Long): Option[Boolean] =
    boundedCount(df, cap).map(_ > cap)

  private def walk(spark: SparkSession, plan: LogicalPlan,
      cap: Long): Option[Long] = plan match {
    // 1:1 row-preserving wrappers
    case Project(_, c) => walk(spark, c, cap)
    case SubqueryAlias(_, c) => walk(spark, c, cap)
    case v: View => walk(spark, v.child, cap)
    case r: RepartitionOperation => walk(spark, r.child, cap)
    case s: Sort => walk(spark, s.child, cap)
    case h: ResolvedHint => walk(spark, h.child, cap)
    // bounded leaves
    case l: LocalRelation => Some(l.data.length.toLong)
    case _: OneRowRelation => Some(1L)
    // df.limit(n) yields EXACTLY min(n, count(child))
    case GlobalLimit(Literal(n: Int, _),
        LocalLimit(Literal(m: Int, _), c)) =>
      walk(spark, c, cap).map(math.min(math.min(n, m).toLong, _))
    // UNION ALL adds children; stop as soon as the sum proves over-cap
    case u: Union =>
      var total = 0L
      var known = true
      val it = u.children.iterator
      while (it.hasNext && known && total <= cap) {
        walk(spark, it.next(), cap) match {
          case Some(n) => total += n
          case None => known = false
        }
      }
      if (known || total > cap) Some(total) else None
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        parquetRows(spark, fs, cap)
      case _ => None
    }
    case _ => None
  }

  /** Footers read per relation at most: a bounded batch is a handful
    * of files, and an over-cap corpus proves itself within the first
    * few. A walk that stops with files left and the sum still ≤ cap
    * proves nothing (None — callers fall back to their bounded job).
    */
  private[operators] val MaxFooters = 16

  /** Sum of footer row counts across the relation's files,
    * short-circuited past `cap` and stopped after [[MaxFooters]]
    * files. The FileIndex listing is the same one the scan itself
    * would use (already built at analysis).
    */
  private def parquetRows(spark: SparkSession, fs: HadoopFsRelation,
      cap: Long): Option[Long] = scala.util.Try {
    val conf = spark.sessionState.newHadoopConf()
    val files = fs.location.inputFiles
    var total = 0L
    var read = 0
    while (read < files.length && read < MaxFooters && total <= cap) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(files(read)), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try total += r.getRecordCount
      finally r.close()
      read += 1
    }
    if (read < files.length && total <= cap) None else Some(total)
  }.toOption.flatten
}
