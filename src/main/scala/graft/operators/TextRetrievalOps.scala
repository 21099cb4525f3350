package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over a STORED posting-list index — the
  * text-side counterpart of the dense-ANN serving stack (sim7): build
  * the inverted index once per corpus snapshot, serve ranked queries
  * forever. Completes the retrieval family: dense (IVF/LSH), geo
  * (range-covered cells), and now lexical (BM25 posting lists).
  *
  * Store layout (dd11/sim7's bucketed-table discipline):
  *   - `<table>`       — postings (term, doc_id, tf), bucketed+sorted
  *     by term: a query's candidate fetch is a bucket-aligned scan
  *     joined to the broadcast term set — ZERO index-side shuffle.
  *   - `<table>_docs`  — (doc_id, dl) document lengths, bucketed by
  *     doc_id: the score join shuffles only candidates, never the
  *     lengths table.
  *   - `<table>_meta`  — 1 row (n_docs, total_tokens); avgdl is
  *     derived at probe time as the same two-double division the
  *     oracle computes.
  *
  * Scoring is textbook BM25 (k1=1.2, b=0.75), with the engine's
  * float discipline: every per-term partial is computed in one pinned
  * IEEE expression order, rounded to 6 dp, and DECIMAL-routed through
  * the per-doc sum — partition count never shows in the ranking.
  */
object TextRetrievalOps {

  private def tokens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("term"))

  /** Materialize the inverted index (postings + doc lengths + meta).
    * With `mor = true` both row tables are built MERGE-ON-READ
    * ([[BucketedStores.morEnable]]): rows carry `_seq` = 0 and serve
    * through tombstone-subtracting views, so changelogs append via
    * [[applyChangelogToTextIndexMor]] instead of rewriting a
    * generation (the 1-row meta stays a plain overwritten table).
    */
  def writeTextIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 8,
      location: Option[String] = None, mor: Boolean = false): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_docs")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_meta")
    def stamped(df: DataFrame): DataFrame =
      if (mor) df.withColumn("_seq", lit(0L)) else df
    val tok = tokens(docs, idCol, textCol)
    val postings = stamped(tok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf")))
      .write.bucketBy(buckets, "term").sortBy("term").mode("overwrite")
    location.fold(postings)(l => postings.option("path", s"$l/postings"))
      .saveAsTable(table)
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dlw = stamped(dl).write.bucketBy(buckets, "doc_id")
      .sortBy("doc_id").mode("overwrite")
    location.fold(dlw)(l => dlw.option("path", s"$l/docs"))
      .saveAsTable(table + "_docs")
    val meta = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens")).write.mode("overwrite")
    location.fold(meta)(l => meta.option("path", s"$l/meta"))
      .saveAsTable(table + "_meta")
    if (mor) {
      BucketedStores.adoptVersioned(spark, table)
      BucketedStores.adoptVersioned(spark, table + "_docs")
      BucketedStores.morEnable(spark, table, Seq("doc_id"), "doc_id")
      BucketedStores.morEnable(spark, table + "_docs", Seq("doc_id"),
        "doc_id")
    }
  }

  /** Incrementally fold a delta corpus into the stored index: new
    * postings and lengths append bucket-aligned (no existing data is
    * rewritten — the property that makes a 100 TB index maintainable);
    * only the 1-row meta table is replaced (n_docs / total_tokens
    * grow by the delta's exact integer counts, so the probe's avgdl
    * is the same two-double division a full rebuild would compute).
    * Contract: delta doc ids are disjoint from the indexed corpus —
    * per-doc tf/dl computed delta-side equal the full-corpus values,
    * making append ≡ rebuild (tx38's oracle-checked claim).
    */
  def appendToTextIndex(spark: SparkSession, table: String,
      deltaDocs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 8): Unit = {
    val meta = spark.table(table + "_meta").head() // 1 row by contract
    val tok = tokens(deltaDocs, idCol, textCol)
    // WRITE ORDER IS THE CRASH CONTRACT (IvfStore.append's rule):
    // doc lengths land BEFORE postings — a dl row without postings is
    // harmless dead data, but postings whose doc has no length row
    // silently vanish at the scoring join; meta is replaced LAST so a
    // partial append leaves avgdl conservatively stale, never ahead
    // of rows that don't exist
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    dl.write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode("append").saveAsTable(table + "_docs")
    tok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .write.bucketBy(buckets, "term").sortBy("term")
      .mode("append").saveAsTable(table)
    val Array(dn, dt) = dl.agg(count(lit(1)), sum(col("dl"))).head()
      .toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long])).toArray
    spark.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row(meta.getLong(0) + dn,
          meta.getLong(1) + dt)),
      spark.table(table + "_meta").schema)
      .write.mode("overwrite").insertInto(table + "_meta")
  }

  /** Apply a CHANGELOG (deletes + upserts) to a stored text index
    * whose postings and lengths tables have been adopted into
    * VERSIONED serving ([[BucketedStores.adoptVersioned]] on both
    * `table` and `table_docs`). Deletes are what [[appendToTextIndex]]
    * cannot express: every posting and length row of a deleted or
    * upserted doc is dropped from the next generation, the upserts'
    * recomputed postings/lengths are added, each table flips in ONE
    * catalog op, and the 1-row meta is recomputed EXACTLY from the new
    * lengths table (n_docs / total_tokens — the same two integers a
    * full rebuild would write, so probe-time avgdl is rebuild-equal).
    * The two flips are each atomic but not mutually transactional
    * (Spark's catalog has no multi-table transaction); a reader
    * between them sees a momentarily larger candidate set that the
    * doc-length join immediately drops — never a wrong score.
    */
  def applyChangelogToTextIndex(spark: SparkSession, table: String,
      deleteIds: DataFrame, upserts: DataFrame, idCol: String,
      textCol: String, buckets: Int = 8): Unit = {
    val removed = deleteIds.select(col(idCol).as("doc_id"))
      .unionByName(upserts.select(col(idCol).as("doc_id")))
    val tok = tokens(upserts, idCol, textCol)
    BucketedStores.applyDeltaAtomic(spark, table,
      Seq("term"), Seq("term"), buckets, "doc_id", removed,
      Some(tok.groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))))
    BucketedStores.applyDeltaAtomic(spark, table + "_docs",
      Seq("doc_id"), Seq("doc_id"), buckets, "doc_id", removed,
      Some(tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))))
    val m = spark.table(table + "_docs")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
      .head()
    spark.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row(m.getLong(0), m.getLong(1))),
      spark.table(table + "_meta").schema)
      .write.mode("overwrite").insertInto(table + "_meta")
  }

  /** [[applyChangelogToTextIndex]], merge-on-read form (the index must
    * be built with `mor = true`): the changed doc ids tombstone BOTH
    * row tables at their batch's sequence, the upserts' recomputed
    * postings/lengths append `_seq`-stamped and bucket-aligned, and
    * only the 1-row meta is rewritten (recomputed from the docs VIEW —
    * a lengths-table-scale aggregate, never a postings rewrite).
    * Changelog-scale work per batch; compact on schedule with
    * [[BucketedStores.morCompact]] on both tables.
    */
  def applyChangelogToTextIndexMor(spark: SparkSession, table: String,
      deleteIds: DataFrame, upserts: DataFrame, idCol: String,
      textCol: String, buckets: Int = 8): Unit = {
    val removed = deleteIds.select(col(idCol).as("doc_id"))
      .unionByName(upserts.select(col(idCol).as("doc_id")))
    val tok = tokens(upserts, idCol, textCol)
    val seqP = BucketedStores.morNextSeq(spark, table)
    BucketedStores.morDelete(spark, table, removed, seqP)
    BucketedStores.morAppend(spark, table,
      tok.groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf")),
      seqP, Seq("term"), Seq("term"), buckets)
    val seqD = BucketedStores.morNextSeq(spark, table + "_docs")
    BucketedStores.morDelete(spark, table + "_docs", removed, seqD)
    BucketedStores.morAppend(spark, table + "_docs",
      tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")),
      seqD, Seq("doc_id"), Seq("doc_id"), buckets)
    val m = spark.table(table + "_docs")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
      .head()
    spark.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row(m.getLong(0), m.getLong(1))),
      spark.table(table + "_meta").schema)
      .write.mode("overwrite").insertInto(table + "_meta")
  }

  /** BM25 top-k against the stored index: candidates come off the
    * bucket-aligned postings scan joined to the BROADCAST query term
    * set (work scales with the query's posting mass, not the corpus);
    * document frequencies fold out of the candidates themselves (the
    * broadcast join keeps every posting of each query term, so the
    * per-term count IS the global df); the length join is
    * bucket-co-located. Top-k plans as TakeOrderedAndProject — no
    * global sort.
    */
  def bm25TopK(spark: SparkSession, table: String,
      queryTerms: Seq[String], topK: Int): DataFrame = {
    import spark.implicits._
    val meta = spark.table(table + "_meta").head() // 1 row by contract
    val nDocs = meta.getLong(0).toDouble
    val avgdl = meta.getLong(1).toDouble / meta.getLong(0).toDouble
    val qdf = queryTerms.toDF("term")
    val cand = spark.table(table).join(broadcast(qdf), Seq("term"))
    val dft = cand.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = spark.table(table + "_docs")
    val idf = log((lit(nDocs) - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val num = col("tf").cast("double") * lit(2.2)
    val den = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl)))
    cand.join(broadcast(dft), Seq("term"))
      .join(dl, Seq("doc_id"))
      .select(col("doc_id"), round(idf * num / den, 6).as("s"))
      .groupBy(col("doc_id"))
      .agg(graft.queries.Q.dsum(col("s")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }
}
