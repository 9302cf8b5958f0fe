package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.GraftTable

/** Persisted BM25 retrieval index over a documents table — the
  * build-once/query-many counterpart of the per-query t31 scorer, and
  * the TEXT twin of [[VectorIndex]]'s serving layout (round 14): the
  * classical inverted index expressed relationally.
  *
  * Design for 100 TB:
  *  - BUILD: one tokenize+aggregate pass produces POSTINGS rows
  *    (term, doc_id, tf, dl) — corpus-token-sized but narrow — stored
  *    as a GraftTable `bucket(n, term_h)` where `term_h = xxhash64
  *    (term)` (the store's bucket functions take integral keys). The
  *    bucket layout IS the inverted list: a query's terms hash to a
  *    handful of buckets, so the postings scan statically prunes to
  *    ~|query| / n of the table — the same device the ANN codes table
  *    uses for probed cells (SCALE.md (x)).
  *  - CORPUS STATS (N docs, total length) land as one INCREMENT row
  *    per build/append in a tiny stats GraftTable; queries SUM it —
  *    metadata-sized forever, no read-modify-write races.
  *  - QUERY: read the query terms' buckets, hash-collision-guard on
  *    the term string, df per term = the matched postings count
  *    (postings are unique per (doc, term)), score with the exact t31
  *    BM25 spelling (decimal per-term sums, rank by the ROUNDED score
  *    + doc_id) — query cost is matched-postings-sized, never
  *    corpus-sized.
  *  - APPEND: new docs tokenize through the same pipeline and land via
  *    the bucket-clustered writer, so pruning survives ingestion; the
  *    stats increment row rides in the same labeled-commit protocol as
  *    [[VectorIndex.append]] (exactly-once per table under streaming
  *    replays). Re-ingesting a doc_id double-counts df/N — duplicate
  *    ids are the caller's contract, exactly as VectorIndex's.
  *
  * Correctness transfer: the served score is pinned EQUAL to the
  * oracle-checked t31 entry on the same corpus/query (TextIndexSpec),
  * so the DuckDB gate covers the math and the spec covers the layout.
  */
object TextIndex {

  private[operators] def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("ws"))

  private[operators] def postingsOf(docs: DataFrame): DataFrame =
    tokenize(docs)
      .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(xxhash64(col("term")).as("term_h"), col("term"),
        col("doc_id"), col("tf"), col("dl"))

  private[operators] def statsOf(docs: DataFrame): DataFrame =
    tokenize(docs).select(size(col("ws")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))

  /** THE BM25 scorer (k1 = 1.2, b = 0.75) — shared by the
    * oracle-checked t31 entry and [[TextIndex.bm25TopK]] so the two
    * spellings can never drift (r14 review; TextIndexSpec pins their
    * equality, this makes it structural). `tf` carries (term, doc_id,
    * tf, dl); `df` (term, df); `corpus` one row (n_docs, sum_dl).
    * Per-term scores sum as DECIMAL(38,18) (order-free), the top-k cut
    * ranks by the ROUNDED score with doc_id ties — deterministic on
    * both engines. */
  private[operators] def bm25Ranked(tf: DataFrame, df: DataFrame,
                                    corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("s",
        (org.apache.spark.sql.functions.log(
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + (lit(0.25) +
            col("dl") * 0.75 / (col("sum_dl").cast("double") / col("n_docs"))) * 1.2))
          .cast("decimal(38,18)"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")).cast("double"), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).cast("int"))
      .filter(col("rk") <= k)
  }

  /** Build the index: bucketed postings + the first stats increment. */
  def build(spark: SparkSession, docs: DataFrame, root: String,
            buckets: Int = 32): TextIndex = {
    GraftTable.create(spark, s"$root/postings", postingsOf(docs),
      bucketBy = Some(("term_h", buckets)))
    GraftTable.create(spark, s"$root/stats", statsOf(docs))
    new TextIndex(spark, root)
  }

  def load(spark: SparkSession, root: String): TextIndex =
    new TextIndex(spark, root)
}

/** A handle over the on-disk index at `root` — same snapshot contract
  * as [[VectorIndex]]: table DATA reads live (appends visible);
  * in-place REBUILDS invalidate live handles (load a fresh one). */
final class TextIndex private[operators] (spark: SparkSession, root: String) {

  private lazy val postings = GraftTable.load(spark, s"$root/postings")
  private lazy val stats = GraftTable.load(spark, s"$root/stats")

  /** BM25 top-k over the indexed corpus (k1 = 1.2, b = 0.75 — t31's
    * constants and its exact float discipline: per-term scores sum as
    * DECIMAL(38,18), the cut ranks by the ROUNDED score with doc_id
    * ties). The postings read statically prunes to the query terms'
    * buckets. */
  def bm25TopK(terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: query needs at least one term")
    import spark.implicits._
    // term hashes computed through the SAME xxhash64 the build used —
    // a query-sized frame, collected (metadata-sized, the centroid
    // pattern) to drive the static bucket pruning
    val hs = terms.toDF("term").select(xxhash64(col("term"))).collect()
      .map(_.getLong(0)).toIndexedSeq
    val c = stats.read()
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val tf = postings.read(filters = Seq(col("term_h").isin(hs: _*)))
      .filter(col("term").isin(terms: _*)) // 64-bit collision guard
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    TextIndex.bm25Ranked(tf, df, c, k)
  }

  /** Ingest new documents: postings through the bucket-clustered
    * writer (pruning survives), one stats increment row. `op` labels
    * the commits for exactly-once streaming replays — each table
    * dedups independently, the [[VectorIndex.append]] protocol.
    * Returns the number of documents appended (0 on a full replay). */
  def append(newDocs: DataFrame, op: Option[String] = None,
             opFamily: Option[String] = None): Long = {
    val label = GraftTable.BatchLabel.of(op, opFamily)
    if (label.exists(l => postings.hasCommitted(l) && stats.hasCommitted(l)))
      return 0L // full replay: no job
    val post = TextIndex.postingsOf(newDocs).localCheckpoint()
    val n = post.select(col("doc_id")).distinct().count()
    val inc = TextIndex.statsOf(newDocs)
    val applied = postings.appendLabeled(post, label) | stats.appendLabeled(inc, label)
    if (applied) n else 0L
  }

  /** Maintenance after a stretch of appends: bucket-preserving
    * compaction of the postings (pruning intact), plain compact of the
    * tiny stats table. Idempotent, cadence-driven like
    * [[VectorIndex.maintain]]. */
  def maintain(): Unit = {
    postings.compact()
    stats.compact()
  }
}
