package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.TextIndex
import graft.store.GraftTable

/** Persisted BM25 inverted index (round 14): build (bucketed postings
  * + stats increments), served scores pinned EQUAL to the
  * oracle-checked t31 entry, bucket-pruned reads, incremental append
  * with exactly-once replays, streaming maintainer parity.
  */
class TextIndexSpec extends SparkSpec {

  private val query = Seq("vector", "hash", "join")

  private def asTuples(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "bm25", "n_terms", "rk").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSeq
      .sortBy(_._1)

  test("served BM25 == the oracle-checked t31 scorer on the same corpus") {
    val root = Files.createTempDirectory("graft_tidx").toString
    val idx = TextIndex.build(spark, Tables(spark, sf("sf0.01"), "documents"), root)
    // correctness transfer: t31 is DuckDB-gated; the index must
    // reproduce its rounded scores, doc set, and ranking exactly
    val direct = asTuples(SparkEntry.queries("t31_bm25_topk")(spark, sf("sf0.01")))
    val served = asTuples(idx.bm25TopK(query, k = 10))
    assert(served == direct, s"served $served\nvs direct $direct")
  }

  test("query reads are bucket-pruned to the terms' buckets; collisions guarded") {
    val sqlc = spark
    import sqlc.implicits._
    val root = Files.createTempDirectory("graft_tidx_b").toString
    TextIndex.build(spark, Tables(spark, sf("sf0.01"), "documents"), root,
      buckets = 16)
    val post = GraftTable.load(spark, s"$root/postings")
    val all = GraftScans.inputFiles(post.read()).length
    val hs = query.toDF("term").select(xxhash64(col("term"))).collect()
      .map(_.getLong(0)).toIndexedSeq
    val pruned = GraftScans.inputFiles(post.read(filters = Seq(col("term_h").isin(hs: _*))))
      .length
    assert(all > 3 && pruned < all, s"expected bucket pruning, got $pruned/$all files")
    // the term-string equality guard keeps a colliding hash from
    // contributing rows: filtering the pruned read to the real terms
    // yields exactly the query terms
    val terms = post.read(filters = Seq(col("term_h").isin(hs: _*)))
      .filter(col("term").isin(query: _*))
      .select("term").distinct().collect().map(_.getString(0)).toSet
    assert(terms == query.toSet, terms)
  }

  test("append: new docs retrievable; stats increment; labeled replays exactly-once") {
    val sqlc = spark
    import sqlc.implicits._
    val root = Files.createTempDirectory("graft_tidx_a").toString
    val idx = TextIndex.build(spark, Tables(spark, sf("sf0.01"), "documents"), root)
    // a doc saturated with the query terms must enter the top-k after
    // append (high tf on every term, short dl -> top score)
    val newDoc = Seq((900001L, "vector hash join vector hash join vector hash join"))
      .toDF("doc_id", "text")
    assert(idx.append(newDoc) == 1L)
    val top = idx.bm25TopK(query, k = 10).collect().map(_.getLong(0)).toSet
    assert(top.contains(900001L), s"appended doc missing from top-k: $top")
    // stats incremented: N grew by one (sum over increment rows)
    val n = GraftTable.load(spark, s"$root/stats").read()
      .agg(sum("n_docs")).head().getLong(0)
    assert(n == 501L, s"expected 501 docs after append, got $n")
    // labeled replay: both tables dedup independently, count reports 0
    val more = Seq((900002L, "hash join")).toDF("doc_id", "text")
    assert(idx.append(more, op = Some("t:1"), opFamily = Some("t:")) == 1L)
    val (pv, sv) = (GraftTable.load(spark, s"$root/postings").currentVersion,
      GraftTable.load(spark, s"$root/stats").currentVersion)
    assert(idx.append(more, op = Some("t:1"), opFamily = Some("t:")) == 0L)
    assert(GraftTable.load(spark, s"$root/postings").currentVersion == pv)
    assert(GraftTable.load(spark, s"$root/stats").currentVersion == sv)
    // maintain(): bucket-preserving; answers and pruning survive
    val before = GraftScans.inputFiles(GraftTable.load(spark, s"$root/postings").read()).length
    idx.maintain()
    val post = GraftTable.load(spark, s"$root/postings")
    assert(GraftScans.inputFiles(post.read()).length < before, "maintain did not consolidate")
    assert(idx.bm25TopK(query, k = 10).collect().map(_.getLong(0)).toSet
      .contains(900001L), "post-maintain retrieval broke")
  }

  test("streaming maintainer: arrivals retrievable within a trigger, exactly-once") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_tidx_s").toString + "/index"
    val landing = Files.createTempDirectory("graft_tidx_l").toString
    val ckpt = Files.createTempDirectory("graft_tidx_c").toString
    val sqlc = spark
    import sqlc.implicits._
    TextIndex.build(spark, Tables(spark, sf("sf0.01"), "documents"), root)
    Seq((910001L, "vector hash join vector hash join vector hash join"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    Seq((910002L, "the small table"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = graft.streaming.EventStream.indexDocsStream(stream, root, ckpt,
      maintainEvery = 2)
    assert(q.awaitTermination(240000), "stream did not drain")
    val idx = TextIndex.load(spark, root)
    assert(idx.bm25TopK(query, k = 10).collect().map(_.getLong(0)).toSet
      .contains(910001L), "streamed doc not retrievable")
    assert(GraftTable.load(spark, s"$root/stats").read()
      .agg(sum("n_docs")).head().getLong(0) == 502L)
    // restart on the same checkpoint: no re-commits
    val (pv, sv) = (GraftTable.load(spark, s"$root/postings").currentVersion,
      GraftTable.load(spark, s"$root/stats").currentVersion)
    val q2 = graft.streaming.EventStream.indexDocsStream(stream, root, ckpt,
      maintainEvery = 2)
    assert(q2.awaitTermination(240000), "restart did not drain")
    assert(GraftTable.load(spark, s"$root/postings").currentVersion == pv)
    assert(GraftTable.load(spark, s"$root/stats").currentVersion == sv)
  }
}
