package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

import graft.store.GraftTable

/** Bucketed GraftTables + storage-partitioned joins (round 12): two
  * tables hash-bucketed on the same key must JOIN WITH ZERO EXCHANGES
  * (Spark SPJ over the catalog's bucket transform + the scan's
  * KeyGroupedPartitioning), every write path must preserve the layout,
  * and every degraded layout must fall back to the ordinary scan with
  * the same answers — a performance event, never a correctness one.
  */
class GraftBucketSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_bucket_wh").toString
    spark.conf.set("spark.sql.catalog.bkt", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bkt.warehouse", w)
    w
  }

  private def sql(q: String) = { warehouse; spark.sql(q) }

  private def plan(df: DataFrame): String = {
    df.collect() // AQE: final plan only exists after execution
    df.queryExecution.executedPlan.toString
  }

  /** Run `f` with broadcast joins off — a broadcast join has no
    * exchange either, which would make the SPJ assertions vacuous. */
  private def noBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private lazy val setupTables: Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS bkt.db")
    sql("CREATE TABLE bkt.db.facts (id BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, id))")
    sql("CREATE TABLE bkt.db.dims (id BIGINT, tag STRING) TBLPROPERTIES('bucketBy'='id:8')")
    (1L to 2000L).map(i => (i, i * 1.5)).toDF("id", "v")
      .write.insertInto("bkt.db.facts")
    (1L to 500L).map(i => (i * 3, s"t${i % 7}")).toDF("id", "tag")
      .write.insertInto("bkt.db.dims")
  }

  test("co-bucketed join plans with ZERO exchanges and matches the raw join") {
    setupTables
    noBroadcast {
      val joined = sql("""SELECT f.id, f.v, d.tag FROM bkt.db.facts f
        JOIN bkt.db.dims d ON f.id = d.id""")
      val p = plan(joined)
      // the join itself must not shuffle (a final ORDER BY/agg exchange
      // is not the join's): no hash-partitioned exchange anywhere
      assert(!p.contains("Exchange hashpartitioning"),
        s"SPJ join must not hash-shuffle:\n${p.take(3000)}")
      assert(p.contains("occupied buckets"), s"expected the bucketed scan layout:\n${p.take(1500)}")
      val got = joined.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
      val want = (1L to 500L).map(i => i * 3).filter(_ <= 2000)
        .map(id => (id, id * 1.5, s"t${(id / 3) % 7}")).sortBy(_._1)
      assert(got.toSeq == want, s"join result mismatch: ${got.take(5).toSeq} vs ${want.take(5)}")
    }
  }

  test("aggregation on the bucket key needs no exchange either") {
    setupTables
    noBroadcast {
      val agg = sql("SELECT id, SUM(v) AS s FROM bkt.db.facts GROUP BY id")
      val p = plan(agg)
      assert(!p.contains("Exchange"),
        s"bucket-key aggregation must not shuffle at all:\n${p.take(3000)}")
      assert(agg.count() == 2000)
    }
  }

  test("INSERT INTO preserves the bucket layout (DSv2 clustered write)") {
    setupTables
    sql("INSERT INTO bkt.db.dims VALUES (6001, 'late'), (6002, 'late')")
    noBroadcast {
      val joined = sql("""SELECT COUNT(*) AS n FROM bkt.db.facts f
        JOIN bkt.db.dims d ON f.id = d.id""")
      val p = plan(joined)
      assert(!p.contains("Exchange hashpartitioning"),
        s"post-INSERT join must stay exchange-free:\n${p.take(3000)}")
      assert(joined.head().getLong(0) == 500L) // dims ids 3..1500 all hit facts; 6001/6002 don't
    }
  }

  test("filter pushdown prunes buckets' files and survives SPJ") {
    setupTables
    noBroadcast {
      val q = sql("SELECT id, v FROM bkt.db.facts WHERE id = 42")
      assert(q.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) == Seq((42L, 63.0)))
      // static bucket pruning: a point lookup opens ONE bucket's files,
      // not all 8 (min/max stats can't prune — each bucket spans the
      // whole key range by construction)
      val p = plan(q)
      assert(p.contains("1 occupied buckets"),
        s"point lookup must prune to one bucket:\n${p.take(1500)}")
      // IN across several keys prunes to <= that many buckets
      val q2 = sql("SELECT COUNT(*) AS n FROM bkt.db.facts WHERE id IN (1, 2, 3)")
      assert(q2.head().getLong(0) == 3L)
      val p2 = plan(q2)
      val occupied = "(\\d+) occupied buckets".r.findFirstMatchIn(p2).map(_.group(1).toInt)
      assert(occupied.exists(_ <= 3), s"IN(3 keys) must prune to <= 3 buckets:\n${p2.take(1500)}")
    }
  }

  test("time travel reads the bucketed snapshot and stays policy-consistent") {
    setupTables
    // facts v1 = create, v2 = the 2000-row insert
    val n = sql("SELECT COUNT(*) AS n FROM bkt.db.facts VERSION AS OF 2").head().getLong(0)
    assert(n == 2000L)
    assert(sql("SELECT COUNT(*) AS n FROM bkt.db.facts VERSION AS OF 1").head().getLong(0) == 0L)
  }

  test("DELETE rewrites keep bucketing; compact degrades to fallback, same answers") {
    setupTables
    sql("DELETE FROM bkt.db.facts WHERE id = 1000")
    noBroadcast {
      val joined = sql("""SELECT COUNT(*) AS n FROM bkt.db.facts f
        JOIN bkt.db.dims d ON f.id = d.id""")
      val p1 = plan(joined)
      assert(!p1.contains("Exchange hashpartitioning"),
        s"post-DELETE join must stay exchange-free (copy-on-write re-buckets):\n${p1.take(3000)}")
      val before = joined.head().getLong(0)
      // PLAIN compact consolidates along the bucket layout: one file
      // per occupied bucket, SPJ survives maintenance
      val gt = GraftTable.load(spark, s"$warehouse/db/facts")
      gt.compact()
      val joined2 = sql("""SELECT COUNT(*) AS n FROM bkt.db.facts f
        JOIN bkt.db.dims d ON f.id = d.id""")
      val p2 = plan(joined2)
      assert(!p2.contains("Exchange hashpartitioning"),
        s"plain compact must preserve bucketing:\n${p2.take(3000)}")
      assert(joined2.head().getLong(0) == before)
      // post-compact each bucket is ONE sorted file, and the scan
      // reports the ordering: the facts side of the merge join needs
      // no Sort either (dims may be multi-file by now, so ONE Sort may
      // remain). Count in the FINAL AQE plan only — the tree string
      // repeats the join under "== Initial Plan ==".
      val finalSection = p2.split("== Initial Plan ==").head
      assert("Sort \\[".r.findAllIn(finalSection).size <= 1,
        s"compacted side must skip its merge-join sort:\n${finalSection.take(3000)}")
      // an EXPLICIT re-layout is the caller's deliberate layout
      // replacement: files straddle buckets -> scan falls back
      gt.compact(clusterBy = Seq("v"))
      val joined3 = sql("""SELECT COUNT(*) AS n FROM bkt.db.facts f
        JOIN bkt.db.dims d ON f.id = d.id""")
      val p3 = plan(joined3)
      assert(p3.contains("Exchange hashpartitioning"),
        "explicit re-layout must fall back to a shuffled join")
      assert(joined3.head().getLong(0) == before, "fallback must not change answers")
    }
  }

  test("dynamic INSERT OVERWRITE replaces only the touched buckets (r12 review)") {
    sql("CREATE NAMESPACE IF NOT EXISTS bkt.dyn")
    sql("CREATE TABLE bkt.dyn.t (id BIGINT, v STRING) PARTITIONED BY (bucket(4, id))")
    val orig = (1L to 100L).map(i => (i, s"v$i"))
    orig.toDF("id", "v").write.insertInto("bkt.dyn.t")
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      sql("INSERT OVERWRITE bkt.dyn.t VALUES (7, 'NEW7'), (8, 'NEW8')")
      // expected: rows of untouched buckets survive; the touched
      // buckets hold ONLY the new rows (bucket = partition identity)
      val bucketOf = (1L to 100L).toDF("id")
        .select(col("id"), expr("pmod(hash(id), 4)").as("b")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val touched = Set(bucketOf(7L), bucketOf(8L))
      // the store's one bucket-id function is Spark's pmod(hash(k), n)
      // on both key types, including the edge values and NULL
      val longKeys = Seq(Some(0L), Some(7L), Some(-1L), Some(-42L),
        Some(Long.MinValue), Some(Long.MaxValue), None)
      val intKeys = Seq(Some(0), Some(7), Some(-1), Some(-42),
        Some(Int.MinValue), Some(Int.MaxValue), None)
      for (n <- Seq(4, 7)) {
        val sparkLong = longKeys.toDF("k").select(expr(s"pmod(hash(k), $n)")).collect().map(_.getInt(0))
        val sparkInt = intKeys.toDF("k").select(expr(s"pmod(hash(k), $n)")).collect().map(_.getInt(0))
        assert(sparkLong.toSeq == longKeys.map(k => GraftTable.bucketOf(k.getOrElse(null), n)), s"BIGINT, n=$n")
        assert(sparkInt.toSeq == intKeys.map(k => GraftTable.bucketOf(k.getOrElse(null), n)), s"INT, n=$n")
      }
      val survivors = orig.filter { case (i, _) => !touched(bucketOf(i)) }
      val got = sql("SELECT id, v FROM bkt.dyn.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val want = (survivors ++ Seq((7L, "NEW7"), (8L, "NEW8"))).sortBy(_._1)
      assert(got.length == want.length,
        s"whole-table replace detected: got ${got.length} rows, want ${want.length}")
      assert(got.toSeq == want, s"mismatch: ${got.take(5).toSeq} vs ${want.take(5)}")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
  }

  test("ANN codes table bucketed by cell: probe queries prune statically (r12 #6)") {
    // the IVF serving layout: PQ codes stored WITH their cell id,
    // bucketed by cent_id — the inverted-list file layout. A probe
    // (cent_id IN (...); the probed cells are computed driver-side
    // against metadata-sized centroids) must (a) prune the scan to the
    // probed cells' buckets, (b) join the broadcast ADC LUT with no
    // codes-side shuffle, (c) match the unbucketed plan's answers.
    sql("CREATE NAMESPACE IF NOT EXISTS bkt.ann")
    sql("""CREATE TABLE bkt.ann.codes (cent_id BIGINT, id BIGINT, j INT, c INT)
      PARTITIONED BY (bucket(8, cent_id))""")
    sql("CREATE TABLE bkt.ann.codes_flat (cent_id BIGINT, id BIGINT, j INT, c INT)")
    val rows = for (id <- 0L until 500L; j <- 0 until 4)
      yield (id % 10, id, j, ((id * 7 + j * 13) % 32).toInt)
    rows.toDF("cent_id", "id", "j", "c").write.insertInto("bkt.ann.codes")
    rows.toDF("cent_id", "id", "j", "c").write.insertInto("bkt.ann.codes_flat")
    // one query's ADC lookup table (j, c) -> dd, tiny -> broadcasts
    (for (j <- 0 until 4; c <- 0 until 32) yield (j, c, (j * 32 + c) * 0.25))
      .toDF("j", "c", "dd").createOrReplaceTempView("ann_lut")
    def probe(tbl: String) = sql(
      s"""SELECT k.id AS id_c, ROUND(SUM(l.dd), 6) AS adc
          FROM bkt.ann.$tbl k JOIN ann_lut l ON l.j = k.j AND l.c = k.c
          WHERE k.cent_id IN (2, 5)
          GROUP BY k.id ORDER BY adc, id_c LIMIT 3""")
    val got = probe("codes").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = probe("codes_flat").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want && got.length == 3, s"$got vs $want")
    val p = plan(probe("codes"))
    val occupied = "(\\d+) occupied buckets".r.findFirstMatchIn(p).map(_.group(1).toInt)
    assert(occupied.exists(_ <= 2),
      s"2-cell probe must prune to <= 2 buckets:\n${p.take(2000)}")
    // codes side never hash-shuffles: LUT broadcasts, and the only
    // exchange is the output-bounded id_c aggregation (count the FINAL
    // AQE plan only — the tree repeats under "== Initial Plan ==")
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastHashJoin"),
      s"LUT must broadcast:\n${finalSection.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).size <= 1,
      s"probe must not shuffle the codes:\n${finalSection.take(3000)}")
  }

  test("bucket spec contract failures are loud") {
    sql("CREATE NAMESPACE IF NOT EXISTS bkt.err")
    val e1 = intercept[Exception](sql(
      "CREATE TABLE bkt.err.t1 (id BIGINT, s STRING) PARTITIONED BY (bucket(8, s))"))
    assert(e1.getMessage.contains("INT or BIGINT"), e1.getMessage)
    val e2 = intercept[Exception](sql(
      "CREATE TABLE bkt.err.t2 (id BIGINT) TBLPROPERTIES('bucketBy'='id:1')"))
    assert(e2.getMessage.contains("bucket count"), e2.getMessage)
    val e3 = intercept[Exception](sql(
      "CREATE TABLE bkt.err.t3 (id BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, id), v)"))
    assert(e3.getMessage != null) // identity+bucket both present: cluster+bucket exclusive
    // dropping the bucket column is refused
    sql("CREATE TABLE bkt.err.t4 (id BIGINT, v DOUBLE) PARTITIONED BY (bucket(4, id))")
    val e4 = intercept[Exception](sql("ALTER TABLE bkt.err.t4 DROP COLUMN id"))
    assert(e4.getMessage.contains("bucket column"), e4.getMessage)
  }

  test("rename follows the bucket column (field-id tracking)") {
    sql("CREATE NAMESPACE IF NOT EXISTS bkt.rn")
    sql("CREATE TABLE bkt.rn.t (id BIGINT, v DOUBLE) PARTITIONED BY (bucket(4, id))")
    sql("INSERT INTO bkt.rn.t VALUES (1, 1.0), (2, 2.0)")
    sql("ALTER TABLE bkt.rn.t RENAME COLUMN id TO key")
    val props = sql("SHOW TBLPROPERTIES bkt.rn.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("bucketBy").contains("key:4"), props)
    sql("INSERT INTO bkt.rn.t VALUES (3, 3.0)")
    assert(sql("SELECT COUNT(*) AS n FROM bkt.rn.t").head().getLong(0) == 3L)
  }
}
