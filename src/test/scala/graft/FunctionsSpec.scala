package graft

import org.apache.spark.sql.Row

/** Trino-dialect function aliases (GraftFunctions): each must be
  * callable from SQL text and agree with Trino 468 semantics.
  */
class FunctionsSpec extends SparkSpec {

  private def one(sqlText: String): Row =
    graft.sql.GraftSql.sql(spark, sqlText).collect().head

  test("register leaves a session built with the extension as it is, and fills one built without") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}
    import graft.functions.GraftFunctions
    val names = GraftFunctions.injections.map(_._1)
    val tableNames = GraftFunctions.tableInjections.map(_._1)
    // the shared session is built with GraftExtensions: it already holds
    // every graft function, so register replaces none of them
    val fr = spark.sessionState.functionRegistry
    val tfr = spark.sessionState.tableFunctionRegistry
    def infos = names.map(n => fr.lookupFunction(FunctionIdentifier(n)).get) ++
      tableNames.map(n => tfr.lookupFunction(FunctionIdentifier(n)).get)
    val before = infos
    assert(before.forall(_.getClassName == GraftFunctions.GraftInfoClass))
    GraftFunctions.register(spark)
    assert(infos.zip(before).forall { case (a, b) => a eq b },
      "register replaced functions the extension had injected")
    // registries holding Spark's built-ins only (a session built without
    // the extension) get every graft function, built-in names included
    val bare = FunctionRegistry.builtin.clone()
    val bareTables = TableFunctionRegistry.builtin.clone()
    assert(!names.forall(n => bare.functionExists(FunctionIdentifier(n))))
    GraftFunctions.registerInto(bare, bareTables)
    def graftOwned(r: org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase[_], n: String) =
      r.lookupFunction(FunctionIdentifier(n)).exists(_.getClassName == GraftFunctions.GraftInfoClass)
    assert(names.forall(graftOwned(bare, _)), names.filterNot(graftOwned(bare, _)))
    assert(tableNames.forall(graftOwned(bareTables, _)), tableNames.filterNot(graftOwned(bareTables, _)))
  }

  test("strpos is 1-based, 0 when absent") {
    assert(one("SELECT strpos('hello', 'l') a, strpos('hello', 'z') b") == Row(3, 0))
  }

  test("date_diff(unit, from, to) uses Trino arg order") {
    assert(one(
      "SELECT date_diff('day', TIMESTAMP'2024-01-01 00:00:00', TIMESTAMP'2024-01-31 00:00:00') d")
      == Row(30L))
    assert(one(
      "SELECT date_diff('hour', TIMESTAMP'2024-01-01 00:00:00', TIMESTAMP'2024-01-01 06:30:00') h")
      == Row(6L))
  }

  test("try() nulls runtime errors") {
    // assert_true THROWS in non-ANSI mode too, so this fails unless
    // TryEval really wraps it (1/0 alone is already NULL in non-ANSI
    // Spark and would pass with a broken try())
    assert(one("SELECT try(assert_true(1 < 0)) v") == Row(null))
    assert(one("SELECT try(1/0) v") == Row(null))
    assert(one("SELECT try(2/1) v") == Row(2.0))
  }

  test("approx_distinct ~ HLL++") {
    Tables.registerAll(spark, sf())
    val n = spark.sql("SELECT approx_distinct(o_custkey) FROM orders")
      .collect().head.getLong(0)
    val exact = spark.sql("SELECT COUNT(DISTINCT o_custkey) FROM orders")
      .collect().head.getLong(0)
    assert(math.abs(n - exact).toDouble / exact < 0.1)
  }

  test("f11 sketch error envelopes: approx vs exact within documented bounds") {
    // the f11 entry is rows-only in the driver's oracle (sketches differ
    // across engines by design) — this is its quantitative evidence:
    // per-group relative error against the EXACT aggregates.
    Tables.registerAll(spark, sf())
    val approx = SparkEntry.queries("f11_approx_aggs")(spark, sf())
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = spark.sql(
      """SELECT l_returnflag,
                COUNT(DISTINCT l_partkey) AS nd,
                percentile(l_extendedprice, 0.5) AS med
         FROM lineitem GROUP BY l_returnflag""")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (nd, med)) =>
      val (aNd, aMed) = approx(k)
      // approx_count_distinct: HLL++ with default rsd 0.05 — assert 3 sigma
      assert(math.abs(aNd - nd).toDouble / nd < 0.15, s"$k: hll $aNd vs exact $nd")
      // percentile_approx(accuracy=1000): rank error <= n/1000; on this
      // distribution that is well inside 5% of the median's value
      assert(math.abs(aMed - med) / med < 0.05, s"$k: p50 $aMed vs exact $med")
    }
  }

  test("f19 HLL sketch columns: lgK=21 coupon regime is EXACT; default lgK envelopes") {
    Tables.registerAll(spark, sf())
    val row = SparkEntry.queries("f19_hll_sketch_columns")(spark, sf()).head()
    val merged = row.getLong(0)
    val exact = spark.sql("SELECT COUNT(DISTINCT o_custkey) FROM orders").head().getLong(0)
    // SCALE.md (y): lgK=21 holds the exact coupon SET mode
    // through >= 16k distinct — at entry cardinalities the union of
    // per-group sketches IS the exact distinct count (the device that
    // gives f19 its full DuckDB oracle)
    assert(merged == exact, s"lgK=21 coupon regime must be exact: merged=$merged exact=$exact")
    // the SATURATED regime stays an envelope: default lgK=12 has
    // promoted to estimating HLL mode at these cardinalities
    val est = spark.sql(
      "SELECT CAST(hll_sketch_estimate(hll_sketch_agg(o_custkey)) AS BIGINT) FROM orders")
      .head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"default-lgK $est vs exact $exact")
    // mergeability: union of the per-group sketches must agree with a
    // single sketch built over the whole column (same config)
    val direct = spark.sql(
      "SELECT CAST(hll_sketch_estimate(hll_sketch_agg(o_custkey, 21))AS BIGINT) FROM orders")
      .head().getLong(0)
    assert(merged == direct, s"union-of-parts $merged != sketch-of-whole $direct")
  }

  test("day_of_week is ISO (Mon=1..Sun=7)") {
    // 2024-01-01 was a Monday
    assert(one("SELECT day_of_week(DATE'2024-01-01') d") == Row(1))
    assert(one("SELECT day_of_week(DATE'2024-01-07') d") == Row(7))
  }

  test("cardinality / json_extract_scalar / format_datetime / to_unixtime") {
    assert(one("SELECT cardinality(array(1,2,3)) c") == Row(3))
    assert(one("SELECT json_extract_scalar('{\"a\": 5}', '$.a') v") == Row("5"))
    assert(one("SELECT format_datetime(TIMESTAMP'2024-03-05 07:00:00', 'yyyy-MM-dd') v")
      == Row("2024-03-05"))
    assert(one("SELECT to_unixtime(TIMESTAMP'1970-01-01 00:01:00') v") == Row(60.0))
    // Trino to_unixtime keeps sub-second precision
    assert(one("SELECT to_unixtime(TIMESTAMP'1970-01-01 00:00:00.25') v") == Row(0.25))
  }

  test("url_extract_* / to_hex / from_hex / chr / levenshtein_distance") {
    val u = "'https://walden.example:8443/a/b?k=v&x=1#frag'"
    assert(one(s"SELECT url_extract_host($u) v") == Row("walden.example"))
    assert(one(s"SELECT url_extract_path($u) v") == Row("/a/b"))
    assert(one(s"SELECT url_extract_protocol($u) v") == Row("https"))
    assert(one(s"SELECT url_extract_query($u) v") == Row("k=v&x=1"))
    assert(one(s"SELECT url_extract_fragment($u) v") == Row("frag"))
    assert(one(s"SELECT url_extract_parameter($u, 'k') v") == Row("v"))
    assert(one("SELECT to_hex(CAST('AB' AS BINARY)) v") == Row("4142"))
    assert(one("SELECT CAST(from_hex('4142') AS STRING) v") == Row("AB"))
    assert(one("SELECT chr(65) v") == Row("A"))
    assert(one("SELECT levenshtein_distance('kitten', 'sitting') v") == Row(3))
  }

  test("Spark 4 variant + family representatives (format/slice/zip/tz)") {
    // SURVEY §2.4 JSON row names VariantType + parse_json (Spark 4)
    assert(one("""SELECT variant_get(parse_json('{"a":{"b":7}}'), '$.a.b', 'int') v""") == Row(7))
    assert(one("""SELECT CAST(parse_json('[1,2,3]') AS STRING) v""") == Row("[1,2,3]"))
    assert(one("SELECT format_string('%s-%03d', 'x', 7) v") == Row("x-007"))
    assert(one("SELECT slice(array(1,2,3,4,5), 2, 3) v") == Row(Seq(2, 3, 4)))
    assert(one("SELECT arrays_zip(array(1,2), array('a','b'))[0].`1` v") == Row("a"))
    // at_timezone parity: UTC noon is 07:00 in New York (EST offset -5)
    assert(one("SELECT CAST(from_utc_timestamp(timestamp'2024-01-15 12:00:00', 'America/New_York') AS STRING) v")
      == Row("2024-01-15 07:00:00"))
  }

  test("uuid() yields distinct RFC-4122 v4 values") {
    // nondeterministic by design -> shape/uniqueness spec, no oracle
    val us = spark.sql("SELECT uuid() AS u FROM range(5)")
      .collect().map(_.getString(0))
    assert(us.distinct.length == 5, us.toSeq)
    val v4 = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    us.foreach(u => assert(v4.findFirstIn(u).isDefined, u))
  }

  test("crc32 matches java.util.zip.CRC32; xxhash64/murmur are plan-stable") {
    // crc32 is a public standard — java.util.zip.CRC32 is a genuinely
    // INDEPENDENT implementation, so this is a real oracle even though
    // DuckDB lacks the function (why the old f12 entry was retired).
    val names = Tables(spark, sf(), "nation").select("n_name").collect().map(_.getString(0))
    assert(names.length == 25)
    val sparkCrc = Tables(spark, sf(), "nation")
      .selectExpr("n_name", "crc32(CAST(n_name AS BINARY)) AS c")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    names.foreach { n =>
      val ref = new java.util.zip.CRC32
      ref.update(n.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(sparkCrc(n) == ref.getValue, s"crc32($n)")
    }
    // xxhash64 / murmur values are engine-pinned (seed 42): assert they
    // are deterministic across plans/partitionings — the property joins
    // and bucketing rely on — and collision-free over this input
    def hashes(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Int)] =
      df.selectExpr("n_name", "xxhash64(n_name) AS x", "hash(n_name) AS m")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    val a = hashes(Tables(spark, sf(), "nation"))
    val b = hashes(Tables(spark, sf(), "nation").repartition(7).sortWithinPartitions("n_name"))
    assert(a == b, "hash values must not depend on the physical plan")
    assert(a.values.map(_._1).toSet.size == 25, "xxhash64 collision on 25 inputs")
  }

  test("vector_dot raises on dimension mismatch instead of truncating") {
    // a truncated dot product would silently skew similarity rankings
    val e = intercept[Exception] {
      spark.sql("SELECT vector_dot(array(1.0F, 2.0F), array(1.0F)) v").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("dimension mismatch")), messages(e))
  }

  test("vector_l2sq / int_vec_dot are bit-identical to the HOF folds (r15 kernels)") {
    // the kernels replace interpreted aggregate(zip_with(...)) folds on
    // the PQ encode/LUT and quantized-cosine hot paths; same
    // left-to-right accumulation order, so equality is EXACT (===),
    // not approximate — pinned on the real embeddings
    Tables(spark, sf(), "embeddings").createOrReplaceTempView("embeddings")
    val rows = spark.sql(
      """SELECT
           vector_l2sq(a, b) AS k_l2,
           aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D,
                     (acc, x) -> acc + x) AS h_l2,
           int_vec_dot(qa, qb) AS k_dot,
           aggregate(zip_with(qa, qb, (x, y) -> x * y), 0,
                     (acc, x) -> acc + x) AS h_dot
         FROM (
           SELECT transform(e1.embedding, x -> CAST(x AS DOUBLE)) AS a,
                  transform(e2.embedding, x -> CAST(x AS DOUBLE)) AS b,
                  transform(e1.embedding, x -> CAST(x * 50 AS INT)) AS qa,
                  transform(e2.embedding, x -> CAST(x * 50 AS INT)) AS qb
           FROM embeddings e1 JOIN embeddings e2
             ON e2.vec_id = e1.vec_id + 1
           WHERE e1.vec_id < 50)""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"l2sq diverged: $r")
      assert(r.getInt(2) == r.getInt(3), s"int dot diverged: $r")
    }
    // float/double mix accepted; dimension mismatch raises (both kernels)
    assert(spark.sql("SELECT vector_l2sq(array(1.0F, 2.0F), array(1.0D, 4.0D)) v")
      .head().getDouble(0) == 4.0)
    for (q <- Seq("SELECT vector_l2sq(array(1.0F), array(1.0F, 2.0F)) v",
                  "SELECT int_vec_dot(array(1), array(1, 2)) v")) {
      val e = intercept[Exception] { spark.sql(q).collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
      assert(messages(e).exists(_.contains("dimension mismatch")), messages(e))
    }
  }

  test("approx_most_frequent: exact under capacity, bounded over it") {
    import spark.implicits._
    // exact regime: 3 distinct values, capacity default
    val exact = graft.sql.GraftSql.sql(spark,
      "SELECT approx_most_frequent(2, v) a FROM VALUES ('x'),('x'),('x'),('y'),('y'),('z') AS t(v)")
      .selectExpr("inline(a)").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(exact.toSeq == Seq(("x", 3L), ("y", 2L)))
    // eviction regime: 100 distinct + one heavy hitter, capacity 8 —
    // the heavy hitter must survive with count >= its true frequency
    val df = (Seq.fill(500)("hot") ++ (0 until 100).map(i => s"cold$i")).toDF("v")
    df.createOrReplaceTempView("amf_skew")
    val top = graft.sql.GraftSql.sql(spark,
      "SELECT approx_most_frequent(1, v, 8) a FROM amf_skew")
      .selectExpr("inline(a)").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.head._1 == "hot" && top.head._2 >= 500L)
  }

  test("Windows.withGroupsFrame == GROUPS BETWEEN semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ties on k: GROUPS differs from both ROWS and RANGE-on-k here
    val df = Seq(("a", 1, 10), ("a", 1, 20), ("a", 2, 30), ("a", 3, 40), ("b", 1, 5))
      .toDF("g", "k", "x")
    val out = graft.functions.Windows.withGroupsFrame(
        df, "s", sum(col("x")), Seq(col("g")), Seq(col("k")), -1, 0)
      .orderBy("g", "k", "x").select("g", "k", "x", "s").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // GROUPS 1 PRECEDING..CURRENT: k=1 rows see the k=1 peer group only
    // (30+30=...): for g=a k=1 -> 10+20=30; k=2 -> 10+20+30=60; k=3 -> 30+40=70
    assert(out.toSeq == Seq(
      ("a", 1, 10, 30L), ("a", 1, 20, 30L), ("a", 2, 30, 60L),
      ("a", 3, 40, 70L), ("b", 1, 5, 5L)))
  }

  test("Windows.withGroupsFrameExclude == SQL:2016 exclusion semantics (brute force)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.Windows._
    // ties at the extreme (x from a 3-value set) + ~10% nulls + duplicate
    // (g,k,x) rows: exercises the natmin>1 branch, the second-best
    // fallback, and the empty-piece NULL semantics.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 240).map { i =>
      val x: Option[Double] =
        if (rnd.nextInt(10) == 0) None else Some((rnd.nextInt(3) + 1).toDouble)
      (i.toLong, rnd.nextInt(3), rnd.nextInt(6), x)
    }
    val df = rows.toDF("id", "g", "k", "x")
    val byG = rows.groupBy(_._2)
    def ref(row: (Long, Int, Int, Option[Double]), lo: Long, hi: Long,
            kd: String, en: String): Option[Double] = {
      val part = byG(row._2)
      val ranks = part.map(_._3).distinct.sorted.zipWithIndex.map {
        case (k, i) => k -> i.toLong }.toMap
      val r0 = ranks(row._3)
      val frame = part.filter { p =>
        val dr = ranks(p._3) - r0; dr >= lo && dr <= hi }
      val kept = en match {
        case "no" => frame
        case "gr" => frame.filter(p => ranks(p._3) != r0)
        case "ti" => frame.filter(p => ranks(p._3) != r0 || p._1 == row._1)
        case "cr" => frame.filter(p => p._1 != row._1)
      }
      val xs = kept.flatMap(_._4)
      kd match {
        case "count" => Some(xs.size.toDouble)
        case "sum"   => if (xs.isEmpty) None else Some(xs.sum)
        case "avg"   => if (xs.isEmpty) None else Some(xs.sum / xs.size)
        case "min"   => xs.reduceOption((a, b) => math.min(a, b))
        case "max"   => xs.reduceOption((a, b) => math.max(a, b))
      }
    }
    val kinds = Seq("sum", "count", "avg", "min", "max")
    val excls = Seq("no" -> ExcludeNoOthers, "cr" -> ExcludeCurrentRow,
      "gr" -> ExcludeGroup, "ti" -> ExcludeTies)
    for ((lo, hi) <- Seq((-1L, 1L), (-3L, -1L)); (en, ex) <- excls) {
      var out = df
      for (kd <- kinds)
        out = withGroupsFrameExclude(out, s"r_$kd", kd, col("x"),
          Seq(col("g")), Seq(col("k")), lo, hi, ex)
      val got = out.orderBy("id").collect()
      for ((r, i) <- rows.sortBy(_._1).zipWithIndex; (kd, j) <- kinds.zipWithIndex) {
        val idx = 4 + j
        val g = if (got(i).isNullAt(idx)) None
          else Some(got(i).get(idx).asInstanceOf[Number].doubleValue)
        val e = ref(r, lo, hi, kd, en)
        assert((g, e) match {
          case (None, None) => true
          case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
          case _ => false
        }, s"frame=($lo,$hi) excl=$en kind=$kd row=$r got=$g want=$e")
      }
    }
  }

  test("ngrams generator: rows, positions, null-token windows, short input") {
    graft.functions.GraftFunctions.register(spark)
    // basic expansion + 0-based positions
    val r = spark.sql(
      "SELECT pos, ngram FROM VALUES (array('a','b','c','d')) AS t(ws) " +
        "LATERAL VIEW ngrams(ws, 2) g AS pos, ngram ORDER BY pos").collect()
    assert(r.map(x => (x.getInt(0), x.getString(1))).toSeq
      == Seq((0, "a b"), (1, "b c"), (2, "c d")))
    // n == len -> one gram; n > len -> zero rows (LATERAL VIEW drops row)
    assert(spark.sql("SELECT ngram FROM VALUES (array('x','y')) AS t(ws) " +
      "LATERAL VIEW ngrams(ws, 2) g AS pos, ngram").collect().map(_.getString(0)).toSeq
      == Seq("x y"))
    assert(spark.sql("SELECT ngram FROM VALUES (array('x','y')) AS t(ws) " +
      "LATERAL VIEW ngrams(ws, 3) g AS pos, ngram").collect().isEmpty)
    // windows touching a NULL token are skipped, others survive
    assert(spark.sql(
      "SELECT ngram FROM VALUES (array('a', CAST(NULL AS STRING), 'c', 'd')) AS t(ws) " +
        "LATERAL VIEW ngrams(ws, 2) g AS pos, ngram").collect().map(_.getString(0)).toSeq
      == Seq("c d"))
    // NULL array -> no rows; OUTER keeps the driving row with NULL cols
    assert(spark.sql("SELECT ngram FROM VALUES (CAST(NULL AS ARRAY<STRING>)) AS t(ws) " +
      "LATERAL VIEW ngrams(ws, 2) g AS pos, ngram").collect().isEmpty)
    assert(spark.sql("SELECT ngram FROM VALUES (CAST(NULL AS ARRAY<STRING>)) AS t(ws) " +
      "LATERAL VIEW OUTER ngrams(ws, 2) g AS pos, ngram").collect().map(_.isNullAt(0)).toSeq
      == Seq(true))
    // n < 1 fails analysis (foldable literal)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM VALUES (array('a')) AS t(ws) " +
        "LATERAL VIEW ngrams(ws, 0) g AS pos, ngram").collect()
    }
    assert(e.getMessage.contains("ngrams n must be >= 1"))
  }

  test("shingle_sig lanes == minhashLanes (batch kernel vs streaming SQL spelling)") {
    // The fused kernel reimplements the 16-lane rotated-slice minhash
    // that TextOps.minhashLanes spells in SQL — and the STREAMING
    // ingest dedup (EventStream.docSignature) still builds signatures
    // from minhashLanes. This parity pin is what keeps a future edit
    // to either spelling from silently desynchronizing streaming
    // near-dup ingest from the batch t02 signatures.
    graft.functions.GraftFunctions.register(spark)
    val items = spark.sql(
      """SELECT * FROM VALUES
           (array('alpha beta gamma', 'beta gamma delta', 'alpha beta gamma')),
           (array('x')), (array('a b c', 'd e f', 'g h i', 'a b c'))
         AS t(sh)""")
    val viaKernel = items.selectExpr("shingle_sig(sh, false, true).sl AS sl")
    val viaSql = items
      .selectExpr("transform(array_distinct(sh), t -> md5(t)) AS hd")
      .select(org.apache.spark.sql.functions.array(
        graft.operators.TextOps.minhashLanes(
          org.apache.spark.sql.functions.col("hd")): _*).as("sl"))
    assert(viaKernel.collect().map(_.getSeq[String](0)).toSeq ==
      viaSql.collect().map(_.getSeq[String](0)).toSeq)
  }

  test("simhash signatures omit wordless docs (NULL / empty / all-space text)") {
    // the relational spelling (explode + LEN(w) > 0) and the DuckDB
    // oracle both drop docs with no words; the fused kernel must not
    // resurrect them as all-zero signatures — K empty docs would emit
    // K^2/2 spurious hamming-0 pairs in t21
    val dir = java.nio.file.Files.createTempDirectory("sim_docs").toString
    spark.sql(
      """SELECT * FROM VALUES
           (CAST(1 AS BIGINT), 'real words here', 'web'),
           (CAST(2 AS BIGINT), 'real words here', 'web'),
           (CAST(3 AS BIGINT), '', 'web'),
           (CAST(4 AS BIGINT), '   ', 'web'),
           (CAST(5 AS BIGINT), CAST(NULL AS STRING), 'web'),
           (CAST(6 AS BIGINT), '', 'web')
         AS t(doc_id, text, source)""")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sigs = SparkEntry.queries("t03_simhash")(spark, dir).collect()
    assert(sigs.map(_.getLong(0)).toSet == Set(1L, 2L),
      s"wordless docs must be absent from t03: ${sigs.mkString(",")}")
    val pairs = SparkEntry.queries("t21_simhash_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)),
      s"only the real dup pair may emit (no empty-doc pairs): ${pairs.mkString(",")}")
  }

  test("t22 source mix: integer budgets, zero-budget sources absent, boundary inclusive") {
    // hand-computed fixture: total toks 15 -> budget 7; sumIdx 1+2+20=23
    // src0: 1*7 div 23 = 0, src1: 2*7 div 23 = 0 -> no doc fits, absent
    // src19: 20*7 div 23 = 6; hash order md5('4') < md5('5') -> doc 4
    // (cum 2) then doc 5 (cum 6 == budget, INCLUSIVE) -> both selected
    val dir = java.nio.file.Files.createTempDirectory("mix_docs").toString
    spark.sql(
      """SELECT * FROM VALUES
           (CAST(1 AS BIGINT), 'a b c', 'src0'),
           (CAST(2 AS BIGINT), 'd e', 'src0'),
           (CAST(3 AS BIGINT), 'a b c d', 'src1'),
           (CAST(4 AS BIGINT), 'x y', 'src19'),
           (CAST(5 AS BIGINT), 'z w v u', 'src19')
         AS t(doc_id, text, source)""")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t22_source_mix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("src19", 6L, 2L, 6L)), got.toSeq)
  }

  test("sourceMix with an explicit weight table: zero weight absent, unlisted dropped") {
    import spark.implicits._
    // same doc fixture as the t22 test, plus a source NOT in the
    // weight table; weights src0=0, src1=1, src19=1 under budget 8:
    // sumW=2 -> src1 budget 4 (doc 3, toks 4, cum 4 <= 4: selected),
    // src19 budget 4 (hash order doc 4 cum 2 selected; doc 5 cum 6 >
    // 4 rejected); src0 budget 0 -> absent; 'extra' unlisted -> dropped
    val docsDf = spark.sql(
      """SELECT * FROM VALUES
           (CAST(1 AS BIGINT), 'a b c', 'src0'),
           (CAST(2 AS BIGINT), 'd e', 'src0'),
           (CAST(3 AS BIGINT), 'a b c d', 'src1'),
           (CAST(4 AS BIGINT), 'x y', 'src19'),
           (CAST(5 AS BIGINT), 'z w v u', 'src19'),
           (CAST(6 AS BIGINT), 'not in the weight table', 'extra')
         AS t(doc_id, text, source)""")
    val weights = Seq(("src0", 0L), ("src1", 1L), ("src19", 1L))
      .toDF("source", "weight")
    val got = graft.operators.TextOps.sourceMix(docsDf, weights, 8L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("src1", 4L, 1L, 4L), ("src19", 4L, 1L, 2L)), got.toSeq)
    // malformed weight tables fail loudly, never silently misallocate
    val dup = Seq(("src1", 1L), ("src1", 2L)).toDF("source", "weight")
    assert(intercept[IllegalArgumentException](
      graft.operators.TextOps.sourceMix(docsDf, dup, 8L))
      .getMessage.contains("duplicate"))
    val neg = Seq(("src1", -1L), ("src19", 2L)).toDF("source", "weight")
    assert(intercept[IllegalArgumentException](
      graft.operators.TextOps.sourceMix(docsDf, neg, 8L))
      .getMessage.contains("negative"))
    val zero = Seq(("src1", 0L)).toDF("source", "weight")
    assert(intercept[IllegalArgumentException](
      graft.operators.TextOps.sourceMix(docsDf, zero, 8L))
      .getMessage.contains("zero"))
  }

  test("min_gram_md5 is bit-identical to the HOF spelling (incl. short/empty/non-ASCII)") {
    // every document at the gate corpus + the edge shapes the kernel's
    // greatest(...,1) guard and code-point substring must reproduce
    val edge = spark.createDataFrame(Seq(
      (1L, ""), (2L, "short"), (3L, "exactly8"), (4L, "ünïcödé-grams ünïcödé"),
      (5L, "a b c d e f g h i j k l m"))).toDF("doc_id", "norm")
    val corpus = Tables(spark, sf(), "documents")
      .selectExpr("doc_id", "trim(regexp_replace(lower(text), '\\\\s+', ' ')) AS norm")
      .where("norm IS NOT NULL")
    for (df <- Seq(edge, corpus)) {
      val mismatch = df.selectExpr("doc_id",
          "min_gram_md5(norm, 8) AS fused",
          """array_min(transform(sequence(1, greatest(length(norm) - 7, 1)),
               i -> md5(substring(norm, i, 8)))) AS hof""")
        .where("fused IS DISTINCT FROM hof")
      assert(mismatch.count() == 0, mismatch.collect().take(3).mkString("; "))
    }
  }

  test("word_grams is bit-identical to the HOF spelling on the guarded domain (size >= n)") {
    // r14 kernel parity: the fused generator must reproduce the
    // relational spelling EXACTLY on the domain every call site feeds
    // it (size(ws) >= 5 — the filter all gram sites apply), including
    // array_distinct's first-occurrence order. Below the guard the
    // relational spelling is not even total under ANSI (ws[i+1] on a
    // short array throws INVALID_ARRAY_INDEX), which is WHY the guard
    // exists; the kernel is total there instead (next test).
    val edge = spark.createDataFrame(Seq(
      (3L, "a b c d e"),
      (4L, "x x x x x x x x"), // dup-heavy: one distinct gram
      (5L, "a b c a b c a b c a b c d"))).toDF("doc_id", "text")
    val corpus = Tables(spark, sf(), "documents").select("doc_id", "text")
    for (df <- Seq(edge, corpus)) {
      val mismatch = df
        .selectExpr("doc_id", "split(lower(text), ' ') AS ws")
        .where("size(ws) >= 5")
        .selectExpr("doc_id",
          "word_grams(ws, 5) AS fused",
          """array_distinct(transform(sequence(0, size(ws) - 5),
               i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) AS hof""")
        .where("fused IS DISTINCT FROM hof")
      assert(mismatch.count() == 0, mismatch.collect().take(3).mkString("; "))
    }
    // non-dedupe mode (t11): every window in order, vs the bare HOF
    val nd = spark.sql("""SELECT word_grams(ws, 2, false) AS fused,
        transform(sequence(0, size(ws) - 2),
          i -> concat_ws(' ', ws[i], ws[i+1])) AS hof
      FROM (SELECT split('a b a b c c', ' ') AS ws)""").head()
    assert(nd.getSeq[String](0) == nd.getSeq[String](1), nd.toString)
    // short/empty arrays: total, one all-words gram (never thrown —
    // call sites guard, but a total kernel beats an ANSI error).
    // This DIVERGES from the non-ANSI HOF below the guard by design
    // (the HOF would emit n-size+1 identical copies in non-dedup
    // mode): occurrence-counting callers must keep the size >= n
    // guard, as t11 does (ADVICE r14).
    assert(one("SELECT word_grams(array('a','b'), 5, false)") == Row(Seq("a b")))
    assert(one("SELECT word_grams(array('a','b'), 5)") == Row(Seq("a b")))
    assert(one("SELECT word_grams(CAST(array() AS ARRAY<STRING>), 5)") == Row(Seq("")))
    assert(one("SELECT word_grams(CAST(NULL AS ARRAY<STRING>), 5)") == Row(Seq()))
  }

  test("every registered function rejects wrong arity cleanly (r9 review: generalized guard)") {
    for (sqlText <- Seq("SELECT vector_dot(array(1.0))",
      "SELECT approx_most_frequent(3)", "SELECT levenshtein_distance('a')",
      "SELECT bloom_build('x', 1)", "SELECT strpos('ab')")) {
      val e = intercept[Exception](one(sqlText))
      assert(e.getMessage.contains("argument"),
        s"$sqlText: ${e.getMessage.take(200)}")
    }
    // approx_distinct's optional max-standard-error now WORKS instead
    // of being silently ignored: a coarser error changes the estimate
    val r = one("SELECT approx_distinct(x) = approx_distinct(x, CAST(0.26 AS DOUBLE)) AS eq " +
      "FROM (SELECT explode(sequence(1, 2000)) AS x)")
    assert(r == Row(false), r)
  }

  test("min_gram_md5: foldable n spellings accepted, wrong arity errors cleanly") {
    // ADVICE r8: CAST(8 AS INT) is foldable-but-not-literal; must typecheck
    val f = one("SELECT min_gram_md5('hello world', CAST(8 AS INT)) = " +
      "min_gram_md5('hello world', 8) AS same")
    assert(f == Row(true))
    val ar = intercept[Exception](one("SELECT min_gram_md5('x')"))
    assert(ar.getMessage.contains("argument"), ar.getMessage)
    val neg = intercept[Exception](one("SELECT min_gram_md5('x', 0)"))
    assert(neg.getMessage.toLowerCase.contains("positive"), neg.getMessage)
  }

  test("bloom_build/might_contain: the runtime-filter kernel pair as explicit SQL") {
    // build as a scalar subquery (the spelling InjectRuntimeFilter
    // plants); members MUST hit (no false negatives is the contract
    // t24's exactness rests on), a non-member misses at this sizing.
    // (This scalar-subquery spelling trips a Spark-internal janino
    // fallback — the logged CompileException — and runs interpreted;
    // t24's literal-bloom probe codegens cleanly, asserted 0-fallback
    // in PlanSpec.)
    val r = one("""SELECT
        might_contain((SELECT bloom_build(x, 3, 65536)
          FROM VALUES ('alpha'),('beta'),('gamma') AS t(x)), 'beta') AS hit,
        might_contain((SELECT bloom_build(x, 3, 65536)
          FROM VALUES ('alpha'),('beta'),('gamma') AS t(x)), 'zeta') AS miss""")
    assert(r == Row(true, false))
  }

  test("t24 bloom-prefiltered decontamination matches t13 row-for-row") {
    // same overlap measure, different PLAN (bloom prefilter + shuffled
    // verify vs broadcast verify): bloom false positives must die in
    // the exact join, false negatives must not exist at all. t25 (auto)
    // must agree too, whichever regime its count picks.
    val d = sf("sf0.01")
    val a = SparkEntry.queries("t13_decontaminate")(spark, d).collect().toSet
    val b = SparkEntry.queries("t24_decontaminate_bloom")(spark, d).collect().toSet
    val c = SparkEntry.queries("t25_decontaminate_auto")(spark, d).collect().toSet
    assert(a.nonEmpty, "t13 returned no contaminated-doc rows at sf0.01")
    assert(a == b, s"t13/t24 disagree: only-t13=${(a -- b).take(3)} only-t24=${(b -- a).take(3)}")
    assert(a == c, s"t13/t25 disagree: only-t13=${(a -- c).take(3)} only-t25=${(c -- a).take(3)}")
  }

  test("decontaminate auto regime switches plans at the gram-count threshold") {
    import org.apache.spark.sql.functions.col
    val d = sf("sf0.001")
    def grams(which: Boolean) = {
      val all = Tables(spark, d, "documents")
        .selectExpr("doc_id", "source", "explode(split(lower(text), ' ')) AS g")
      if (which) all.filter(col("doc_id") % 17 === 0)
      else all.filter(col("doc_id") % 17 =!= 0)
    }
    def planOf(regimeMax: Long): String =
      graft.operators.TextOps.decontaminate(grams(false), grams(true),
        regime = "auto", broadcastMaxGrams = regimeMax)
        .queryExecution.executedPlan.toString
    // threshold above the eval count -> broadcast plan, no bloom probe
    val small = planOf(Long.MaxValue)
    assert(small.contains("BroadcastExchange") && !small.contains("might_contain"),
      s"auto/under-threshold should broadcast: ${small.take(800)}")
    // threshold of 0 -> every suite is 'too big': bloom probe, no broadcast
    val big = planOf(0L)
    assert(big.contains("might_contain") && !big.contains("BroadcastExchange"),
      s"auto/over-threshold should bloom-prefilter: ${big.take(800)}")
    // forced regimes answer identically regardless of the plan picked
    val fb = graft.operators.TextOps.decontaminate(grams(false), grams(true),
      regime = "broadcast").collect().toSet
    val fl = graft.operators.TextOps.decontaminate(grams(false), grams(true),
      regime = "bloom").collect().toSet
    assert(fb == fl, s"forced regimes disagree: ${(fb -- fl).take(3)} / ${(fl -- fb).take(3)}")
    val e = intercept[Exception](graft.operators.TextOps.decontaminate(
      grams(false), grams(true), regime = "hybrid"))
    assert(e.getMessage.contains("regime"))
  }

  test("auto decontaminate middle band is hit-rate aware: sampled bloom probe picks the plan (r10)") {
    import org.apache.spark.sql.functions.col
    val d = sf("sf0.001")
    val train = Tables(spark, d, "documents")
      .selectExpr("doc_id", "source", "explode(split(lower(text), ' ')) AS g")
    // force every suite into the middle band (probeMinGrams = 0,
    // broadcastMaxGrams = inf): the decision is the PROBE's alone
    def planOf(eval: org.apache.spark.sql.DataFrame): String =
      graft.operators.TextOps.decontaminate(train, eval,
        regime = "auto", broadcastMaxGrams = Long.MaxValue, probeMinGrams = 0L)
        .queryExecution.executedPlan.toString
    // saturated corpus (eval = the corpus's own words, hit rate ~100%):
    // the prescreen would filter nothing — broadcast despite the band
    val hot = planOf(train.select("g"))
    assert(hot.contains("BroadcastExchange") && !hot.contains("might_contain"),
      s"high-hit middle band should broadcast: ${hot.take(800)}")
    // realistic held-out suite (no overlap, hit rate ~ bloom fpr ~1%):
    // the prescreen kills the stream map-side — bloom wins the band
    val cold = planOf(train.selectExpr("concat(g, '_zzz') AS g"))
    assert(cold.contains("might_contain") && !cold.contains("BroadcastExchange"),
      s"low-hit middle band should bloom-prefilter: ${cold.take(800)}")
  }

  test("auto middle-band probe is order-robust: late-partition contamination reads hot (r11)") {
    // the adversarial ordering from the r10 verdict: every contaminated
    // gram lives in the corpus's LAST partitions. A global stream-prefix
    // probe (the r10 spelling) reads ~0% there and picks bloom on a
    // 25%-saturated corpus (the measured 3.5x-slower configuration);
    // the interleaved per-partition probe reads every partition's share
    // (6 clean + 2 hot partitions -> ~25% sampled) and keeps broadcast.
    val clean = spark.range(0, 300000).selectExpr(
      "id AS doc_id", "'web' AS source", "concat('clean_', id) AS g").repartition(6)
    val hot = spark.range(0, 100000).selectExpr(
      "id + 1000000 AS doc_id", "'web' AS source",
      "concat('hot_', id % 50000) AS g").repartition(2)
    val train = clean.union(hot) // union concatenates partitions: clean first
    val eval = spark.range(0, 50000).selectExpr("concat('hot_', id) AS g")
    val plan = graft.operators.TextOps.decontaminate(train, eval,
      regime = "auto", broadcastMaxGrams = Long.MaxValue, probeMinGrams = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") && !plan.contains("might_contain"),
      s"late-clustered contamination should sample >=10% and broadcast: ${plan.take(800)}")
    // and the inverse stays true: a genuinely held-out suite (no
    // overlap anywhere) still reads ~0% and bloom-prefilters
    val cold = graft.operators.TextOps.decontaminate(train,
      spark.range(0, 50000).selectExpr("concat('held_', id) AS g"),
      regime = "auto", broadcastMaxGrams = Long.MaxValue, probeMinGrams = 0L)
      .queryExecution.executedPlan.toString
    assert(cold.contains("might_contain") && !cold.contains("BroadcastExchange"),
      s"held-out suite should bloom-prefilter: ${cold.take(800)}")
  }

  test("GraftExtensions injects every function at session build (spark.sql.extensions)") {
    // Build a session WITHOUT imperative register(): extensions only —
    // the path spark-submit / Thrift server / Connect deployments use.
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val fresh = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.extensions", classOf[graft.engine.GraftExtensions].getName)
        .getOrCreate()
      val r = fresh.sql(
        "SELECT strpos('hello', 'l') a, cardinality(array(1,2)) c, " +
          "vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) d").collect().head
      assert(r == Row(3, 2, 11.0))
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      active.foreach { s =>
        org.apache.spark.sql.SparkSession.setActiveSession(s)
        org.apache.spark.sql.SparkSession.setDefaultSession(s)
      }
    }
  }

  test("shardForTraining: layout-invariant membership AND order, balanced, one file per shard (r11)") {
    import graft.operators.TextOps
    val docsDf = Tables(spark, sf(), "documents")
    // physical layout must not leak into the result: 1-partition and
    // 17-partition inputs land every row in the same output partition
    // at the same position (membership + ORDER, the training-run
    // reproducibility contract)
    def layout(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[(Int, Long)])] =
      TextOps.shardForTraining(df, nShards = 8, seed = 7)
        .select("shard", "doc_id").rdd
        .mapPartitionsWithIndex((i, it) =>
          Iterator.single(i -> it.map(r => (r.getInt(0), r.getLong(1))).toSeq))
        .collect().toSeq.sortBy(_._1).filter(_._2.nonEmpty)
    val a = layout(docsDf.repartition(1))
    val b = layout(docsDf.repartition(17))
    assert(a == b, "shard assignment or order depends on input layout")
    // within each partition rows are (shard, perm_key)-sorted and
    // shards are balanced (uniform hex buckets)
    val counts = a.flatMap(_._2).groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts.keySet == (0 until 8).toSet, s"missing shards: $counts")
    // multinomial balance: each shard within 5 sigma of n/8 (the
    // BUCKET->shard mapping itself is exact to ±1 bucket; observed
    // spread is hash noise that shrinks as 1/sqrt(n))
    val mean = a.flatMap(_._2).size / 8.0
    val tol = 5 * math.sqrt(mean)
    assert(counts.values.forall(c => math.abs(c - mean) < tol),
      s"shards unbalanced beyond 5 sigma of $mean: $counts")
    // re-running the same config reproduces; a new seed re-permutes
    assert(layout(docsDf.repartition(1)) == a)
    val c = TextOps.shardForTraining(docsDf, nShards = 8, seed = 8)
      .select("shard", "doc_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(c != a.flatMap(_._2).toSet, "seed must change shard membership")
    // the writer emits exactly one parquet file per shard directory
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    TextOps.writeTrainingShards(docsDf, out, nShards = 8, seed = 7)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
    assert(dirs.length == 8, dirs.map(_.getName).toSeq)
    dirs.foreach { sd =>
      val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${sd.getName}: ${files.length} files")
    }
    // round-trip: written rows == computed rows
    assert(spark.read.parquet(out).count() == docsDf.count())
  }

  test("shardForTraining: nShards bounds reject loudly") {
    val docsDf = Tables(spark, sf(), "documents")
    assert(intercept[IllegalArgumentException](
      graft.operators.TextOps.shardForTraining(docsDf, 0, 1L))
      .getMessage.contains("[1, 65536]"))
  }
}
