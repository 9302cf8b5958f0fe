package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Physical-plan quality gates — the 100 TB discipline, asserted:
  * filters/columns must reach the parquet scan, small dimensions must
  * broadcast, aggregations must have a map-side partial phase, hot
  * paths must sit inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val df = Tables(spark, sf(), "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast(TimestampType))
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"), p)
    // column pruning: scan schema carries only the 3 referenced columns
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("l_orderkey") && !scanLine.contains("l_extendedprice"), scanLine)
  }

  test("q03 joins broadcast the dimension side") {
    val df = SparkEntry.queries("q03_shipping_priority")(spark, sf())
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("corpus-sized joins in t04/v04 never broadcast (shuffle/merge only)") {
    // VERDICT r1: broadcast() of the full gram-set / embeddings tables
    // is fatal at 100 TB. The MERGE / SHUFFLE_HASH hints must keep
    // BroadcastExchange out of the plan at every SF — including this
    // one, where the static planner would otherwise pick broadcast.
    for (name <- Seq("t02_minhash_lsh", "t04_ngram_jaccard", "v04_ann_lsh")) {
      val p = plan(SparkEntry.queries(name)(spark, sf()))
      assert(!p.contains("BroadcastExchange"), s"$name broadcasts: ${p.take(2000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"$name expected a shuffled join: ${p.take(2000)}")
    }
  }

  test("t14 convergence loop pays ONE action per round (observe-folded fixpoint)") {
    // VERDICT r5 #7: the loop's separate changed-labels count() doubled
    // the short-stage count per round — under host contention every
    // driver barrier multiplies scheduler latency (measured 19x). The
    // fixpoint check must ride the checkpoint materialization as an
    // observed metric: rounds show up as checkpoint-family actions and
    // NOTHING else (no count actions at all during the build).
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val actions = try {
      SparkEntry.queries("t14_dup_clusters")(spark, sf("sf0.01")).collect()
      // the listener bus is async — wait for the trailing collect event
      var tries = 0
      while (tries < 100 && !names.toArray.exists(_ == "collect")) { Thread.sleep(100); tries += 1 }
      names.toArray.map(_.toString).toSeq
    } finally spark.listenerManager.unregister(listener)
    info(s"t14 actions: $actions")
    assert(!actions.contains("count"),
      s"t14 ran a separate count() action inside the convergence loop: $actions")
    // per-round actions are the localCheckpoint materializations (t02
    // pairs + initial labels + >=2 propagation rounds)
    assert(actions.count(_.toLowerCase.contains("checkpoint")) >= 4, s"$actions")
  }

  test("v07's broadcast side is the trained index's centroids, not a corpus filter") {
    // VERDICT r5 #8: the old inline `vec_id % 50` centroid rule made
    // the broadcast side GROW with the corpus; the entry must broadcast
    // the persisted fixed-k centroid table instead.
    val p = plan(SparkEntry.queries("v07_ann_ivf_q")(spark, sf("sf0.01")))
    assert(p.contains("graft_ivf_cache"), // the index's parquet scan feeds the broadcast
      s"expected a centroid-table scan in the plan:\n${p.take(3000)}")
    assert(!p.contains("% 50"), "corpus-derived centroid filter resurfaced")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("t02 materializes per-doc signatures once (no expensive filter below the repartition)") {
    // Round-3 regression gate: InferFiltersFromConstraints must not
    // push an isnotnull() over the md5/xxhash pipeline below the
    // repartition into the single-task scan stage (measured 4.6 s of
    // single-threaded CPU before the coalesce(.., array()) fix), and
    // the materialization exchange above the per-doc compute must be
    // present so the four join branches can reuse it.
    val p = plan(SparkEntry.queries("t02_minhash_lsh")(spark, sf()))
    val scanFilters = p.linesIterator.filter(_.contains("DataFilters")).mkString("\n")
    assert(!scanFilters.contains("md5") && !scanFilters.contains("xxhash"),
      s"expensive expression pushed into scan filter: $scanFilters")
  }

  test("v04 shares the signature/embedding exchanges across both join sides (runtime reuse)") {
    // Round-3 regression gate (VERDICT r3 #3): the 16x64 DECIMAL
    // signature fold and the embeddings scan each have TWO consumers
    // (band self-join sides; fingerprint join sides). AQE's stage cache
    // must dedupe them — the executed plan shows ReusedExchange for the
    // second consumer of each. A diamond recompute here doubles the
    // per-row signature work at any scale.
    val df = SparkEntry.queries("v04_ann_lsh")(spark, sf())
    df.collect() // reuse is inserted at runtime; finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.linesIterator.takeWhile(!_.contains("Initial Plan")).mkString("\n")
    val reused = "ReusedExchange".r.findAllIn(finalPlan).size
    assert(reused >= 2, s"expected >=2 ReusedExchange in v04 final plan, got $reused:\n${finalPlan.take(3000)}")
    // and the scan-side: exactly ONE embeddings FileScan materializes
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(finalPlan).size
    assert(scans <= 2, s"expected <=2 materialized scans in v04 final plan, got $scans")
  }

  test("t13 broadcasts the benchmark-sized eval grams; q29 shuffles once on its key") {
    // the eval side is benchmark-sized BY CONTRACT (a held-out eval
    // set, not the corpus), so broadcasting it is the correct plan —
    // the corpus-side gram stream must NOT be the build side
    val p13 = plan(SparkEntry.queries("t13_decontaminate")(spark, sf()))
    assert(p13.contains("BroadcastHashJoin"), p13.take(2000))
    // the pattern matcher rides the lag window's existing partitioning
    // (prePartitioned contract): EXACTLY one user_id exchange in the
    // whole plan — a second one means the stream shuffled twice on the
    // same key — and no global sort
    val p29 = plan(SparkEntry.queries("q29_match_recognize")(spark, sf()))
    val nUserExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p29).size
    assert(nUserExchanges == 1, s"expected 1 user_id exchange, got $nUserExchanges: ${p29.take(2000)}")
    assert(!p29.contains("rangepartitioning"), s"global sort in q29: ${p29.take(2000)}")
    // the round-9 dialect entries keep the SAME one-shuffle contract:
    // DESC ordering / skip-to-next (q32) and ALL ROWS running measures
    // + SUBSET (q33) ride the nav window's exchange like q29
    // q34 (round 10): classifier-history nav symbols ride the SAME
    // plan — the nav placeholder is bound inside the matcher, adding
    // no exchange beyond the PREV window's
    // q38 (round 11): CLASSIFIER()/MATCH_NUMBER() placeholders are
    // bound inside the matcher like q34's history nav — same contract
    for (name <- Seq("q32_pattern_skipnext_desc", "q33_pattern_running_measures",
        "q34_pattern_hist_nav", "q35_pattern_unmatched_rows",
        "q36_pattern_measure_nav", "q38_pattern_define_classifier")) {
      val p = plan(SparkEntry.queries(name)(spark, sf()))
      val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
      assert(n == 1, s"$name: expected 1 user_id exchange, got $n: ${p.take(2000)}")
      assert(!p.contains("rangepartitioning"), s"global sort in $name: ${p.take(2000)}")
    }
  }

  test("t24 probes the bloom map-side and shuffles only survivors (no broadcast)") {
    // t13's large-eval-suite twin: the corpus gram stream must be
    // thinned by a codegen'd might_contain BELOW the verify join, and
    // the verify must be a shuffled join — nothing corpus-sized is
    // broadcast, and the eval side is not broadcast either (that's the
    // whole point of the bloom spelling)
    val p = plan(SparkEntry.queries("t24_decontaminate_bloom")(spark, sf()))
    assert(p.contains("might_contain"), p.take(2000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastExchange"), s"t24 broadcasts: ${p.take(2000)}")
    // the probe is a Filter under the join, not part of the join key
    val filterLine = p.linesIterator.find(l => l.contains("Filter") && l.contains("might_contain"))
    assert(filterLine.isDefined, s"bloom probe not in a Filter: ${p.take(2000)}")
  }

  test("t17 pipeline: eval grams broadcast, no cartesian, anti-join present") {
    // same contract as t13 (the eval side is benchmark-sized), plus the
    // composition properties: the contamination filter must be an
    // anti-join (never a collected id list) and nothing may degrade to
    // a loop join
    val p = plan(SparkEntry.queries("t17_curation_pipeline")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("LeftAnti"), s"expected an anti-join for contamination: ${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("t19 packing: two-level prefix sum, no per-source serial window") {
    // VERDICT r4 #1: Window.partitionBy(source).orderBy(doc_id) funnels
    // each source's entire row set through ONE task. The restructured
    // plan must only window within (source, shard) — row-level windows
    // keyed by source alone are forbidden. The shard-offset window
    // (source, shard ASC) is allowed: its input is shard-level rows.
    val p = plan(SparkEntry.queries("t19_packing")(spark, sf()))
    val badWindow = "windowspecdefinition\\(source#\\d+, doc_id#".r.findFirstIn(p)
    assert(badWindow.isEmpty, s"per-source serial window in t19: ${p.take(3000)}")
    // the doc-level window must be sharded: (source, shard, doc_id)
    assert("windowspecdefinition\\(source#\\d+, shard#\\d+L?, doc_id#".r.findFirstIn(p).isDefined,
      s"expected (source, shard)-partitioned doc window: ${p.take(3000)}")
    // the shard-offset join is metadata-sized and must broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("t22 source mix: two-level prefix sum in hash order, budgets broadcast") {
    // same discipline as t19, but the deterministic order is the
    // selection hash h: the doc-level window must be (source, shard)-
    // partitioned (shard = leading byte of h, order-aligned), never a
    // source-only row-level window; budget/offset joins broadcast
    val p = plan(SparkEntry.queries("t22_source_mix")(spark, sf()))
    assert("windowspecdefinition\\(source#\\d+, h#".r.findFirstIn(p).isEmpty,
      s"per-source serial window in t22: ${p.take(3000)}")
    assert("windowspecdefinition\\(source#\\d+, shard#\\d+L?, h#".r.findFirstIn(p).isDefined,
      s"expected (source, shard)-partitioned hash-order window: ${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q27 has no unpartitioned window (GROUPS frame via day-table joins)") {
    // an unpartitioned WindowExec funnels every row into one task at
    // scale; q27 must compute its GROUPS frame from per-day aggregates
    val p = plan(SparkEntry.queries("q27_groups_frame")(spark, sf()))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("DS queries aggregate two-phase; d02 rollup expands before partial agg") {
    for (name <- Seq("d01_channel_union", "d02_wide_dim_rollup", "d03_returns_ratio")) {
      val p = plan(SparkEntry.queries(name)(spark, sf()))
      assert(p.contains("partial_sum"), s"$name missing map-side partial: ${p.take(1500)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$name expected partial+final")
    }
    val p2 = plan(SparkEntry.queries("d02_wide_dim_rollup")(spark, sf()))
    assert(p2.contains("Expand"), "rollup should Expand below the partial aggregate")
  }

  test("recursive JSON_TABLE lowering keeps one Generate, zero UDFs (r14)") {
    // nested/sibling/PLAN documents assemble per-document row arrays
    // with HOFs and explode ONCE — the plan must carry exactly one
    // Generate for the JSON_TABLE (plus none elsewhere in these
    // entries' doc-build CTEs beyond their own), no scala UDF, and the
    // lateral must not degenerate to a nested-loop join
    for (q <- Seq("q45_json_table_deep", "q48_json_table_deep_siblings",
                  "q47_json_table_plan_inner", "q49_json_table_plan_cross")) {
      val p = plan(SparkEntry.queries(q)(spark, sf()))
      assert(p.contains("Generate"), s"$q: expected a Generate node:\n${p.take(2000)}")
      assert(!p.toLowerCase.contains("scalaudf"), s"$q: UDF leaked into the plan")
      assert(!p.contains("CartesianProduct"), s"$q: lateral degenerated to a cartesian")
    }
  }

  test("d09-d12 plan shapes: semi/anti joins, grain-sized Expand, reduced windows (r14)") {
    // d09: the rollup Expand must sit ABOVE the grain pre-aggregate
    // (the d02 economy), and the rank window runs over rollup output —
    // a Window node is fine, an Expand directly over the fact scan is
    // not. Proxy: exactly one Expand, and >= 4 HashAggregates (grain
    // partial+final, rollup partial+final).
    val p9 = plan(SparkEntry.queries("d09_window_over_rollup")(spark, sf()))
    assert("Expand".r.findAllIn(p9).size == 1, s"d09 Expand count:\n${p9.take(2000)}")
    assert("HashAggregate".r.findAllIn(p9).size >= 4, s"d09 expected grain+rollup aggs:\n${p9.take(2000)}")
    assert(p9.contains("Window"), s"d09 missing rank window:\n${p9.take(2000)}")
    // d10: EXISTS/NOT EXISTS must plan as hash SEMI and ANTI joins on
    // the distinct key sets — never a nested-loop or cartesian
    val p10 = plan(SparkEntry.queries("d10_exists_channels")(spark, sf()))
    assert(p10.contains("LeftSemi"), s"d10 missing semi join:\n${p10.take(2000)}")
    assert(p10.contains("LeftAnti"), s"d10 missing anti join:\n${p10.take(2000)}")
    assert(!p10.contains("CartesianProduct"), s"d10 cartesian:\n${p10.take(2000)}")
    // d11: grouping sets = one Expand feeding a partial aggregate
    val p11 = plan(SparkEntry.queries("d11_grouping_sets_report")(spark, sf()))
    assert(p11.contains("Expand"), s"d11 missing grouping-sets Expand:\n${p11.take(2000)}")
    assert(p11.contains("partial_sum"), s"d11 missing map-side partial:\n${p11.take(2000)}")
    // d12: both counting aggregates two-phase; no window, no sort
    val p12 = plan(SparkEntry.queries("d12_bulky_frequent_buyers")(spark, sf()))
    assert("HashAggregate".r.findAllIn(p12).size >= 4, s"d12 expected two 2-phase aggs:\n${p12.take(2000)}")
    assert(!p12.contains("Window") && !p12.toLowerCase.contains("sortmergejoin"),
      s"d12 unexpected window/SMJ on reduced keys:\n${p12.take(2000)}")
  }

  test("aggregations are two-phase (map-side partial)") {
    val df = Tables(spark, sf(), "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    val p = plan(df)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("AQE coalesces the post-shuffle partitions of a tiny aggregate") {
    val df = Tables(spark, sf(), "nation").groupBy("n_regionkey").count()
    df.collect() // run so AQE finalizes the adaptive plan
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead") || finalPlan.contains("coalesced"),
      finalPlan.take(1500))
    // 25 rows into 32 shuffle partitions -> AQE folds them to ~1
    assert(df.rdd.getNumPartitions < 8,
      s"expected coalesced partitions, got ${df.rdd.getNumPartitions}")
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val skewConfs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force a sort-merge join
    val saved = skewConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 200k rows on ONE key vs uniform right side: a textbook skewed join
      val left = spark.range(0, 200000).select(lit(7L).as("k"), col("id").as("v"))
        .union(spark.range(0, 100).select((col("id") % 10).as("k"), col("id").as("v")))
      val right = spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // execute THIS Dataset's QueryExecution (count() would plan its
      // own) so the adaptive plan finalizes with skew handling applied
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("selective dim filter injects a runtime bloom filter on the fact side") {
    // Thresholds scaled to test data (creation side must look small,
    // application side large); production defaults keep the same shape
    // at real fact/dimension sizes.
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      val li = Tables(spark, sf(), "lineitem")
      val pt = Tables(spark, sf(), "part").filter(col("p_size") === 1)
      val j = li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_size")).count()
      val p = plan(j)
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"), p.take(3000))
      // the bloom probe must sit on the fact side, keyed by l_partkey
      assert(p.linesIterator.exists(l =>
        l.contains("might_contain") && l.contains("l_partkey")), p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx_most_frequent aggregates two-phase via ObjectHashAggregate") {
    graft.functions.GraftFunctions.register(spark)
    Tables.registerAll(spark, sf())
    val df = spark.sql(
      "SELECT o_orderstatus, approx_most_frequent(3, o_orderpriority) FROM orders GROUP BY 1")
    val p = plan(df)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial phase before the exchange — per-executor sketches merge,
    // raw rows never shuffle.
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final ObjectHashAggregate")
    assert(p.contains("partial_approx_most_frequent"), p.take(2000))
  }

  test("vector_dot runs inside whole-stage codegen") {
    graft.functions.GraftFunctions.register(spark)
    Tables.registerAll(spark, sf())
    val df = spark.sql(
      "SELECT vector_dot(embedding, embedding) AS n2 FROM embeddings")
    val p = plan(df)
    // executedPlan.toString marks codegen stages with "*(n)" prefixes
    assert(p.linesIterator.next().trim.startsWith("*("), p.take(2000))
    // and it computes the same value as the HOF spelling
    val hof = spark.sql(
      """SELECT aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS n2
         FROM embeddings ORDER BY n2""").collect().map(_.getDouble(0))
    val nat = df.orderBy("n2").collect().map(_.getDouble(0))
    assert(hof.length == nat.length)
    hof.zip(nat).foreach { case (a, b) => assert(a == b, s"$a != $b (bit parity)") }
  }

  test("pack_int8 + int8_dot: exact values, range check, whole-stage codegen") {
    graft.functions.GraftFunctions.register(spark)
    // exact integer dot over packed codes
    val r = spark.sql(
      "SELECT int8_dot(pack_int8(array(1, -2, 3)), pack_int8(array(4, 5, -6))) AS d")
      .head().getLong(0)
    assert(r == 4 - 10 - 18, s"int8_dot wrong: $r")
    // packing width: one byte per element
    assert(spark.sql("SELECT length(pack_int8(array(127, -128, 0))) AS l")
      .head().getInt(0) == 3)
    // out-of-int8-range input throws, never silently truncates
    val err = intercept[Exception] {
      spark.sql("SELECT int8_dot(pack_int8(array(128)), pack_int8(array(1)))").collect()
    }
    assert(err.getMessage != null)
    // the pre-score kernel stays inside whole-stage codegen where it
    // matters: int8_dot over ALREADY-PACKED binary columns (v04's
    // prescore Project after the candidate join — no HOF in sight; the
    // packing itself sits next to transform() HOFs and is interpreted
    // there, once per ROW, not per candidate)
    Tables.registerAll(spark, sf())
    spark.sql(
      """SELECT pack_int8(transform(embedding, x -> CAST(x * 100 AS INT))) AS qc
         FROM embeddings""").repartition(2).createOrReplaceTempView("packed_codes")
    val df = spark.sql("SELECT int8_dot(qc, qc) AS q FROM packed_codes")
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.matches(""".*\*\(\d+\) Project \[int8_dot.*""")),
      p.take(2000))
  }

  test("hyperplane_bands fused kernel: bit parity with the per-plane spelling") {
    // the fused signature loop must produce the SAME sign bits as one
    // vector_dot per plane (identical left-to-right double fold) — a
    // silent divergence would quietly shift every LSH bucket
    graft.functions.GraftFunctions.register(spark)
    Tables.registerAll(spark, sf())
    import graft.operators.VectorOps
    val fused = VectorOps.sigvDfFast(spark, sf(), 16, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ps = VectorOps.planesFor(16)
    val perPlane = (0 until 16).map { p =>
      val arr = (0 until 64).map(i => ps(p * 64 + i)._3).mkString(",")
      s"CASE WHEN vector_dot(embedding, CAST(array($arr) AS ARRAY<DOUBLE>)) >= 0D THEN '1' ELSE '0' END"
    }
    val strings = spark.sql(
      s"SELECT vec_id, concat(${perPlane.mkString(",")}) AS sig FROM embeddings")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fused.keySet == strings.keySet)
    fused.foreach { case (id, bands) =>
      val expect = (0 until 4).map(t =>
        java.lang.Long.parseLong(strings(id).substring(t * 4, t * 4 + 4), 2))
      assert(bands == expect, s"vec $id: $bands != $expect (sig ${strings(id)})")
    }
  }

  test("top-k uses TakeOrderedAndProject, not a global sort") {
    val df = Tables(spark, sf(), "orders")
      .orderBy(col("o_totalprice").desc).limit(25)
    assert(plan(df).contains("TakeOrderedAndProject"))
  }

  test("semi-join subquery plans as a join, not a per-row subquery") {
    val df = SparkEntry.queries("q21_in_subquery")(spark, sf())
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(2000))
  }

  test("t21 simhash pairs: ONE signature computation, band join reuses the exchange") {
    // the signature agg (64 bit-votes per doc) is the expensive stage;
    // both band-join sides must consume ONE computed copy — a diamond
    // recompute doubles the per-word explode at any scale (the v04
    // regression class)
    val df = SparkEntry.queries("t21_simhash_pairs")(spark, sf())
    df.collect() // reuse is inserted at runtime; finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.linesIterator.takeWhile(!_.contains("Initial Plan")).mkString("\n")
    assert("ReusedExchange".r.findAllIn(finalPlan).nonEmpty,
      s"no ReusedExchange in t21 final plan:\n${finalPlan.take(2000)}")
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(finalPlan).size
    assert(scans <= 1, s"expected <=1 materialized documents scan, got $scans")
  }

  test("image near-dup candidates come from a banded equi-join, never a cartesian") {
    // the operator's 100 TB contract: band-bucket self-join (an
    // EQUI-join on (band, bval)) generates candidates; all-pairs must
    // never form — including at maxHamming=0, where the single band is
    // the full 64-bit hash (a width-masking bug once collapsed that
    // case to a constant join key, i.e. a de-facto cartesian)
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, Array[Byte](1, 2)),
        org.apache.spark.sql.Row(2L, Array[Byte](3, 4))),
      StructType(Seq(StructField("id", LongType), StructField("content", BinaryType))))
    for (k <- Seq(0, 8)) {
      val p = plan(graft.multimodal.MultimodalOps.nearDupImages(df, maxHamming = k))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"maxHamming=$k plan degenerated to all-pairs:\n${p.take(2000)}")
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
        s"maxHamming=$k candidates should come from a shuffled equi-join:\n${p.take(2000)}")
    }
  }

  test("t28 samples per stratum WITHOUT a window sort (r11 min_by(x, y, n))") {
    // the point of the 3-arg min_by: k-per-group selection as one hash
    // aggregation (O(k) state, partial merge) — the ROW_NUMBER
    // spelling's per-group sort must be absent, and the only exchange
    // is the group-by's
    val p = plan(SparkEntry.queries("t28_stratified_minby")(spark, sf()))
    assert(!p.contains("Window"), s"t28 plan fell back to a window sort:\n${p.take(2000)}")
    assert(!p.contains("Sort "), s"t28 plan sorts:\n${p.take(2000)}")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"t28: expected 1 exchange, got $exchanges:\n${p.take(2000)}")
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate"),
      s"t28 should aggregate:\n${p.take(2000)}")
  }

  test("IVF cell assignment is a max_by aggregate, never a corpus-wide window sort (r12 #3)") {
    // the corpus-wide argmax (every vector -> its best cell) must plan
    // as a hash aggregation with O(1) per-group state: partial agg
    // collapses each vector's k scored rows to one BEFORE the exchange.
    // The old row_number spelling exchanged AND sorted all N*k rows.
    val p = plan(graft.operators.VectorOps.semanticDedupAssigned(spark, sf()))
    assert(!p.contains("Window"), s"assignment fell back to a window:\n${p.take(2000)}")
    assert(!p.contains("Sort "), s"assignment path sorts:\n${p.take(2000)}")
    assert(p.contains("max_by"), s"expected max_by aggregate:\n${p.take(2000)}")
    // v10: the only windows left rank the 5-vector probe slice and the
    // final per-query top-k — the corpus-wide assignment aggregates
    val p10 = plan(SparkEntry.queries("v10_ann_ivf_pq")(spark, sf()))
    assert(p10.contains("max_by"), s"v10 assignment not max_by:\n${p10.take(2000)}")
    val wins = "Window \\[".r.findAllIn(p10).size
    assert(wins <= 2, s"v10: expected <=2 probe/topk windows, got $wins:\n${p10.take(3000)}")
    // and each surviving window ranks row_number over the probe/query
    // slice, never the corpus-wide assignment (which aggregates)
    assert(!p10.contains("SortAggregate"),
      s"v10 assignment degraded to SortAggregate:\n${p10.take(3000)}")
  }

  test("q40 frame-exclusion matrix rides ONE suppkey exchange (r11)") {
    // five exclusion columns, each decomposed into several static
    // split-frame windows — but every window orders by the same
    // (l_suppkey, rank), so the whole matrix must cost one exchange;
    // a second hashpartitioning would mean a piece re-shuffled
    val p = plan(SparkEntry.queries("q40_frame_exclude")(spark, sf()))
    val n = "Exchange hashpartitioning\\(l_suppkey".r.findAllIn(p).size
    assert(n == 1, s"q40: expected 1 suppkey exchange, got $n:\n${p.take(3000)}")
    assert(!p.contains("rangepartitioning"), s"global sort in q40:\n${p.take(2000)}")
    // the suppkey filter reaches the scan
    assert(p.contains("PushedFilters: [IsNotNull(l_suppkey), LessThanOrEqual(l_suppkey"),
      p.linesIterator.find(_.contains("PushedFilters")).getOrElse(p.take(500)).toString)
  }

  test("d07 basket self-join shuffles on the ORDER key, never on brand (r12)") {
    // the market-basket pair blow-up must stay bounded by per-order
    // line count (<= C(7,2) in TPC-H), not by brand popularity: a
    // brand-keyed exchange before the pairing join would be the skewed
    // spelling (popular brands concentrate); only the FINAL pair
    // aggregation may touch brand columns
    val p = plan(SparkEntry.queries("d07_basket_pairs")(spark, sf()))
    val orderKeyed = "Exchange hashpartitioning\\((ok|l_orderkey)".r.findAllIn(p).size
    assert(orderKeyed >= 1, s"d07: pairing join must co-locate on the order key:\n${p.take(3000)}")
    // brand-keyed exchanges are allowed ONLY on pair columns (b1, b2 —
    // the post-pairing aggregation); never on a single bare brand
    // partition count left open: hardcoding 32 made this vacuous on
    // hosts with a different SPARK_GRAFT_CPUS (review finding)
    val brandAlone = "Exchange hashpartitioning\\((b|p_brand)#\\d+, \\d+\\)".r.findAllIn(p).size
    assert(brandAlone == 0, s"d07: found a single-brand-keyed exchange (skew-prone):\n${p.take(3000)}")
    // top-20 must not globally sort: TakeOrderedAndProject
    assert(p.contains("TakeOrderedAndProject"), s"d07 global sort:\n${p.take(2000)}")
  }

  test("q41/q42 dialect lowerings plan as native Generate with zero UDFs (r12)") {
    // JSON_TABLE and UNNEST rewrite to correlated LATERAL subqueries
    // over [pos]explode — the plan must carry Catalyst's Generate, no
    // scala-UDF nodes, and no join for the lateral (decorrelated into
    // the Generate, not a nested-loop per document)
    Seq("q41_json_table", "q42_unnest_ordinality").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf()))
      assert(p.contains("Generate"), s"$q: expected a Generate node:\n${p.take(2000)}")
      assert(!p.toLowerCase.contains("scalaudf"), s"$q: UDF leaked into the plan")
      assert(!p.contains("CartesianProduct"), s"$q: lateral degenerated to a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: lateral degenerated to a nested-loop join:\n${p.take(2000)}")
    }
  }

  test("t30 pageRank rounds join the cached edge and node sets without re-shuffling them") {
    // GraftSession pins canChangeCachedPlanOutputPartitioning=false: a
    // cached relation keeps its repartition()'s HashPartitioning, so a
    // round exchanges only the new rank/contribution data. Under Spark's
    // default (true) the planner must re-shuffle above the cached scans
    // every round; the second half shows that this check sees it.
    import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.GraphOps
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val edges = spark.range(0, 60)
      .select((col("id") % 17).as("src"), ((col("id") * 7 + 3) % 17).as("dst"))
    // a cached scan, reached from an exchange through unary nodes only
    // (filters, projections): that exchange re-shuffles the cache itself
    def readsCache(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec => true
      case _: ShuffleExchangeExec => false
      case u: UnaryExecNode => readsCache(u.child)
      case _ => false
    }
    def cacheShuffles(): Int = {
      val (ed, nodes, nodesN) = GraphOps.pageRankInputs(edges)
      try {
        val rank0 = nodesN.select(col("node"), (lit(1.0) / col("n")).as("rank"))
        val plan = GraphOps.pageRankRound(ed, nodesN, rank0, 0.85).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        plan.collect { case e: ShuffleExchangeExec if readsCache(e.child) => e }.size
      } finally Seq(ed, nodes, nodesN).foreach(_.unpersist())
    }
    assert(spark.conf.get(key) == "false", s"the session no longer pins $key")
    assert(cacheShuffles() == 0)
    spark.conf.set(key, "true")
    try assert(cacheShuffles() > 0, s"$key=true should re-shuffle the cached inputs")
    finally spark.conf.set(key, "false")
  }

  test("t30 pageRank inputs: one action builds both loop-invariant caches") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import graft.operators.GraphOps
    val edges = spark.range(0, 60)
      .select((col("id") % 17).as("src"), ((col("id") * 7 + 3) % 17).as("dst"))
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          actions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    val (ed, nodes, nodesN) =
      try { val r = GraphOps.pageRankInputs(edges); org.apache.spark.ListenerDrain(sc); r }
      finally sc.removeSparkListener(l)
    try {
      // the base relation's localCheckpoint, then one count over both caches
      assert(actions.get == 2, s"${actions.get} actions")
      for (df <- Seq(ed, nodesN)) {
        val cached = spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        assert(cached.exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded),
          s"cache not built: ${df.queryExecution.logical}")
      }
    } finally Seq(ed, nodes, nodesN).foreach(_.unpersist())
  }

  /** Generated-code compilations so far, JVM-wide. */
  private def compilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The physical plan after execution (the final plan under AQE). */
  private def executed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }

  /** Filter literals of every liftable kind become parameters of the
    * generated code: for each column, the query runs with a first value,
    * then with a second that must compile no new class and return its
    * own rows. The plan explains exactly as if the literals were plain,
    * the scan still pushes the value, and only Filter/Project hold
    * ParamLiterals. `table` reads the rows; `k` is the row id. */
  private def checkLiftedFilters(table: () => org.apache.spark.sql.DataFrame): Unit = {
    import graft.engine.ParamLiteral
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
    // every column rises with k, so `c > value(k0)` holds exactly for k > k0
    val kinds: Seq[(String, Int => Any)] = Seq(
      "i" -> (k => k), "l" -> (k => k * 1000L), "d" -> (k => k * 0.5),
      "dt" -> (k => liftDay0.plusDays(k)), "ts" -> (k => liftT0.plusSeconds(k * 3600L)))
    for ((c, value) <- kinds) {
      def run(k0: Int): (Seq[Int], org.apache.spark.sql.execution.SparkPlan) = {
        val df = table().filter(col(c) > lit(value(k0))).select((col("k") + 1).as("k1"))
        (df.collect().map(_.getInt(0) - 1).sorted.toSeq, executed(df))
      }
      run(10)
      val before = compilations
      val (rows, plan) = run(25)
      assert(compilations - before == 0, s"$c: a second value compiled new classes\n$plan")
      assert(rows == (26 until 40), s"$c: $rows")
      val params = plan.collect {
        case f: FilterExec => f.condition.collect { case p: ParamLiteral => p }
        case p: ProjectExec => p.projectList.flatMap(_.collect { case p: ParamLiteral => p })
      }.flatten
      assert(params.size == 2, s"$c: expected the filter value and the projected +1\n$plan")
      assert(plan.collectLeaves().forall(_.expressions.forall(_.find(_.isInstanceOf[ParamLiteral]).isEmpty)))
      val plain = plan.transformAllExpressions { case p: ParamLiteral => p.literal }
      assert(plan.toString == plain.toString)
      assert(plan.toString.contains(s"PushedFilters: [IsNotNull($c), GreaterThan($c,"), plan.toString)
    }
  }

  private val liftDay0 = java.time.LocalDate.of(2024, 1, 1)
  private val liftT0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
  private lazy val liftRows = {
    import spark.implicits._
    (0 until 40).map(k => (k, k, k * 1000L, k * 0.5, liftDay0.plusDays(k), liftT0.plusSeconds(k * 3600L)))
      .toDF("k", "i", "l", "d", "dt", "ts")
  }

  test("raw parquet: filter literals are code parameters, the plan explains as before") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lift_pq").resolve("t").toString
    liftRows.coalesce(1).write.parquet(dir)
    checkLiftedFilters(() => spark.read.parquet(dir))
  }

  test("GraftScan: filter literals are code parameters, the plan explains as before") {
    val wh = java.nio.file.Files.createTempDirectory("graft_lift_wh").toString
    spark.conf.set("spark.sql.catalog.lift", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.lift.warehouse", wh)
    spark.sql("CREATE NAMESPACE lift.db")
    liftRows.writeTo("lift.db.t").create()
    checkLiftedFilters(() => spark.table("lift.db.t"))
  }

  test("lifted literals under AQE: an aggregate's second value compiles nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lift_aqe").resolve("t").toString
    liftRows.write.parquet(dir)
    def run(k0: Int) = {
      val df = spark.read.parquet(dir).filter(col("l") >= lit(k0 * 1000L))
        .groupBy((col("k") % 3).as("m")).agg(count(lit(1)).as("n"), sum(col("d") * 2).as("s"))
      (df.orderBy("m").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq, df)
    }
    run(5)
    val before = compilations
    val (rows, df) = run(30)
    assert(compilations - before == 0, executed(df).toString)
    val expect = (30 until 40).groupBy(_ % 3).toSeq.sortBy(_._1)
      .map { case (m, ks) => (m, ks.size.toLong, ks.map(_ * 1.0).sum) }
    assert(rows == expect, rows)
    assert(df.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
    // the filter runs inside the map stage: search through query stages
    object Stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    assert(Stages.find(df.queryExecution.executedPlan)(
      _.expressions.exists(_.find(_.isInstanceOf[graft.engine.ParamLiteral]).isDefined)).isDefined)
  }
}
