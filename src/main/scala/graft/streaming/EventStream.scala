package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.store.GraftTable

/** Structured Streaming ingestion + analytics over the `events` shape.
  *
  * Beyond-reference (SURVEY.md §2.5): walden's only recurring compute
  * is Celery-scheduled batch SQL (`tf/superset/superset_config.py:57-66`);
  * its ingestion is batch INSERT/object upload. For the 100 TB north
  * star we add the streaming path Spark-first: file-source micro-batches
  * -> event-time windows with watermarks -> parquet/graft-table sinks.
  * Every aggregation here is the streaming twin of a batch query in
  * graft.operators.EventQueries, so results are comparable.
  */
object EventStream {

  /** events parquet schema as landed by upstream producers (ts in
    * nanos-as-long matches the lake files; see graft.Tables). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // epoch nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a landing directory of parquet drops.
    * maxFilesPerTrigger bounds micro-batch size so one giant backlog
    * drop cannot blow executor memory at scale.
    */
  def readEvents(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  /** Tumbling 1h counts with 30min-late watermark: streaming twin of
    * EventQueries.e01. Watermark bounds state size — without it a
    * 100 TB stream accretes unbounded window state.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // DECIMAL(38,6) like the batch twin e01: micro-batch arrival
        // order must not change the sum's low bits
        sum(col("value").cast(DecimalType(38, 6))).cast("double").as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"), col("approx_users"))

  /** Streaming exact dedup (streaming twin of the t01 batch op):
    * duplicate event_ids are dropped within the watermark horizon.
    * dropDuplicatesWithinWatermark keys state on event_id but PURGES
    * each key once the watermark passes it — bounded state, unlike a
    * plain dropDuplicates whose key set grows with the stream. At
    * 100 TB this is the at-least-once -> exactly-once repair step
    * between a replaying source and the sink. */
  def dedupEvents(events: DataFrame, horizon: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Appends the t02 minhash signature as a `sig` column (narrow, no
    * shuffle). The shingle spelling and the 16-lane derivation are the
    * SHARED definitions in `graft.operators.TextOps` (`shingleSql`,
    * `minhashLanes`) — one source of truth for batch and stream, with a
    * parity test in StreamingSpec. Fallbacks: sub-3-word docs get an
    * exact content hash (`raw:`-prefixed, over the LOWERCASED text so
    * normalization matches the shingle path); NULL text gets a
    * per-document unique key (`null:<doc_id>`) so unfingerprintable
    * rows are never deduped against each other. */
  def docSignature(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession) // word_grams
    docs
      .withColumn("ws", split(lower(col("text")), " "))
      .withColumn("sh", expr(graft.operators.TextOps.shingleSql))
      // one md5 per shingle (multi-ref non-cheap expr stays un-inlined)
      .withColumn("hd", expr("transform(sh, t -> md5(t))"))
      .withColumn("sig",
        when(col("text").isNull, concat(lit("null:"), col("doc_id").cast("string")))
          .when(size(col("sh")) === 0, concat(lit("raw:"), md5(lower(col("text")))))
          .otherwise(concat_ws("|",
            graft.operators.TextOps.minhashLanes(col("hd")): _*)))
      .drop("ws", "sh", "hd")
  }

  /** Streaming near-dup filter over a document stream — the cheap first
    * stage of a training-data ingest pipeline: documents whose minhash
    * signature was already seen inside the watermark horizon are
    * dropped at ingest; the batch LSH band join (t02) and cluster
    * resolution (t14) remain the full near-dup sweep over the landed
    * corpus.
    *
    * Signature equality is a HEURISTIC, not a jaccard proof: the 16
    * lanes are 4 rotations of 4 disjoint 32-bit md5 lanes, so full-
    * signature collision overwhelmingly implies a (near-)identical
    * shingle set, but a false collision permanently drops a document
    * the batch pipeline would have kept after exact verification.
    * Deploy this stage when ingest volume makes at-ingest thinning
    * worth that (quantifiable, tiny) loss; route around it when every
    * document must survive to the batch sweep. State is keyed on the
    * signature and PURGED as the watermark passes — bounded, like
    * dedupEvents.
    *
    * Input columns: (doc_id, ts timestamp, text); output keeps them
    * plus `sig` (provenance for the landed table).
    */
  def nearDedupDocs(docs: DataFrame, horizon: String = "30 minutes"): DataFrame =
    docSignature(docs)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("sig")

  /** Ceiling on the eval-gram set [[decontaminateDocs]] materializes
    * per executor (~50 B/gram -> ~1 GB at the cap): an ingest filter's
    * reference suite must be executor-memory-sized by contract; a
    * bigger suite belongs to the batch bloom regime
    * ([[graft.operators.TextOps.decontaminate]]), not stream-side. */
  val MaxIngestEvalGrams: Int = 20 * 1000 * 1000

  /** Ingest-time decontamination — the streaming twin of
    * [[graft.operators.TextOps.decontaminate]]: flag documents sharing
    * >= 5 distinct word 5-grams with a STATIC held-out eval set as
    * they land. Entirely STATELESS and map-side: no watermark, no
    * join, no streaming aggregation — each doc's grams probe the eval
    * set through ONE codegen'd kernel
    * ([[graft.functions.GramOverlapCount]]) whose hash set
    * materializes once per task, so per-doc cost is O(|doc grams|)
    * and EXACT (the batch op's broadcast-join equality, without the
    * join).
    *
    * Output: input columns + exact `n_overlap` and `contaminated`.
    * Gram spelling is the batch operator's
    * ([[graft.operators.TextOps.wordFiveGramArraySql]]); parity with
    * the batch op is asserted in StreamingSpec. The eval suite is
    * collected to the driver once at construction (eager, like the
    * batch bloom regime) and guarded by [[MaxIngestEvalGrams]].
    *
    * Why not a bloom prescreen here: a first spelling rode
    * `aggregate(grams, (a, g) -> a + IF(might_contain(bf, g), 1, 0))`
    * and measured ~5 ms/doc — HOF lambdas evaluate interpreted and
    * re-instantiate the bound body per ELEMENT, re-deserializing the
    * bloom literal each time. With an O(1) exact per-gram probe the
    * bloom adds nothing at ingest suite sizes; its place is the batch
    * regime, where the 60x-smaller bitset is the point. */
  def decontaminateDocs(docs: DataFrame, evalGrams: DataFrame): DataFrame = {
    import graft.operators.TextOps
    graft.functions.GraftFunctions.register(docs.sparkSession) // word_grams
    // internal plumbing uses reserved names; caller columns that would
    // be clobbered (or silently dropped) are rejected loudly instead
    val taken = docs.columns.filter(c =>
      c.startsWith("__graft_") || c == "n_overlap" || c == "contaminated")
    require(taken.isEmpty,
      s"decontaminateDocs: input columns ${taken.mkString(",")} collide with " +
        "the op's output/plumbing names (__graft_* reserved; n_overlap, " +
        "contaminated are outputs) — rename them first")
    // a NULL gram row in a caller-built eval frame matches nothing in
    // the batch join regimes; drop it here too instead of NPE'ing
    val eg = evalGrams.select("g").where(col("g").isNotNull).distinct()
    val rows = eg.limit(MaxIngestEvalGrams + 1).collect()
    require(rows.length <= MaxIngestEvalGrams,
      s"decontaminateDocs: eval suite exceeds $MaxIngestEvalGrams distinct grams — " +
        "an ingest filter's reference set must be executor-memory-sized; " +
        "run the batch bloom regime (TextOps.decontaminate) instead")
    val bytes = rows.map(_.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val overlap = org.apache.spark.sql.GraftSparkInternals.column(
      graft.functions.GramOverlapCount(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("__graft_dct_grams"),
        bytes))
    docs
      .withColumn("__graft_dct_ws", split(lower(col("text")), " "))
      .withColumn("__graft_dct_grams", when(size(col("__graft_dct_ws")) >= 5,
        expr(TextOps.wordFiveGramArraySqlOver("__graft_dct_ws")))
        .otherwise(array().cast("array<string>")))
      .withColumn("n_overlap", overlap)
      .withColumn("contaminated", col("n_overlap") >= 5)
      .drop("__graft_dct_ws", "__graft_dct_grams")
  }

  /** Streaming decontamination sized by the SUITE, not the caller, so
    * a suite that outgrows the inline kernel degrades instead of
    * failing: counts the eval grams once and routes —
    * at or under `maxInlineGrams` the stateless exact-kernel tier
    * ([[decontaminateDocs]]) lands each micro-batch through the normal
    * parquet sink; past it the stream DEGRADES to the batch bloom
    * regime per micro-batch via foreachBatch instead of erroring: the
    * bloom builds ONCE at construction (the same
    * [[graft.operators.TextOps.bloomBytesFor]] sizing as the batch
    * t24 plan), the distinct eval grams persist PRE-CLUSTERED on `g`
    * so every batch's verify join reuses the cached distribution
    * rather than re-shuffling the suite, and each batch's flagged rows
    * append to `outDir` with the SAME output schema as the inline tier
    * (all input columns + exact `n_overlap` + `contaminated` —
    * no-overlap docs kept with 0/false, unlike the batch operator
    * whose output is overlap-only).
    *
    * The costs are honest: the over-ceiling tier is eager at
    * construction (distinct + count + bloom build — the batch regime's
    * own contract) and pays one bloom-thinned shuffled join per
    * micro-batch, so at 100M grams a LONG trigger interval is the
    * right operating point. Delivery: the inline tier lands through
    * Spark's exactly-once file sink; this tier appends from
    * foreachBatch, which is at-least-once (a replayed batch lands its
    * identical rows again, into an append-dedupable landing zone);
    * route into a GraftTable with [[writeGraftTable]]'s labeled
    * commits when exactly-once is required. */
  def decontaminateDocsToParquet(
      docs: DataFrame, evalGrams: DataFrame,
      outDir: String, checkpointDir: String,
      maxInlineGrams: Int = MaxIngestEvalGrams,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.operators.TextOps
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // reserved-column guard for BOTH tiers at construction: without
    // it the bloom tier would fail only at the first micro-batch, with
    // an ambiguous-reference AnalysisException
    val taken = docs.columns.filter(c =>
      c.startsWith("__graft_") || c == "n_overlap" || c == "contaminated")
    require(taken.isEmpty,
      s"decontaminateDocsToParquet: input columns ${taken.mkString(",")} " +
        "collide with the op's output/plumbing names (__graft_* reserved; " +
        "n_overlap, contaminated are outputs) — rename them first")
    val eg = evalGrams.select("g").where(col("g").isNotNull).distinct()
    val n = eg.count()
    val tier = if (n <= maxInlineGrams) "inline" else "bloom"
    // tier pin: the tier is chosen from the SUITE SIZE at
    // construction, but the two tiers deliver differently (exactly-once
    // file sink vs at-least-once foreachBatch append). Restarting a
    // checkpoint whose suite has since crossed the ceiling would
    // silently switch the same outDir between semantics — pin the
    // first choice in the checkpoint and fail loudly on a mismatch.
    // (locally: a bare block after the val above would parse as an
    // application of its else-branch expression)
    locally {
      val ckptPath = new org.apache.hadoop.fs.Path(checkpointDir)
      val fs = ckptPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(ckptPath, "graft-decontam-tier")
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        val prev = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        require(prev == tier,
          s"decontaminateDocsToParquet: this checkpoint ran the '$prev' tier " +
            s"but the eval suite now sizes to '$tier' ($n grams vs ceiling " +
            s"$maxInlineGrams) — the tiers deliver differently (exactly-once " +
            "file sink vs at-least-once append), so a mid-stream switch " +
            "would mix semantics in one outDir; restart with a fresh " +
            "outDir + checkpoint")
      } else {
        fs.mkdirs(ckptPath)
        val out = fs.create(marker, true)
        try out.write(tier.getBytes("UTF-8")) finally out.close()
      }
    }
    if (tier == "inline")
      writeParquet(decontaminateDocs(docs, evalGrams), outDir, checkpointDir, trigger)
    else {
      // pre-cluster the suite on the join key and cache: per-batch
      // verify joins reuse the cached distribution (no per-trigger
      // re-shuffle of the 100M-gram side)
      val egClustered = eg
        .repartition(spark.sparkContext.defaultParallelism, col("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bf = TextOps.bloomBytesFor(egClustered, n)
      docs.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val grams = batch
            .selectExpr("doc_id", "split(lower(text), ' ') AS __graft_dct_ws")
            .filter(size(col("__graft_dct_ws")) >= 5)
            .selectExpr("doc_id",
              s"explode(${graft.operators.TextOps.wordFiveGramArraySqlOver("__graft_dct_ws")}) AS g")
          val survivors = grams.filter(
            call_function("might_contain", lit(bf), col("g")))
          val hits = survivors.join(egClustered.hint("shuffle_hash"), "g")
            .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
          // INT n_overlap — the routing entry point's schema must not
          // depend on which tier ran (the inline kernel emits int) —
          // and neither must the COLUMN ORDER (the using-join moves
          // doc_id first, so one outDir could mix orderings across
          // tiers): input columns in input order,
          // then the two outputs, exactly like the inline tier
          batch.join(hits, Seq("doc_id"), "left")
            .withColumn("n_overlap",
              coalesce(col("n_overlap"), lit(0L)).cast("int"))
            .withColumn("contaminated", col("n_overlap") >= 5)
            .select(batch.columns.map(col) :+ col("n_overlap")
              :+ col("contaminated"): _*)
            .write.mode("append").parquet(outDir)
        }
        .start()
    }
  }

  /** Ceiling on the eval suite [[decontaminateEmbeddings]] carries per
    * executor (~0.5 KB/vector at dim 64 -> ~10 MB at the cap, and the
    * real bound is compute: per-row cost is |suite| x dim
    * multiply-adds, ~1.3M at the cap — ~1 ms/row). A bigger suite
    * belongs to the batch banded regime
    * ([[graft.operators.VectorOps.semanticDecontaminateBanded]]),
    * whose candidate work scales with band collisions instead. */
  val MaxIngestEvalVecs: Int = 20000

  /** Ingest-time SEMANTIC decontamination — the streaming twin of
    * [[graft.operators.VectorOps.semanticDecontaminate]] and the
    * embedding-space sibling of [[decontaminateDocs]]: flag rows whose
    * `embedding` lies within cosine `threshold` of ANY vector in a
    * STATIC held-out eval suite as they land — the leakage mode
    * (paraphrase, translation, format shuffle) n-gram probes cannot
    * see. Entirely STATELESS and map-side: no watermark, no join, no
    * streaming aggregation — the whole per-row sweep folds inside ONE
    * codegen'd kernel ([[graft.functions.CosineHits]]) whose suite
    * materializes once per task, so rows ride an append-mode stream
    * untouched and the plan stays a single Project.
    *
    * Output: input columns + `n_hits` (eval vectors at or past the
    * threshold), `first_hit` (smallest hitting eval vec_id, null when
    * clean), `max_eval_cos` (strongest cosine, null when
    * clean), `contaminated`. Unlike the batch operator — whose output
    * is the contaminated set only — every row passes through flagged,
    * the ingest-filter contract. Arithmetic matches the batch regime
    * bit for bit (see the kernel's scaladoc); parity is asserted in
    * StreamingSpec. The eval suite (`vec_id`, `embedding`) collects to
    * the driver once at construction (eager, like the batch regimes),
    * zero-norm eval vectors — which can contaminate nothing — are
    * dropped, and the count is guarded by [[MaxIngestEvalVecs]]. */
  def decontaminateEmbeddings(vecs: DataFrame, evalSet: DataFrame,
                              threshold: Double): DataFrame = {
    val taken = vecs.columns.filter(c => c.startsWith("__graft_") ||
      c == "n_hits" || c == "first_hit" || c == "max_eval_cos" || c == "contaminated")
    require(taken.isEmpty,
      s"decontaminateEmbeddings: input columns ${taken.mkString(",")} collide " +
        "with the op's output/plumbing names (__graft_* reserved; n_hits, " +
        "first_hit, max_eval_cos, contaminated are outputs) — rename them first")
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val rows = evalSet
      .selectExpr("vec_id", "embedding",
        "coalesce(vector_dot(embedding, embedding), CAST(0 AS DOUBLE)) AS n2")
      .filter(col("n2") > 0)
      .select("vec_id", "embedding")
      .limit(MaxIngestEvalVecs + 1).collect()
    require(rows.length <= MaxIngestEvalVecs,
      s"decontaminateEmbeddings: eval suite exceeds $MaxIngestEvalVecs vectors — " +
        "an ingest filter's reference suite must be executor-memory-sized; " +
        "run the batch banded regime (VectorOps.semanticDecontaminateBanded) " +
        "instead")
    // sorted by id: the kernel's first hit in scan order IS min(id)
    val sorted = rows.map { r =>
      val v = r.getSeq[Any](1).map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case other => sys.error(s"decontaminateEmbeddings: non-numeric " +
          s"embedding element $other in eval vec_id ${r.getLong(0)}")
      }.toArray
      r.getLong(0) -> v
    }.sortBy(_._1)
    val hitsExpr = org.apache.spark.sql.GraftSparkInternals.column(
      graft.functions.CosineHits(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("embedding"),
        sorted.map(_._1), sorted.map(_._2), threshold))
    vecs
      .withColumn("__graft_sdc", hitsExpr)
      .withColumn("n_hits", coalesce(col("__graft_sdc.n_hits"), lit(0L)))
      .withColumn("first_hit", col("__graft_sdc.first_hit"))
      .withColumn("max_eval_cos", round(col("__graft_sdc.max_cos"), 6))
      .withColumn("contaminated", col("n_hits") > 0)
      .drop("__graft_sdc")
  }

  /** Incremental EXACT near-dup at ingest against a GROWING signature
    * index — the streaming twin of the batch LSH sweep
    * (t02), not just the signature-equality thinning of
    * [[nearDedupDocs]]: each micro-batch's documents compute the t02
    * fused signature (`shingle_sig`: shingle count, sorted xxhash
    * fingerprints, 16 minhash lanes), probe a persistent band-bucket
    * index (a [[graft.store.GraftTable]]) for candidates, verify
    * EXACT shingle jaccard >= `threshold` against the stored
    * fingerprints with the codegen'd sorted-merge kernel, and land
    * every document flagged: `is_dup`, `dup_of` (the best-matching
    * earlier doc), `jaccard` (nullable on keepers). Same signature,
    * band grouping and verify math as t02, so a doc is flagged iff
    * the batch sweep would pair it with some earlier document.
    *
    * Ordering contract: "earlier" = landed in an earlier micro-batch,
    * or — within one batch — has the smaller doc_id (arrival order
    * does not exist inside a batch). ALL sigable docs enter the index,
    * dups included: jaccard is not transitive, so a later doc may
    * match a dropped dup without matching its keeper — indexing
    * everything keeps exact matches-any-earlier semantics (the
    * keeper-only index would silently lose those). Sub-3-word and
    * null-text docs have no shingles: never dups, never indexed.
    *
    * Scale shape: the probe is batch-bands x index-bands on band_key —
    * a SHUFFLE_HASH join whose build side is the BATCH (small), with
    * the index streamed through; each band row carries the doc's n+hs
    * so verification needs NO second join (a deliberate 4x storage
    * trade, ~2 KB/doc, vs t02's two-phase join — the probe side here
    * is batch-sized, not corpus-sized). Cost per trigger is one index
    * scan; size triggers accordingly at corpus scale (the same
    * batch-regime contract as [[decontaminateDocsToParquet]]'s bloom
    * tier).
    *
    * Exactly-once: both sinks are versioned tables with labeled
    * commits (the [[writeGraftTable]] mechanism); the index append is
    * LAST, so a replayed batch re-probes the same pre-batch index and
    * re-lands identical flags before (re)committing the index rows —
    * each table skips the batch if it already holds it.
    *
    * Index maintenance: every
    * `compactEvery` batches the band index runs an INCREMENTAL
    * small-file sweep ([[graft.store.GraftTable.compact]] with
    * `onlyFilesSmallerMB`) — per-trigger appends are tiny files, and
    * without consolidation the probe's per-batch index scan pays one
    * task + footer read per historical trigger, a per-batch cost that
    * grows with batch NUMBER rather than index SIZE. The sweep merges
    * only sub-threshold files (a byte is re-touched only until its
    * file first crosses the threshold — O(index) total over the
    * stream's life, not O(index) per cadence), its "compact" commit
    * carries no batch label so replay dedup is untouched, and it runs
    * only when this batch's append actually applied (a replayed batch
    * never re-compacts). `compactEvery = 0` disables. */
  def nearDupDocsIndexed(
      docs: DataFrame,
      indexRoot: String,
      outRoot: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 16,
      compactSmallFileMB: Int = 64): StreamingQuery = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val taken = docs.columns.filter(c =>
      c.startsWith("__graft_") || Set("is_dup", "dup_of", "jaccard")(c))
    require(taken.isEmpty,
      s"nearDupDocsIndexed: input columns ${taken.mkString(",")} collide with " +
        "the op's output/plumbing names — rename them first")
    val indexSchema = StructType(Seq(
      StructField("band_key", StringType), StructField("doc_id", LongType),
      StructField("n", IntegerType), StructField("hs", ArrayType(LongType))))
    val bandExpr =
      """explode(transform(sequence(0, 3),
           b -> concat(b, ':', sl[b], '|', sl[b+4], '|', sl[b+8], '|', sl[b+12]))) AS band_key"""
    labeledSink(docs, "neardup", checkpointDir, trigger) { (batch, label) =>
      val sigs = batch
        .withColumn("ws", split(lower(col("text")), " "))
        .withColumn("__graft_sh", expr(graft.operators.TextOps.shingleSql))
        .drop("ws")
        .withColumn("__graft_sig",
          when(size(col("__graft_sh")) > 0,
            call_function("shingle_sig", col("__graft_sh"), lit(false), lit(true))))
        .drop("__graft_sh")
        .localCheckpoint() // probe + bands + flags read ONE computation
      val bands = sigs
        .filter(col("__graft_sig").isNotNull)
        .selectExpr("doc_id", "__graft_sig.n AS n", "__graft_sig.hs AS hs",
          "__graft_sig.sl AS sl")
        .selectExpr("doc_id", "n", "hs", bandExpr)
        .select("band_key", "doc_id", "n", "hs")
      val outT = loadOrCreate(spark, outRoot, sigs.drop("__graft_sig").schema
        .add("is_dup", BooleanType).add("dup_of", LongType)
        .add("jaccard", DoubleType))
      val idxT = loadOrCreate(spark, indexRoot, indexSchema)
      def verify(cand: DataFrame): DataFrame = cand
        .withColumn("__graft_ni",
          call_function("sorted_intersect_size", col("hs"), col("hs_e")))
        .withColumn("jaccard", col("__graft_ni").cast("double") /
          (col("n") + col("n_e") - col("__graft_ni")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_id"), col("doc_e").as("dup_of"), col("jaccard"))
      // earlier = previous batches (the index) OR smaller doc_id in
      // THIS batch; candidates dedup per (doc, earlier-doc) pair
      val idxSide = idxT.read()
        .select(col("band_key"), col("doc_id").as("doc_e"),
          col("n").as("n_e"), col("hs").as("hs_e"))
      val fromIndex = bands.hint("shuffle_hash")
        .join(idxSide, "band_key")
        .select("doc_id", "n", "hs", "doc_e", "n_e", "hs_e").distinct()
      val fromBatch = bands.hint("shuffle_hash")
        .join(bands.select(col("band_key"), col("doc_id").as("doc_e"),
          col("n").as("n_e"), col("hs").as("hs_e")), "band_key")
        .filter(col("doc_e") < col("doc_id"))
        .select("doc_id", "n", "hs", "doc_e", "n_e", "hs_e").distinct()
      val dups = verify(fromIndex.union(fromBatch))
        .withColumn("__graft_rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(col("jaccard").desc, col("dup_of"))))
        .filter(col("__graft_rk") === 1).drop("__graft_rk")
      val flagged = sigs.drop("__graft_sig")
        .join(dups, Seq("doc_id"), "left")
        .withColumn("is_dup", col("dup_of").isNotNull)
      outT.appendLabeled(flagged, Some(label))
      if (!bands.isEmpty && idxT.appendLabeled(bands, Some(label)) &&
          compactEvery > 0 && label.batchId % compactEvery == compactEvery - 1)
        idxT.compact(onlyFilesSmallerMB = Some(compactSmallFileMB))
    }
  }

  /** STREAMING VECTOR-INDEX MAINTENANCE: append arriving
    * (vec_id, embedding) rows into a built [[graft.operators.VectorIndex]]
    * at ingest — cell assignment against the index's frozen centroids,
    * int8 codes, and (when the index carries a PQ layer) PQ codes into
    * the bucketed codes table, all per micro-batch. Exactly-once by
    * labeled commits: each of the index's tables dedups a replayed
    * batch independently (inside [[graft.operators.VectorIndex.append]]),
    * so a crash between the two appends re-applies only the missing
    * one. Stateless — no watermark, no aggregation state; the index
    * tables ARE the state, versioned and time-travelable like every
    * GraftTable sink. At 100 TB this is the serving story's other
    * half: vectors become searchable within one trigger of arriving,
    * and searchPq's bucket pruning survives because appends route
    * through the store's bucket-clustered writer.
    *
    * `maintainEvery > 0` (the near-dup index's compactEvery pattern):
    * every N APPLIED batches, run [[VectorIndex.maintain]] —
    * re-cluster the assignments layout on cent_id and compact the
    * codes buckets — because each micro-batch lands its own files and
    * probe-time file pruning decays with the append count (measured:
    * SCALE.md (ab)). Maintenance is idempotent and versioned like
    * any commit, and a replayed batch that appends nothing skips the
    * re-layout. */
  def indexVectorsStream(
      vectors: DataFrame,
      indexRoot: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maintainEvery: Int = 0): StreamingQuery = {
    val idx = graft.operators.VectorIndex.load(vectors.sparkSession, indexRoot)
    labeledSink(vectors, "vecidx", checkpointDir, trigger) { (batch, label) =>
      val n = idx.append(batch, op = Some(label.op), opFamily = Some(label.prefixes.head))
      if (n > 0 && maintainEvery > 0 && label.batchId % maintainEvery == maintainEvery - 1)
        idx.maintain()
    }
  }

  /** STREAMING TEXT-INDEX MAINTENANCE: append arriving
    * (doc_id, text) rows into a built [[graft.operators.TextIndex]] at
    * ingest — postings through the bucket-clustered writer (query-time
    * bucket pruning survives), one corpus-stats increment row per
    * batch. Exactly-once by labeled commits (each index table dedups a
    * replayed batch independently — the indexVectorsStream protocol);
    * stateless, the index tables ARE the state. Docs become
    * retrievable by [[graft.operators.TextIndex.bm25TopK]] within one
    * trigger of arriving. `maintainEvery > 0` compacts on the same
    * cadence contract as the vector index. */
  def indexDocsStream(
      docs: DataFrame,
      indexRoot: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maintainEvery: Int = 0): StreamingQuery = {
    val idx = graft.operators.TextIndex.load(docs.sparkSession, indexRoot)
    labeledSink(docs, "txtidx", checkpointDir, trigger) { (batch, label) =>
      val n = idx.append(batch, op = Some(label.op), opFamily = Some(label.prefixes.head))
      if (n > 0 && maintainEvery > 0 && label.batchId % maintainEvery == maintainEvery - 1)
        idx.maintain()
    }
  }

  /** Stream-static enrichment join: the static dimension is re-planned
    * per micro-batch (broadcast when it fits), carries no streaming
    * state, and picks up dimension updates between batches — the
    * standard lookup-enrichment shape. */
  def enrich(events: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Stream-stream interval join: purchases within 1h after a view by
    * the same user. Both sides are watermarked and the join condition
    * bounds event-time distance, so each side's buffered state is
    * purged once the watermark passes the interval — the only join
    * shape that survives an unbounded pair of streams. */
  def viewToPurchase(events: DataFrame, horizon: String = "30 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("value").as("view_value"))
      .withWatermark("view_ts", horizon)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", horizon)
    views.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_ts"), col("purchase_ts"),
        col("view_value"), col("purchase_value"))
  }

  // ------------------------------------------------------------------
  // streaming as-of enrichment (streaming twin of AsOfJoin / e07)
  // ------------------------------------------------------------------
  final case class AsOfEvent(event_id: Long, user_id: Long, event_type: String,
      sec: Long, value: Double)
  final case class AsOfState(lastSec: Long, lastVal: Double)
  final case class AsOfOut(event_id: Long, user_id: Long, event_type: String, sec: Long,
      last_purchase_sec: Option[Long], last_purchase_value: Option[Double])

  /** Each event carries the user's most recent purchase AT OR BEFORE it
    * (inclusive, max value on sec ties) — the streaming twin of batch
    * e07, with O(1) state per user instead of a window sort.
    *
    * Exactness contract: events are processed in event-time order
    * WITHIN each micro-batch (the per-group sort below) and batches
    * are assumed time-ordered ACROSS triggers (a time-partitioned
    * landing zone delivers this). A late-arriving event can observe
    * purchase state newer than itself — the standard streaming
    * enrichment trade; exact retro-correction is the batch operator's
    * job. State never times out here (one tuple per user — bounded by
    * the user population, not the stream); a deployment with churning
    * keys adds a ProcessingTimeTimeout eviction.
    */
  def asofEnrich(events: DataFrame): Dataset[AsOfOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      .as[AsOfEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfState]) =>
          var st = state.getOption
          val out = Seq.newBuilder[AsOfOut]
          // process second-by-second so every event at sec S (purchases
          // included) sees ALL purchases at S — batch e07's inclusive,
          // max-on-tie semantics
          rows.toSeq.groupBy(_.sec).toSeq.sortBy(_._1).foreach { case (sec, group) =>
            val purchVals = group.filter(_.event_type == "purchase").map(_.value)
            if (purchVals.nonEmpty) {
              val v = purchVals.max
              st = st match {
                case Some(s) if s.lastSec == sec => Some(AsOfState(sec, math.max(s.lastVal, v)))
                case _ => Some(AsOfState(sec, v))
              }
            }
            group.foreach(e => out += AsOfOut(e.event_id, e.user_id, e.event_type, e.sec,
              st.map(_.lastSec), st.map(_.lastVal)))
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Sliding 1h/30min windows (twin of e05). */
  def slidingValue(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 6))).cast("double").as("total_value"))
      .select(col("window.start").as("win_start"), col("n"), col("total_value"))

  // ------------------------------------------------------------------
  // custom state: sessionization via flatMapGroupsWithState
  // ------------------------------------------------------------------
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long, totalValue: Double)
  final case class SessionOut(user_id: Long, sessionStartMicros: Long,
      sessionEndMicros: Long, nEvents: Long, totalValue: Double)

  /** 30-min-gap sessions with event-time timeout — the stateful
    * operator walden has no analogue for; state is per-user and evicted
    * on timeout, so memory is O(active users), not O(events).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    // keep the watermarked `ts` column itself through the projection:
    // deriving a new column would drop the event-time tag and the
    // stateful operator's event-time timeout would be rejected.
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.lastSeen, s.nEvents, s.totalValue))
          } else {
            // full microsecond precision: getTime is millis-truncated,
            // the sub-ms micros live in getNanos
            val sorted = rows.toSeq
              .map(e => (e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L, e.value))
              .sortBy(_._1)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { case (tsMicros, value) =>
              cur match {
                case Some(s) if tsMicros - s.lastSeen <= gapMicros =>
                  cur = Some(s.copy(lastSeen = tsMicros, nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + value))
                case Some(s) =>
                  closed ::= SessionOut(user, s.start, s.lastSeen, s.nEvents, s.totalValue)
                  cur = Some(SessionState(tsMicros, tsMicros, 1L, value))
                case None =>
                  cur = Some(SessionState(tsMicros, tsMicros, 1L, value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen / 1000L + gapMinutes * 60L * 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Land a stream into parquet with checkpointing (exactly-once file
    * sink). Partitioned by event_type so downstream scans prune. */
  def writeParquet(df: DataFrame, outDir: String, checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .start()

  /** Land a stream into a versioned GraftTable: each micro-batch is one
    * atomic, time-travelable commit (streaming ingestion into the
    * snapshot layer — the capability walden would need Iceberg's
    * streaming writer for).
    *
    * Exactly-once: foreachBatch alone is at-least-once (a crash after
    * the table commit but before the checkpoint records the batch
    * replays it). Each commit therefore carries the (sink, batchId)
    * label, and the store skips a replayed batch whose label has
    * committed — checked before the batch is written and again
    * atomically with the commit ([[labeledSink]]) — the same batch-id
    * dedup Spark's file sink keeps in _spark_metadata.
    */
  def writeGraftTable(df: DataFrame, table: GraftTable,
                      checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // tables written before the SHA-256 sink id carried labels keyed by
    // the checkpoint path's 32-bit hashCode; they stay in the dedup
    // domain, or a replayed batch on an upgraded pipeline would append
    // twice
    val legacyPrefix =
      s"stream-append:${java.lang.Integer.toHexString(checkpointDir.hashCode)}:"
    labeledSink(df, "append", checkpointDir, trigger, legacyPrefixes = Seq(legacyPrefix)) {
      (batch, label) => table.appendLabeled(batch, Some(label))
    }
  }

  /** Start a foreachBatch sink whose commits are exactly-once per
    * micro-batch: `commit` receives each non-empty batch with its
    * [[GraftTable.BatchLabel]] (`stream-<kind>:<sinkId>:<batchId>`,
    * `legacyPrefixes` also honored) and makes its table commits under
    * that label. The store skips a labeled commit when the batch, or a
    * later one of the same sink, has committed: once before the write
    * or merge runs a job, and again atomically with the commit, so a
    * batch Spark replays after a crash between the table commit and
    * the checkpoint lands nothing twice. An empty micro-batch commits
    * nothing. */
  private def labeledSink(df: DataFrame, kind: String, checkpointDir: String,
                          trigger: Trigger, mode: OutputMode = OutputMode.Append(),
                          legacyPrefixes: Seq[String] = Nil)(
      commit: (DataFrame, GraftTable.BatchLabel) => Unit): StreamingQuery = {
    val prefixes = s"stream-$kind:${sinkId(checkpointDir)}:" +: legacyPrefixes
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode(mode)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) commit(batch, GraftTable.BatchLabel(prefixes, batchId))
      }
      .start()
  }

  /** Collision-resistant sink identity: two sinks on the same table
    * whose checkpoint paths collided in 32-bit hashCode would dedupe
    * each other's (sinkId, batchId) labels and silently drop batches. */
  private def sinkId(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpointDir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** The graft table at `root`, created empty with `schema` only when no
    * table exists there: a corrupt existing table fails loudly in load
    * instead of being papered over by a fresh create on top of it. */
  private def loadOrCreate(spark: SparkSession, root: String, schema: StructType): GraftTable =
    try GraftTable.load(spark, root)
    catch {
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("no graft table") =>
        GraftTable.create(spark, root,
          spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
    }

  /** STREAMING SKETCH-STATS TABLE: maintain the per-day sketch-column
    * table (the SCALE.md (u) reporting pattern) AT INGEST —
    * one streaming aggregation whose per-day state IS the mergeable
    * sketches (qdigest of `valueCol`, setdigest of `idCol`, row count),
    * upserted into a versioned GraftTable after every trigger. Readers
    * answer "p99 / distinct ids over any date window" by merging
    * O(days) stats rows — the fact stream is never rescanned, and the
    * table stays time-travelable like every GraftTable sink.
    *
    * Runs in UPDATE output mode: each trigger emits only the days whose
    * sketches changed, and the merge-by-day replaces exactly those rows
    * (the same labeled exactly-once merge and NULL-safe key rule as
    * [[upsertGraftTable]] — the store skips a replayed batch's merge
    * before any job; a NULL day is one row). No watermark by
    * design: a late fact must still fold into its day's sketch, so the
    * aggregation state is O(days × sketch size) — bounded by the
    * calendar, not the stream (document: ~1 MB/day at the default ks).
    *
    * Parity contract (StreamingSpec): after the stream drains, every
    * day row equals the batch `groupBy(day)` of the same rows — the
    * sketches are TypedImperativeAggregates, so their streamed state is
    * the same object batch aggregation builds (setdigest bit-identical
    * always; qdigest bit-identical below n<k).
    */
  def sketchStatsTable(rows: DataFrame, dayCol: String, valueCol: String,
                       idCol: String, tableRoot: String, checkpointDir: String,
                       qdigestK: Int = 65536, setK: Int = 8192,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = rows.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val agg = rows
      .groupBy(to_date(col(dayCol)).as("day"))
      .agg(expr(s"qdigest_agg($valueCol, $qdigestK)").as("value_qd"),
        expr(s"make_set_digest($idCol, $setK)").as("id_sd"),
        count(lit(1)).as("n"))
    val table = loadOrCreate(spark, tableRoot, agg.schema)
    labeledSink(agg, "stats", checkpointDir, trigger, OutputMode.Update()) { (batch, label) =>
      table.merge(batch, Seq("day"), label, upsertKeyMatch)
    }
  }

  /** The key rule of the streaming upsert sinks: target key `k` matches
    * the prefixed source key NULL-safely (`<=>`). */
  private def upsertKeyMatch(k: String): Column =
    col(k) <=> col(GraftTable.MergeSourcePrefix + k)

  /** UPSERT a stream into a versioned GraftTable: each micro-batch is
    * one atomic copy-on-write MERGE commit keyed on `keyCols` — CDC
    * ingestion into the snapshot layer (the Iceberg `MERGE INTO` +
    * structured-streaming loop walden's stack hand-assembles). New keys
    * insert; matched keys take the batch's row, and every snapshot
    * stays time-travelable.
    *
    * `sequenceCol` (strongly recommended for CDC) makes ordering a
    * TABLE-LEVEL guarantee, not a per-batch one: the column must exist
    * in the table, in-batch collisions keep the highest sequence, and
    * matched rows update ONLY when the incoming sequence is higher than
    * the stored one — so a late/backfilled batch can never regress a
    * newer row (the merge condition compares against the TARGET's
    * sequence, not just within the batch). Without it, duplicate keys
    * in one batch fail loudly (merge cardinality check) and matched
    * keys take the batch's row unconditionally.
    *
    * Keys match NULL-safely in both modes ([[upsertKeyMatch]]): a NULL
    * key is one key like any other, so a batch row with a NULL key
    * updates the stored NULL-key row instead of inserting another. (The
    * table API's keyed `merge` keeps SQL's `=`, where a NULL key never
    * matches.)
    *
    * Exactly-once mirrors [[writeGraftTable]]: each merge commit
    * carries a (sink, batchId) label; a crash between the table commit
    * and the checkpoint replays the batch, whose merge the store skips
    * before any job because the newest commit of this sink already
    * carries its batch id. Merge commits REMOVE files, which does not
    * matter to the dedup: it reads labels, and they stay monotone in
    * batchId along the history. */
  def upsertGraftTable(df: DataFrame, table: GraftTable,
                       keyCols: Seq[String], checkpointDir: String,
                       sequenceCol: Option[String] = None,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    sequenceCol.foreach(s => require(table.schema.fieldNames.contains(s),
      s"sequenceCol '$s' must be a table column (the ordering guarantee " +
        "compares incoming rows against the STORED sequence)"))
    labeledSink(df, "merge", checkpointDir, trigger) { (batch, label) =>
      sequenceCol match {
        case None =>
          table.merge(batch, keyCols, label, upsertKeyMatch)
        case Some(seq) =>
          // latest-per-key WITHIN the batch first (one window over
          // the batch — bounded by trigger size, never the table)
          import org.apache.spark.sql.expressions.Window
          val rn = Iterator.from(0).map(i => s"__graft_rn$i")
            .find(n => !batch.columns.contains(n)).get
          val latest = batch.withColumn(rn, row_number().over(
              Window.partitionBy(keyCols.map(col): _*).orderBy(col(seq).desc)))
            .filter(col(rn) === 1).drop(rn)
          // then a CONDITIONAL merge: update only when the incoming
          // sequence beats the stored one (late batches skip)
          val srcPfx = GraftTable.MergeSourcePrefix
          val sch = table.schema
          val cond = keyCols.map(upsertKeyMatch).reduce(_ && _)
          val setAll = sch.fieldNames.map(n => n -> col(srcPfx + n)).toMap
          // NULL handling is explicit, not three-valued-accident: a
          // stored NULL sequence (e.g. an initial load before the
          // CDC feed) is always updatable; an incoming NULL never
          // beats a stored non-null (and a bare `src > tgt` would
          // evaluate NULL and silently freeze the row forever)
          table.mergeInto(latest, cond,
            matched = Seq(graft.store.MergeWhen(
              Some(col(seq).isNull || col(srcPfx + seq) > col(seq)), Some(setAll))),
            notMatched = Seq(graft.store.MergeWhen(None, Some(setAll))),
            notMatchedBySource = Nil,
            label = label)
      }
    }
  }

  /** TABLE-TO-TABLE REPLICATION: apply a row-level change feed (the
    * `format("graft-table")` `cdc=true` stream — table columns plus
    * `_change_type`/`_commit_version`) to another GraftTable, keyed on
    * `keyCols`. The full CDC loop walden's stack would hand-assemble
    * from Iceberg CDC + MERGE: source DML of any shape (INSERT/UPDATE/
    * DELETE/MERGE/compact) converges the target to the source's state.
    *
    * Per micro-batch: reduce to the NET effect per key (latest
    * `_commit_version` wins; within one commit an update's insert
    * outranks its delete twin), then ONE atomic merge commit —
    * matched+delete rows delete, matched+insert rows update, unmatched
    * inserts insert; a key inserted and deleted within the batch never
    * touches the target. Cross-batch ordering needs no sequence guard:
    * the graft-table CDC source delivers commit versions monotonically,
    * so batch N+1's changes all postdate batch N's.
    *
    * Contract: `keyCols` must uniquely identify rows in the source
    * (keyed replication — the standard CDC-apply assumption; multiset
    * tables replicate with [[upsertGraftTable]] semantics instead).
    * Exactly-once mirrors the other sinks via labeled commits. */
  def applyCdcGraftTable(df: DataFrame, table: GraftTable,
                         keyCols: Seq[String], checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(keyCols.nonEmpty, "CDC apply needs at least one key column")
    labeledSink(df, "cdc", checkpointDir, trigger) { (batch, label) =>
      require(batch.columns.contains("_change_type")
          && batch.columns.contains("_commit_version"),
        "applyCdcGraftTable expects a change feed with _change_type and " +
          "_commit_version (spark.readStream.format(\"graft-table\").option(\"cdc\", true))")
      import org.apache.spark.sql.expressions.Window
      val rn = Iterator.from(0).map(i => s"__graft_rn$i")
        .find(n => !batch.columns.contains(n)).get
      val net = batch.withColumn(rn, row_number().over(
          Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col("_commit_version").desc,
              when(col("_change_type") === "insert", 1).otherwise(0).desc)))
        .filter(col(rn) === 1).drop(rn)
      val srcPfx = GraftTable.MergeSourcePrefix
      val sch = table.schema
      val cond = keyCols.map(k => col(k) <=> col(srcPfx + k)).reduce(_ && _)
      val setAll = sch.fieldNames.map(n => n -> col(srcPfx + n)).toMap
      table.mergeInto(net, cond,
        matched = Seq(
          graft.store.MergeWhen( // net delete: remove the target row
            Some(col(srcPfx + "_change_type") === "delete"), None),
          graft.store.MergeWhen(None, Some(setAll))),
        notMatched = Seq(graft.store.MergeWhen( // never insert a net delete
          Some(col(srcPfx + "_change_type") === "insert"), Some(setAll))),
        notMatchedBySource = Nil,
        label = label)
    }
  }
}
