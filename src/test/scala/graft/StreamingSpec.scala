package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Structured Streaming path: file-source micro-batches, windowed aggs
  * with watermark, stateful sessionization, parquet sink — each checked
  * against its batch twin on the same data.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(n: Int): org.apache.spark.sql.DataFrame = {
    val base = 1700000000000000000L // epoch nanos
    (0 until n).map { i =>
      (i.toLong, base + i.toLong * 60_000_000_000L, // 1/min
        (i % 7).toLong, Seq("view", "click", "purchase")(i % 3), i * 1.5, s"""{"k":$i}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Rewind a drained checkpoint by its newest batch n: delete
    * `commits/<n>` (and the checksum sibling the local file system keeps,
    * which would block Spark's rename when the batch re-commits it). A
    * restart on the same checkpoint then re-runs batch n — the window
    * between a sink's table commit and Spark's checkpoint commit. */
  private def forgetNewestBatch(ckpt: String): Long = {
    val last = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(last.getParentFile, s".${last.getName}.crc").delete()
    last.getName.toLong
  }

  /** The per-write `data/<uuid8>` directories of the table at `root`. */
  private def writeDirs(root: String): Set[String] =
    Option(new java.io.File(s"$root/data").list()).map(_.toSet).getOrElse(Set.empty)

  /** Version, row count and write directories of the table at `root`. */
  private def tableState(root: String): (Long, Long, Set[String]) = {
    val t = graft.store.GraftTable.load(spark, root)
    (t.currentVersion, t.read().count(), writeDirs(root))
  }

  test("file-source stream -> hourly counts == batch twin") {
    val landing = Files.createTempDirectory("graft_landing").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    // two parquet drops -> two+ micro-batches; a far-future sentinel
    // pushes the watermark past every real window so Append mode
    // flushes them (without it the tail windows stay in state forever
    // -- correct streaming semantics, inconvenient for a finite test).
    // one file per drop -> exactly 3 micro-batches at maxFilesPerTrigger=1
    // (uncoalesced, local[32] writes ~32 part files per drop -> 60+
    // micro-batches, which can outrun the await under load)
    mkEvents(120).filter($"event_id" < 60).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(120).filter($"event_id" >= 60).coalesce(1).write.mode("append").parquet(landing)
    Seq((999L, 1700000000000000000L + 86400L * 1_000_000_000L, 0L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(landing)

    val stream = EventStream.hourlyCounts(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1))
    val q = EventStream.writeParquet(stream, out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    val got = spark.read.parquet(out)
      .filter($"event_type" =!= "flush")
      .groupBy("event_type").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = mkEvents(120)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("streaming KMV cardinality tracking == batch sketch, bit-identical (r11)") {
    // corpus cardinality tracked AT INGEST: kmv_sketch is a
    // TypedImperativeAggregate, so Structured Streaming maintains its
    // partial sketch as ordinary aggregation state across micro-batches
    // — no new operator needed, and the merge identities (KmvSpec) make
    // the streamed sketch BIT-identical to a batch sketch of the same
    // rows, regardless of batch boundaries.
    graft.functions.GraftFunctions.register(spark)
    val landing = Files.createTempDirectory("kmv_landing").toString
    val ckpt = Files.createTempDirectory("kmv_ckpt").toString
    mkEvents(300).filter($"event_id" % 3 === 0).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(300).filter($"event_id" % 3 === 1).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(300).filter($"event_id" % 3 === 2).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(mkEvents(1).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .groupBy()
      .agg(expr("kmv_sketch(event_id, 64)").as("sk"), count(lit(1)).as("n"))
    val q = stream.writeStream
      .format("memory").queryName("kmv_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val row = spark.sql("SELECT sk, n FROM kmv_stream").head()
    assert(row.getLong(1) == 300L)
    val streamed = row.getAs[Array[Byte]](0)
    val batch = mkEvents(300).agg(expr("kmv_sketch(event_id, 64)"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(streamed, batch),
      "streamed sketch != batch sketch")
    // and it is saturated here (300 distinct > k=64): the estimate
    // extrapolates, exact parity still holds bit-for-bit
    graft.functions.GraftFunctions.register(spark)
    spark.sql("SELECT kmv_distinct_est(sk) FROM kmv_stream").head().getDouble(0) match {
      case est => assert(est > 64 && math.abs(est - 300) / 300.0 < 0.5, s"est $est")
    }
  }

  test("streaming qdigest percentile tracking == batch digest, bit-identical below n<k (r12)") {
    // percentile state tracked AT INGEST, same mechanism as the KMV
    // test above: qdigest_agg is a TypedImperativeAggregate, so its
    // digest is ordinary streaming aggregation state. In the
    // uncompressed regime (n < k) the digest is a pure leaf-count map
    // with a canonical serialization, so the streamed digest is
    // BIT-identical to a batch digest of the same rows regardless of
    // batch boundaries. (Saturated digests are compression-timing
    // dependent by design — there the envelope, not bit-identity, is
    // the contract; see QdigestSpec.)
    graft.functions.GraftFunctions.register(spark)
    val landing = Files.createTempDirectory("qd_landing").toString
    val ckpt = Files.createTempDirectory("qd_ckpt").toString
    mkEvents(300).filter($"event_id" % 3 === 0).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(300).filter($"event_id" % 3 === 1).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(300).filter($"event_id" % 3 === 2).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(mkEvents(1).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .groupBy()
      .agg(expr("qdigest_agg(event_id, 1024)").as("d"), count(lit(1)).as("n"))
    val q = stream.writeStream
      .format("memory").queryName("qd_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val row = spark.sql("SELECT d, n FROM qd_stream").head()
    assert(row.getLong(1) == 300L)
    val streamed = row.getAs[Array[Byte]](0)
    val batch = mkEvents(300).agg(expr("qdigest_agg(event_id, 1024)"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(streamed, batch),
      "streamed digest != batch digest")
    // quantiles off the streamed digest are the exact discrete stats
    val p = spark.sql(
      "SELECT qdigest_quantile(d, 0.5) AS p50, qdigest_count(d) AS n FROM qd_stream").head()
    assert(p.getLong(1) == 300L)
    val vals = mkEvents(300).select($"event_id").collect().map(_.getLong(0)).sorted
    assert(p.getLong(0) == vals(math.ceil(0.5 * vals.length).toInt - 1))
  }

  test("streaming setdigest + numeric_histogram == batch, across micro-batches (r12)") {
    // same mechanism as the KMV/qdigest tests: TypedImperativeAggregates
    // are ordinary streaming aggregation state. setdigest is asserted
    // bit-identical even SATURATED (300 distinct > k=64): the surviving
    // bottom-k hash set is a pure set property of the union, and a
    // surviving hash is never evicted in any partial (an eviction would
    // need k smaller hashes in that partial alone, which would also
    // evict it globally), so its count is the exact sum — order-free.
    // numeric_histogram is exact (hence bit-stable) below saturation;
    // saturated centroids are merge-order dependent by design (the
    // envelope, not identity, is the contract there — see
    // NumericHistogramSpec).
    graft.functions.GraftFunctions.register(spark)
    val landing = Files.createTempDirectory("sd_landing").toString
    val ckpt = Files.createTempDirectory("sd_ckpt").toString
    mkEvents(300).filter($"event_id" % 3 === 0).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(300).filter($"event_id" % 3 === 1).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(300).filter($"event_id" % 3 === 2).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(mkEvents(1).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .groupBy()
      .agg(expr("make_set_digest(event_id, 64)").as("sd"),
        expr("numeric_histogram(1024, CAST(event_id % 40 AS DOUBLE))").as("nh"))
    val q = stream.writeStream
      .format("memory").queryName("sd_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val row = spark.sql("SELECT sd, nh FROM sd_stream").head()
    val batchRow = mkEvents(300)
      .agg(expr("make_set_digest(event_id, 64)").as("sd"),
        expr("numeric_histogram(1024, CAST(event_id % 40 AS DOUBLE))").as("nh"))
      .head()
    assert(java.util.Arrays.equals(
      row.getAs[Array[Byte]]("sd"), batchRow.getAs[Array[Byte]]("sd")),
      "streamed setdigest != batch setdigest (saturated bit-identity)")
    assert(row.getAs[Map[Double, Double]]("nh") ==
      batchRow.getAs[Map[Double, Double]]("nh"),
      "streamed numeric_histogram != batch (exact regime)")
  }

  test("streaming sketch-stats table == batch per-day sketches; merge() reads it (r12)") {
    // the SCALE.md (u) reporting pattern maintained AT INGEST:
    // per-day qdigest/setdigest rows upserted each trigger; parity is
    // bit-level in the exact regime because the streamed aggregation
    // state IS the batch sketch object.
    graft.functions.GraftFunctions.register(spark)
    val landing = Files.createTempDirectory("st_landing").toString
    val ckpt = Files.createTempDirectory("st_ckpt").toString
    val root = Files.createTempDirectory("st_tbl").toString + "/stats"
    val all = mkEvents(300).withColumn("tsv",
      expr("timestamp_micros(ts div 1000) + make_dt_interval(CAST(event_id % 3 AS INT), 0, 0, 0)"))
    all.filter($"event_id" % 3 === 0).coalesce(1).write.mode("append").parquet(landing)
    all.filter($"event_id" % 3 === 1).coalesce(1).write.mode("append").parquet(landing)
    all.filter($"event_id" % 3 === 2).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(all.schema).option("maxFilesPerTrigger", "1").parquet(landing)
    val q = EventStream.sketchStatsTable(stream, "tsv",
      "CAST(value * 100 AS BIGINT)", "user_id", root, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val got = graft.store.GraftTable.load(spark, root).read().orderBy("day").collect()
    val want = all.groupBy(to_date(col("tsv")).as("day")).agg(
      expr("qdigest_agg(CAST(value * 100 AS BIGINT), 65536)").as("value_qd"),
      expr("make_set_digest(user_id, 8192)").as("id_sd"),
      count(lit(1)).as("n")).orderBy("day").collect()
    assert(got.length == want.length && got.length >= 3, s"days: ${got.length}")
    got.zip(want).foreach { case (a, b) =>
      assert(a.getAs[java.sql.Date]("day") == b.getAs[java.sql.Date]("day"))
      assert(java.util.Arrays.equals(
        a.getAs[Array[Byte]]("value_qd"), b.getAs[Array[Byte]]("value_qd")),
        s"qdigest mismatch on ${a.get(0)}")
      assert(java.util.Arrays.equals(
        a.getAs[Array[Byte]]("id_sd"), b.getAs[Array[Byte]]("id_sd")),
        s"setdigest mismatch on ${a.get(0)}")
      assert(a.getAs[Long]("n") == b.getAs[Long]("n"))
    }
    // the reporting read: whole-period median off the stats table alone
    val rep = graft.store.GraftTable.load(spark, root).read()
      .agg(expr("qdigest_quantile(merge(value_qd), 0.5)").as("p50"))
      .head().getLong(0)
    val cents = all.select(expr("CAST(value * 100 AS BIGINT)").as("c"))
      .collect().map(_.getLong(0)).sorted
    assert(rep == cents(math.ceil(0.5 * cents.length).toInt - 1))
  }

  test("stream lands in a GraftTable: per-batch atomic commits, time travel") {
    val landing = Files.createTempDirectory("graft_landing3").toString
    val ckpt = Files.createTempDirectory("graft_ckpt3").toString
    val troot = Files.createTempDirectory("graft_vt").resolve("t").toString
    mkEvents(20).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(40).filter($"event_id" >= 20).coalesce(1).write.mode("append").parquet(landing)

    val table = graft.store.GraftTable.create(spark, troot,
      mkEvents(0).withColumn("ts", expr("timestamp_micros(ts div 1000)")).limit(0))
    val q = EventStream.writeGraftTable(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1), table, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    assert(table.read().count() == 40)
    // one labeled commit per non-empty micro-batch, each time-travelable
    val appends = table.history.filter(_.op.startsWith("stream-append:"))
    assert(appends.size == 2, s"ops=${table.history.map(_.op)}")
    assert(table.read(asOfVersion = Some(2)).count() == 20)
    // batch-id labels are distinct (the idempotent-replay key)
    assert(appends.map(_.op).distinct.size == 2)
  }

  test("stream lands in a BUCKETED GraftTable: layout preserved per micro-batch (r12)") {
    // every micro-batch funnels through writeFilesWith -> re-buckets,
    // so a continuously-fed table stays storage-partition-joinable at
    // all times; plain compact() consolidates the per-batch small
    // files WITHIN buckets (GraftBucketSpec pins that half)
    val landing = Files.createTempDirectory("graft_landing_bkt").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_bkt").toString
    val troot = Files.createTempDirectory("graft_bkt").resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.mode("append").parquet(landing)
    Seq((3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1).write.mode("append").parquet(landing)
    val table = graft.store.GraftTable.create(spark, troot,
      Seq.empty[(Long, String)].toDF("id", "v"), bucketBy = Some(("id", 4)))
    val stream = spark.readStream.schema("id LONG, v STRING")
      .option("maxFilesPerTrigger", "1").parquet(landing)
    val q = EventStream.writeGraftTable(stream, table, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    assert(table.read().count() == 4)
    // every committed file carries its single-bucket stat — the
    // storage-partitioned scan stays available after any batch count
    val files = table.planFiles(table.currentVersion)
    val groups =
      if (files.forall(_.min.contains(graft.store.GraftTable.BucketStatKey)))
        Some(files.groupBy(_.min(graft.store.GraftTable.BucketStatKey)))
      else None
    assert(groups.isDefined, "streamed files must keep the bucket layout")
    assert(groups.get.values.flatten.size >= 2)
  }

  test("stream UPSERTS into a GraftTable: per-batch merge commits, latest-per-key") {
    val landing = Files.createTempDirectory("graft_landing_up").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_up").toString
    val troot = Files.createTempDirectory("graft_up").resolve("t").toString
    // batch 1 (one file): keys 1,2; batch 2: update key 2 (twice — the
    // higher seq must win) + insert key 3
    Seq((1L, "a", 10L), (2L, "b", 11L)).toDF("id", "v", "seq")
      .coalesce(1).write.mode("append").parquet(landing)
    Seq((2L, "b2", 20L), (2L, "b3", 21L), (3L, "c", 22L)).toDF("id", "v", "seq")
      .coalesce(1).write.mode("append").parquet(landing)

    val table = graft.store.GraftTable.create(spark, troot,
      Seq.empty[(Long, String, Long)].toDF("id", "v", "seq"))
    val src = spark.readStream.schema("id LONG, v STRING, seq LONG")
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = EventStream.upsertGraftTable(src, table, Seq("id"), ckpt,
      sequenceCol = Some("seq"))
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    val got = table.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b3"), (3L, "c")), got)
    // one labeled merge commit per micro-batch; snapshots time-travel
    val merges = table.history.filter(_.op.startsWith("stream-merge:"))
    assert(merges.size == 2, table.history.map(_.op))
    assert(table.read(asOfVersion = Some(merges.head.version)).count() == 2)

    // CRASH REPLAY: simulate dying between the table commit and the
    // checkpoint commit by deleting the last batch's checkpoint commit
    // marker — Spark re-runs that batch; the store's label dedup must
    // skip it (this is the dedup the labels exist for; a plain restart
    // would test only Spark's own checkpoint)
    val lastCommit = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(lastCommit.delete())
    // the local checksum FS keeps a .N.crc sibling; left behind, it
    // blocks Spark's rename when the batch re-commits the marker
    new java.io.File(lastCommit.getParentFile, s".${lastCommit.getName}.crc").delete()
    val q2 = EventStream.upsertGraftTable(
      spark.readStream.schema("id LONG, v STRING, seq LONG")
        .option("maxFilesPerTrigger", 1).parquet(landing),
      table, Seq("id"), ckpt, sequenceCol = Some("seq"))
    assert(q2.awaitTermination(240000))
    assert(table.history.count(_.op.startsWith("stream-merge:")) == 2,
      table.history.map(_.op))
    assert(table.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b3"), (3L, "c")))
  }

  test("upsert sink: a late batch with an older sequence never regresses a row") {
    val landing = Files.createTempDirectory("graft_landing_late").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_late").toString
    val troot = Files.createTempDirectory("graft_late").resolve("t").toString
    // batch 1: key 1 at seq 20; batch 2 (late/backfilled file): key 1
    // at seq 10 + a fresh key 2 — the stale update must be SKIPPED
    // while the insert still flows
    Seq((1L, "new", 20L)).toDF("id", "v", "seq")
      .coalesce(1).write.mode("append").parquet(landing)
    Seq((1L, "stale", 10L), (2L, "x", 11L)).toDF("id", "v", "seq")
      .coalesce(1).write.mode("append").parquet(landing)
    val table = graft.store.GraftTable.create(spark, troot,
      Seq.empty[(Long, String, Long)].toDF("id", "v", "seq"))
    val q = EventStream.upsertGraftTable(
      spark.readStream.schema("id LONG, v STRING, seq LONG")
        .option("maxFilesPerTrigger", 1).parquet(landing),
      table, Seq("id"), ckpt, sequenceCol = Some("seq"))
    assert(q.awaitTermination(240000))
    val got = table.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "new", 20L), (2L, "x", 11L)), got)
  }

  test("stream into a CLUSTERED table: micro-batch files land range-clustered") {
    val landing = Files.createTempDirectory("graft_landing_cl").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_cl").toString
    val troot = Files.createTempDirectory("graft_cl").resolve("t").toString
    // shrink AQE write sizing so the small batch splits into ranges
    val advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val minPart = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4KB")
    try {
      val table = graft.store.GraftTable.create(spark, troot,
        Seq.empty[(Long, String)].toDF("id", "v"), clusterBy = Seq("id"))
      // one wide-range uniformly-shuffled batch
      spark.range(0, 8000).selectExpr("id", "CAST(id AS STRING) AS v")
        .repartition(8).write.mode("append").parquet(landing)
      val q = EventStream.writeGraftTable(
        spark.readStream.schema("id LONG, v STRING").parquet(landing), table, ckpt)
      assert(q.awaitTermination(240000))
      // the streaming commit's files are range-clustered: a selective
      // id predicate prunes to a strict subset via min/max stats
      val added = table.history.last.added
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
      val kept = graft.store.StatsPruner.prune(added,
        Seq(LessThan(UnresolvedAttribute("id"), Literal(100L))), table.schema)
      assert(added.size > 1 && kept.size == 1,
        s"streaming batch should land clustered: pruned ${kept.size}/${added.size}")
      assert(table.read().count() == 8000)
    } finally {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", minPart)
    }
  }

  test("upsert sink: a stored NULL sequence is always updatable (initial-load rows)") {
    val landing = Files.createTempDirectory("graft_landing_null").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_null").toString
    val troot = Files.createTempDirectory("graft_null").resolve("t").toString
    // the table starts from a bulk load with no CDC sequence yet — a
    // bare `src.seq > tgt.seq` would evaluate NULL and freeze the row
    val table = graft.store.GraftTable.create(spark, troot,
      Seq((1L, "loaded", Option.empty[Long])).toDF("id", "v", "seq"))
    Seq((1L, "cdc", Some(5L)), (2L, "x", Some(6L))).toDF("id", "v", "seq")
      .coalesce(1).write.mode("append").parquet(landing)
    val q = EventStream.upsertGraftTable(
      spark.readStream.schema("id LONG, v STRING, seq LONG").parquet(landing),
      table, Seq("id"), ckpt, sequenceCol = Some("seq"))
    assert(q.awaitTermination(240000))
    val got = table.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "cdc"), (2L, "x")), got)
  }

  test("upsert sink: a NULL key is one key, with and without a sequence column") {
    for (sequenceCol <- Seq(None, Some("seq"))) {
      val landing = Files.createTempDirectory("graft_landing_nullkey").toString
      val ckpt = Files.createTempDirectory("graft_ckpt_nullkey").toString
      val troot = Files.createTempDirectory("graft_nullkey").resolve("t").toString
      val table = graft.store.GraftTable.create(spark, troot,
        Seq((Option.empty[Long], "n0", 1L), (Some(1L), "a", 1L)).toDF("id", "v", "seq"))
      // two batches: the NULL-key row is updated each time, never re-inserted
      Seq((Option.empty[Long], "n1", 5L), (Some(2L), "b", 6L)).toDF("id", "v", "seq")
        .coalesce(1).write.mode("append").parquet(landing)
      Seq((Option.empty[Long], "n2", 7L)).toDF("id", "v", "seq")
        .coalesce(1).write.mode("append").parquet(landing)
      val q = EventStream.upsertGraftTable(
        spark.readStream.schema("id LONG, v STRING, seq LONG")
          .option("maxFilesPerTrigger", 1).parquet(landing),
        table, Seq("id"), ckpt, sequenceCol = sequenceCol)
      assert(q.awaitTermination(240000), "stream did not drain in 240s")
      val got = table.read().collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
      assert(got == Set((None, "n2"), (Some(1L), "a"), (Some(2L), "b")), s"$sequenceCol: $got")
    }
  }

  test("sessionization (batch twin over the stateful op's input shape)") {
    // 3 events within gap, 30+min hole, then 2 more -> 2 sessions
    val base = 1700000000000000000L
    val rows = Seq(0L, 60L, 120L, 4000L, 4060L).zipWithIndex.map { case (secOff, i) =>
      (i.toLong, base + secOff * 1_000_000_000L, 1L, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val landing = Files.createTempDirectory("graft_landing2").toString
    val ckpt = Files.createTempDirectory("graft_ckpt2").toString
    val out = Files.createTempDirectory("graft_sess_out").toString
    rows.withColumn("ts", unix_micros($"ts") * 1000)
      .coalesce(1).write.mode("append").parquet(landing)

    val sessions = EventStream.sessionize(
      EventStream.readEvents(spark, landing), gapMinutes = 30)
    val q = EventStream.writeParquet(sessions.toDF(), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    // with AvailableNow + event-time timeout, only sessions closed by
    // watermark advance are emitted; the first session (3 events) must
    // be out once the 4000s-later events push the watermark past it.
    val emitted = spark.read.parquet(out).collect()
    assert(emitted.exists(r => r.getAs[Long]("nEvents") == 3L),
      s"expected the closed 3-event session, got ${emitted.mkString(";")}")
  }

  test("streaming ingest decontamination: bloom prescreen + exact verify, batch parity") {
    import org.apache.spark.sql.types._
    val evalText = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val evalGrams = Seq(evalText).toDF("text")
      .selectExpr("split(lower(text), ' ') AS ws")
      .selectExpr(s"explode(${graft.operators.TextOps.wordFiveGramArraySql}) AS g")
    val docsSeq = Seq(
      (1L, "srcA", evalText),                                // 6 shared grams
      (2L, "srcA", "w1 w2 w3 w4 w5 zz yy xx ww vv"),         // 1 shared gram
      (3L, "srcB", "aa bb cc dd ee ff gg hh"),               // 0 shared
      (4L, "srcB", null.asInstanceOf[String]),               // null text
      (5L, "srcB", "tiny doc"))                              // < 5 words
    val landing = Files.createTempDirectory("graft_dct_landing").toString
    val ckpt = Files.createTempDirectory("graft_dct_ckpt").toString
    val out = Files.createTempDirectory("graft_dct_out").toString
    docsSeq.toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("append").parquet(landing)

    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))))
      .parquet(landing)
    val flagged = EventStream.decontaminateDocs(stream, evalGrams)
    val q = EventStream.writeParquet(flagged, out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_overlap"), r.getAs[Boolean]("contaminated")))).toMap
    assert(got(1L) == ((6, true)), got)
    assert(got(2L) == ((1, false)), got) // exact sub-threshold count
    assert(got(3L) == ((0, false)) && got(4L) == ((0, false)) &&
      got(5L) == ((0, false)), got)

    // batch parity on the SAME docs: flagged set and counts agree with
    // the batch operator (which reports only overlapping docs)
    val trainGrams = docsSeq.toDF("doc_id", "source", "text")
      .selectExpr("doc_id", "source", "split(lower(text), ' ') AS ws")
      .filter(size($"ws") >= 5)
      .selectExpr("doc_id", "source",
        s"explode(${graft.operators.TextOps.wordFiveGramArraySql}) AS g")
    val batch = graft.operators.TextOps.decontaminate(trainGrams, evalGrams,
      regime = "broadcast")
      .filter($"contaminated").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    val streamFlagged = got.filter(_._2._2).map { case (id, (n, _)) => id -> n.toLong }
    assert(batch == streamFlagged, s"batch $batch vs stream $streamFlagged")
    // and for UNflagged docs the stream's exact count matches the batch
    // overlap rows where one exists (doc 2 overlaps once)
    val batchAll = graft.operators.TextOps.decontaminate(trainGrams, evalGrams,
      regime = "broadcast").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    assert(batchAll.get(2L).contains(got(2L)._1.toLong), s"$batchAll vs ${got(2L)}")
  }

  test("streaming semantic decontamination: cosine kernel, exact batch parity (r10)") {
    import org.apache.spark.sql.types._
    val all = Tables(spark, sf(), "embeddings").select("vec_id", "embedding")
    val train = all.filter($"vec_id" % 20 =!= 0)
    val evalSet = all.filter($"vec_id" % 20 === 0)
    val landing = Files.createTempDirectory("graft_sdc_landing").toString
    val ckpt = Files.createTempDirectory("graft_sdc_ckpt").toString
    val out = Files.createTempDirectory("graft_sdc_out").toString
    // land the train side plus two degenerate rows the batch operator
    // filters away up front: a zero vector and a NULL embedding —
    // both must stream through clean, not crash the kernel
    val dim = all.head().getSeq[Float](1).length
    train.write.mode("append").parquet(landing)
    Seq((900001L, Some(Seq.fill(dim)(0.0f))), (900002L, None))
      .toDF("vec_id", "embedding").write.mode("append").parquet(landing)

    val stream = spark.readStream
      .schema(StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .parquet(landing)
    val q = EventStream.writeParquet(
      EventStream.decontaminateEmbeddings(stream, evalSet, 0.35), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    val got = spark.read.parquet(out).collect().map(r =>
      r.getAs[Long]("vec_id") -> ((r.getAs[Long]("n_hits"),
        Option(r.get(r.fieldIndex("first_hit"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("max_eval_cos"))).map(_.asInstanceOf[Double]),
        r.getAs[Boolean]("contaminated")))).toMap
    assert(got.size == train.count() + 2, "every landed row passes through")
    assert(got(900001L) == ((0L, None, None, false)), got(900001L))
    assert(got(900002L) == ((0L, None, None, false)), got(900002L))

    // batch parity: the flagged set and every provenance column agree
    // with the exact batch regime BIT FOR BIT (same accumulation
    // order, same norms, same division, same round-6)
    val batch = graft.operators.VectorOps.semanticDecontaminate(train, evalSet, 0.35)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("first_hit"),
          r.getAs[Double]("max_eval_cos")))).toMap
    assert(batch.nonEmpty, "batch regime flagged nothing — test data changed?")
    val streamFlagged = got.collect { case (id, (n, fh, mc, true)) =>
      id -> ((n, fh.get, mc.get)) }
    assert(streamFlagged == batch, s"stream ${streamFlagged.size} flagged vs " +
      s"batch ${batch.size}: diff ${(streamFlagged.toSet diff batch.toSet).take(3)} / " +
      s"${(batch.toSet diff streamFlagged.toSet).take(3)}")
    // and clean rows carry the zero/None shape, never a partial flag
    got.collect { case (id, t @ (n, fh, mc, false)) =>
      assert(n == 0L && fh.isEmpty && mc.isEmpty, s"$id: $t")
    }
  }

  test("streaming decontamination past the inline ceiling degrades to the bloom tier (r10)") {
    import org.apache.spark.sql.types._
    // same fixture as the inline test, but the routing entry point is
    // forced over the (shrunk) ceiling — the stream must run the
    // per-batch bloom plan and produce the SAME answers, including
    // no-overlap docs kept with (0, false)
    val evalText = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val evalGrams = Seq(evalText).toDF("text")
      .selectExpr("split(lower(text), ' ') AS ws")
      .selectExpr(s"explode(${graft.operators.TextOps.wordFiveGramArraySql}) AS g")
    val docsSeq = Seq(
      (1L, "srcA", evalText),
      (2L, "srcA", "w1 w2 w3 w4 w5 zz yy xx ww vv"),
      (3L, "srcB", "aa bb cc dd ee ff gg hh"),
      (4L, "srcB", null.asInstanceOf[String]),
      (5L, "srcB", "tiny doc"))
    val landing = Files.createTempDirectory("graft_dctb_landing").toString
    val ckpt = Files.createTempDirectory("graft_dctb_ckpt").toString
    val out = Files.createTempDirectory("graft_dctb_out").toString
    docsSeq.toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))))
      .parquet(landing)
    // suite has 6 distinct grams; ceiling of 3 forces the bloom tier
    val q = EventStream.decontaminateDocsToParquet(
      stream, evalGrams, out, ckpt, maxInlineGrams = 3)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_overlap").toLong, r.getAs[Boolean]("contaminated")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), got)
    assert(got(1L) == ((6L, true)) && got(2L) == ((1L, false)), got)
    assert(got(3L) == ((0L, false)) && got(4L) == ((0L, false)) &&
      got(5L) == ((0L, false)), got)
    // parity with the batch BLOOM regime on the same docs
    val trainGrams = docsSeq.toDF("doc_id", "source", "text")
      .selectExpr("doc_id", "source", "split(lower(text), ' ') AS ws")
      .filter(size($"ws") >= 5)
      .selectExpr("doc_id", "source",
        s"explode(${graft.operators.TextOps.wordFiveGramArraySql}) AS g")
    val batch = graft.operators.TextOps.decontaminate(trainGrams, evalGrams,
      regime = "bloom").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    val streamNonZero = got.filter(_._2._1 > 0).map { case (id, (n, _)) => id -> n }
    assert(batch == streamNonZero, s"batch $batch vs stream $streamNonZero")
    // and the small-suite path still routes inline (same entry point)
    val out2 = Files.createTempDirectory("graft_dctb_out2").toString
    val ckpt2 = Files.createTempDirectory("graft_dctb_ckpt2").toString
    val q2 = EventStream.decontaminateDocsToParquet(
      stream, evalGrams, out2, ckpt2) // default ceiling: inline kernel
    assert(q2.awaitTermination(240000), "inline stream did not drain")
    val got2 = spark.read.parquet(out2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_overlap").toLong, r.getAs[Boolean]("contaminated")))).toMap
    assert(got2 == got, s"inline $got2 vs bloom tier $got")
    // r11 (r10-ADVICE): the bloom tier writes the SAME column order as
    // the inline tier — input columns in input order, then the outputs
    assert(spark.read.parquet(out).columns.toSeq ==
      Seq("doc_id", "source", "text", "n_overlap", "contaminated"),
      spark.read.parquet(out).columns.toSeq)
    assert(spark.read.parquet(out2).columns.toSeq ==
      spark.read.parquet(out).columns.toSeq)
    // r11 (r10-ADVICE): the tier is PINNED in the checkpoint — the
    // same checkpoint re-presented with a suite that now sizes to the
    // OTHER tier refuses loudly instead of mixing delivery semantics
    val e = intercept[IllegalArgumentException] {
      EventStream.decontaminateDocsToParquet(stream, evalGrams, out, ckpt) // inline now
    }
    assert(e.getMessage.contains("tier") && e.getMessage.contains("fresh"),
      e.getMessage)
    // r11 (r10-ADVICE): the bloom tier rejects reserved-column
    // collisions at CONSTRUCTION, like the inline tier always did
    val clash = stream.withColumn("n_overlap", lit(1))
    val e2 = intercept[IllegalArgumentException] {
      EventStream.decontaminateDocsToParquet(clash, evalGrams,
        Files.createTempDirectory("graft_dctb_out3").toString,
        Files.createTempDirectory("graft_dctb_ckpt3").toString, maxInlineGrams = 3)
    }
    assert(e2.getMessage.contains("n_overlap"), e2.getMessage)
  }

  test("indexed near-dup at ingest: exact t02 semantics against a growing band index (r10)") {
    import org.apache.spark.sql.types._
    // word-trigram shingles: a 14-word text has 12 distinct shingles;
    // changing ONE end word flips one shingle -> jaccard 11/13 = 0.846
    // (>= 0.8, dup); changing BOTH end words -> 10/14 = 0.714 (keeper)
    // identical texts have identical shingle sets -> identical minhash
    // lanes -> EVERY band agrees (deterministic candidates, jaccard 1);
    // the one-word variant (11/13 = 0.846) is a PROBABILISTIC band hit
    // — its expectation is derived from the batch t02 pairs below, not
    // hand-asserted
    val a = "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13 w14"
    val b = "z01 z02 z03 z04 z05 z06 z07 z08 z09 z10 z11 z12"
    val a3 = a.replace("w01", "x01")
    val drops = Seq(
      Seq((1L, a), (2L, a), (3L, b)),   // 2: within-batch exact dup of 1
      Seq((4L, a3), (5L, a)),           // 5: cross-batch exact dup of 1 (index)
      Seq((6L, a3), (7L, null.asInstanceOf[String]), (8L, "tiny doc")))
      // 6: exact dup of 4 — which is itself (possibly) a dup: the
      // all-docs-indexed contract finds it regardless
    val landing = Files.createTempDirectory("graft_ndi_landing").toString
    val ckpt = Files.createTempDirectory("graft_ndi_ckpt").toString
    val idxRoot = Files.createTempDirectory("graft_ndi_idx").toString + "/index"
    val outRoot = Files.createTempDirectory("graft_ndi_out").toString + "/flagged"
    for (d <- drops)
      d.map { case (id, t) => (id, "s", t) }.toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = EventStream.nearDupDocsIndexed(stream, idxRoot, outRoot, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    val got = graft.store.GraftTable.load(spark, outRoot).read()
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    assert(got.keySet == (1L to 8L).toSet, got)
    assert(got(1L) == ((false, None)) && got(3L) == ((false, None)), got)
    assert(got(2L) == ((true, Some(1L))), got)  // within-batch, doc_id order
    assert(got(5L) == ((true, Some(1L))), got)  // cross-batch via the index
    // doc 6's BEST match is doc 4 (jaccard 1 — identical text), which
    // is itself possibly a dup: the all-docs-indexed contract surfaces
    // it regardless of doc 4's own flag
    assert(got(6L) == ((true, Some(4L))), got)
    assert(got(7L) == ((false, None)) && got(8L) == ((false, None)), got)

    // exactly-once: restarting the drained stream on the SAME
    // checkpoint reprocesses nothing — both tables keep their version
    val outV = graft.store.GraftTable.load(spark, outRoot).currentVersion
    val idxV = graft.store.GraftTable.load(spark, idxRoot).currentVersion
    val q2 = EventStream.nearDupDocsIndexed(stream, idxRoot, outRoot, ckpt)
    assert(q2.awaitTermination(240000), "restart did not drain")
    assert(graft.store.GraftTable.load(spark, outRoot).currentVersion == outV,
      "restart re-committed flagged rows")
    assert(graft.store.GraftTable.load(spark, idxRoot).currentVersion == idxV,
      "restart re-committed index rows")

    // batch parity: flagged set == docs with at least one SMALLER-id
    // t02 pair partner over the same corpus
    val batchDir = Files.createTempDirectory("graft_ndi_batch").toString
    drops.flatten.map { case (id, t) => (id, "s", t) }
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
    val pairs = SparkEntry.queries("t02_minhash_lsh")(spark, batchDir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val wantFlagged = pairs.map(_._2).toSet // doc_a < doc_b by construction
    assert(got.filter(_._2._1).keySet == wantFlagged,
      s"stream ${got.filter(_._2._1).keySet} vs batch-implied $wantFlagged " +
        s"(pairs ${pairs.mkString(",")})")
  }

  test("streaming vector-index maintenance: arrivals searchable, exactly-once (r13)") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_vis_idx").toString + "/index"
    val landing = Files.createTempDirectory("graft_vis_landing").toString
    val ckpt = Files.createTempDirectory("graft_vis_ckpt").toString
    val emb = Tables(spark, sf(), "embeddings")
    graft.operators.VectorIndex.build(spark, emb, root, nCentroids = 8,
      pqSubspaces = Some(8), pqCodewords = 16, codeBuckets = 8)

    // two drops: exact copies of vectors 7 and 3 under new ids — one
    // micro-batch each (maxFilesPerTrigger = 1)
    emb.filter(col("vec_id") === 7L).selectExpr("9001L AS vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(landing)
    emb.filter(col("vec_id") === 3L).selectExpr("9002L AS vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1).parquet(landing)
    // maintainEvery = 2: the second batch (batchId 1) triggers the
    // re-layout after its append (the cadence hook SCALE.md (ab)'s
    // decay numbers justify)
    val q = EventStream.indexVectorsStream(stream, root, ckpt, maintainEvery = 2)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    // the cadence maintain() ran: the assignments layout is back to
    // the compacted file count (2 appends would otherwise each add
    // their own files on top of the build's 2)
    assert(GraftScans.inputFiles(graft.store.GraftTable.load(spark, s"$root/assignments")
      .read()).length <= 2,
      "maintainEvery=2 did not re-cluster the assignments after batch 1")

    // both arrivals searchable through BOTH paths (exact copies: cell
    // and codes identical to their originals)
    val idx = graft.operators.VectorIndex.load(spark, root)
    val q7 = emb.filter(col("vec_id") === 7L)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    assert(idx.search(q7, k = 3, nprobe = 2).collect().map(_.getLong(0)).toSet
      .contains(9001L), "float search misses streamed vector")
    assert(idx.searchPq(q7, k = 3, nprobe = 3).collect().map(_.getLong(0)).toSet
      .contains(9001L), "PQ search misses streamed vector")
    assert(graft.store.GraftTable.load(spark, s"$root/assignments").read()
      .filter(col("vec_id") === 9002L).count() == 1L)

    // exactly-once: a restart on the same checkpoint commits nothing
    val av = graft.store.GraftTable.load(spark, s"$root/assignments").currentVersion
    val cv = graft.store.GraftTable.load(spark, s"$root/pq_codes").currentVersion
    val q2 = EventStream.indexVectorsStream(stream, root, ckpt, maintainEvery = 2)
    assert(q2.awaitTermination(240000), "restart did not drain")
    assert(graft.store.GraftTable.load(spark, s"$root/assignments").currentVersion == av,
      "restart re-committed assignments (or re-ran maintain on a replay)")
    assert(graft.store.GraftTable.load(spark, s"$root/pq_codes").currentVersion == cv,
      "restart re-committed codes")
  }

  test("indexed near-dup maintenance: small-file sweep consolidates the band index (r11)") {
    import org.apache.spark.sql.types._
    // six one-doc triggers with compactEvery=2: the sweep fires after
    // batches 1/3/5, so the index ends consolidated (~1 live file, not
    // 6) while flags stay exact and a restart on the same checkpoint
    // still re-commits NOTHING — the "compact" commit sits outside the
    // labeled-append domain the replay dedup scans.
    val a = "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13 w14"
    val b = "z01 z02 z03 z04 z05 z06 z07 z08 z09 z10 z11 z12"
    val c = "q01 q02 q03 q04 q05 q06 q07 q08 q09 q10 q11"
    val docs = Seq((1L, a), (2L, b), (3L, a), (4L, c), (5L, a), (6L, b))
    val landing = Files.createTempDirectory("graft_ndic_landing").toString
    val ckpt = Files.createTempDirectory("graft_ndic_ckpt").toString
    val idxRoot = Files.createTempDirectory("graft_ndic_idx").toString + "/index"
    val outRoot = Files.createTempDirectory("graft_ndic_out").toString + "/flagged"
    for ((id, t) <- docs)
      Seq((id, "s", t)).toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = EventStream.nearDupDocsIndexed(stream, idxRoot, outRoot, ckpt,
      compactEvery = 2, compactSmallFileMB = 64)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    val got = graft.store.GraftTable.load(spark, outRoot).read()
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    // identical texts -> deterministic band hits, jaccard 1; best-match
    // tie-break is (jaccard desc, dup_of asc) so 5 pairs to 1 not 3
    assert(got(3L) == ((true, Some(1L))) && got(5L) == ((true, Some(1L))) &&
      got(6L) == ((true, Some(2L))), got)
    assert(!got(1L)._1 && !got(2L)._1 && !got(4L)._1, got)

    val idxT = graft.store.GraftTable.load(spark, idxRoot)
    // 5 band appends land (doc 4 has sub-3-shingle text? no — 11 words
    // = 9 shingles, it bands too: 6 appends) + 3 compacts; live files
    // collapse to the last sweep's output + at most one post-sweep
    // append (batch 5's compact runs AFTER its append)
    assert(GraftScans.inputFiles(idxT.read()).length <= 2,
      s"index not consolidated: ${GraftScans.inputFiles(idxT.read()).length} files")
    assert(idxT.history.count(_.op == "compact") == 3,
      idxT.history.map(_.op).mkString(","))
    // index content survives the sweeps byte-exact: one band row set
    // per sigable doc (6 docs x 4 bands)
    assert(idxT.read().count() == 24, idxT.read().count())

    // restart idempotency with compact commits interleaved in history
    val outV = graft.store.GraftTable.load(spark, outRoot).currentVersion
    val idxV = idxT.currentVersion
    val q2 = EventStream.nearDupDocsIndexed(stream, idxRoot, outRoot, ckpt,
      compactEvery = 2, compactSmallFileMB = 64)
    assert(q2.awaitTermination(240000), "restart did not drain")
    assert(graft.store.GraftTable.load(spark, outRoot).currentVersion == outV,
      "restart re-committed flagged rows")
    assert(graft.store.GraftTable.load(spark, idxRoot).currentVersion == idxV,
      "restart re-committed or re-compacted the index")
  }

  test("crash-window replay: writeGraftTable re-runs its newest batch and commits nothing") {
    val landing = Files.createTempDirectory("graft_cw_landing").toString
    val ckpt = Files.createTempDirectory("graft_cw_ckpt").toString
    val troot = Files.createTempDirectory("graft_cw").resolve("t").toString
    mkEvents(20).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(40).filter($"event_id" >= 20).coalesce(1).write.mode("append").parquet(landing)
    val table = graft.store.GraftTable.create(spark, troot,
      mkEvents(0).withColumn("ts", expr("timestamp_micros(ts div 1000)")).limit(0))
    def drain(): Unit = assert(EventStream.writeGraftTable(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1), table, ckpt)
      .awaitTermination(240000), "stream did not drain in 240s")
    drain()
    val before = tableState(troot)
    assert(before._2 == 40)
    val n = forgetNewestBatch(ckpt)
    drain()
    assert(new java.io.File(s"$ckpt/commits/$n").exists(), s"batch $n was not re-run")
    assert(tableState(troot) == before, "the replayed batch committed or left files")
  }

  test("crash-window replay: a batch committed under the legacy hashCode label is not appended again") {
    val landing = Files.createTempDirectory("graft_cwl_landing").toString
    val ckpt = Files.createTempDirectory("graft_cwl_ckpt").toString
    val dir = Files.createTempDirectory("graft_cwl")
    val drops = Seq(mkEvents(20), mkEvents(40).filter($"event_id" >= 20))
    drops.foreach(_.coalesce(1).write.mode("append").parquet(landing))
    val empty = mkEvents(0).withColumn("ts", expr("timestamp_micros(ts div 1000)")).limit(0)
    def drain(t: graft.store.GraftTable): Unit = assert(EventStream.writeGraftTable(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1), t, ckpt)
      .awaitTermination(240000), "stream did not drain in 240s")
    // the checkpoint's batches 0 and 1 ran against a scratch table; the
    // table under test holds the same batches as an earlier pipeline
    // labeled them, keyed by the checkpoint path's 32-bit hashCode
    drain(graft.store.GraftTable.create(spark, dir.resolve("scratch").toString, empty))
    val troot = dir.resolve("t").toString
    val table = graft.store.GraftTable.create(spark, troot, empty)
    val legacy = s"stream-append:${Integer.toHexString(ckpt.hashCode)}:"
    for ((d, batchId) <- drops.zipWithIndex)
      table.appendAsOnce(s"$legacy$batchId",
        d.withColumn("ts", expr("timestamp_micros(ts div 1000)")), _ => false, _ => false)
    val before = tableState(troot)
    assert(before._2 == 40)
    val n = forgetNewestBatch(ckpt)
    drain(table)
    assert(new java.io.File(s"$ckpt/commits/$n").exists(), s"batch $n was not re-run")
    assert(tableState(troot) == before, "the replayed batch was appended again")
  }

  test("crash-window replay: upsertGraftTable with a sequence column re-runs its newest batch and commits nothing") {
    val landing = Files.createTempDirectory("graft_cwu_landing").toString
    val ckpt = Files.createTempDirectory("graft_cwu_ckpt").toString
    val troot = Files.createTempDirectory("graft_cwu").resolve("t").toString
    Seq((1L, "a", Some(10L)), (2L, "b", Some(11L))).toDF("id", "v", "seq")
      .coalesce(1).write.mode("append").parquet(landing)
    // the sequence guard alone would absorb most of a replay: only the
    // NULL-sequence row 4, always updatable, would be rewritten again
    Seq((2L, "b2", Some(20L)), (3L, "c", Some(21L)), (4L, "d", None)).toDF("id", "v", "seq")
      .coalesce(1).write.mode("append").parquet(landing)
    val table = graft.store.GraftTable.create(spark, troot,
      Seq.empty[(Long, String, Option[Long])].toDF("id", "v", "seq"))
    def drain(): Unit = assert(EventStream.upsertGraftTable(
      spark.readStream.schema("id LONG, v STRING, seq LONG")
        .option("maxFilesPerTrigger", 1).parquet(landing),
      table, Seq("id"), ckpt, sequenceCol = Some("seq"))
      .awaitTermination(240000), "stream did not drain in 240s")
    def rows() = table.read().orderBy("id").collect().map(_.toString).toSeq
    drain()
    val before = tableState(troot)
    assert(rows() == Seq("[1,a,10]", "[2,b2,20]", "[3,c,21]", "[4,d,null]"), rows())
    val n = forgetNewestBatch(ckpt)
    drain()
    assert(new java.io.File(s"$ckpt/commits/$n").exists(), s"batch $n was not re-run")
    assert(tableState(troot) == before, "the replayed batch committed or left files")
    assert(rows() == Seq("[1,a,10]", "[2,b2,20]", "[3,c,21]", "[4,d,null]"))
  }

  test("crash-window replay: indexVectorsStream re-runs its newest batch, commits nothing, skips maintain") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_cwv_idx").toString + "/index"
    val landing = Files.createTempDirectory("graft_cwv_landing").toString
    val ckpt = Files.createTempDirectory("graft_cwv_ckpt").toString
    val emb = Tables(spark, sf(), "embeddings")
    graft.operators.VectorIndex.build(spark, emb, root, nCentroids = 8,
      pqSubspaces = Some(8), pqCodewords = 16, codeBuckets = 8)
    emb.filter(col("vec_id") === 7L).selectExpr("9001L AS vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(landing)
    emb.filter(col("vec_id") === 3L).selectExpr("9002L AS vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1).parquet(landing)
    // maintainEvery = 2: batch 1 maintains after its append, so a replay
    // of batch 1 that ran maintain() again would add a compact commit
    def drain(): Unit = assert(EventStream.indexVectorsStream(stream, root, ckpt,
      maintainEvery = 2).awaitTermination(240000), "stream did not drain in 240s")
    drain()
    val tables = Seq(s"$root/assignments", s"$root/pq_codes")
    val before = tables.map(tableState)
    val n = forgetNewestBatch(ckpt)
    assert(n == 1L)
    drain()
    assert(new java.io.File(s"$ckpt/commits/$n").exists(), s"batch $n was not re-run")
    assert(tables.map(tableState) == before,
      "the replayed batch committed, re-ran maintain() or left files")
  }

  test("streaming pattern detection: session-scoped MATCH_RECOGNIZE, batch parity") {
    import graft.streaming.PatternStream
    import graft.operators.PatternMatch
    import graft.operators.PatternMatch.Measure
    val base = 1700000000000000000L // epoch nanos
    def ev(id: Long, user: Long, secOff: Long, typ: String, v: Double) =
      (id, base + secOff * 1_000_000_000L, user, typ, v, "{}")
    // drop A = first sessions; drop B (66+ min later) breaks the gap
    // and CLOSES them deterministically (no reliance on a timeout
    // firing after the last AvailableNow batch)
    val dropA = Seq(
      ev(1, 1, 0, "view", 1.0), ev(2, 1, 60, "click", 2.0),
      ev(3, 1, 120, "click", 3.0), ev(4, 1, 180, "purchase", 40.0),
      ev(5, 2, 0, "click", 1.0), ev(6, 2, 60, "purchase", 9.0))
    val dropB = Seq(
      ev(7, 1, 4000, "view", 1.0), ev(8, 1, 4060, "purchase", 5.0),
      ev(9, 2, 4000, "view", 1.0))
    val landing = Files.createTempDirectory("graft_pat_landing").toString
    val ckpt = Files.createTempDirectory("graft_pat_ckpt").toString
    val out = Files.createTempDirectory("graft_pat_out").toString
    for (d <- Seq(dropA, dropB))
      d.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(landing)

    val syms = Seq(
      "V" -> (col("event_type") === "view"),
      "C" -> (col("event_type") === "click"),
      "P" -> (col("event_type") === "purchase"))
    val hits = PatternStream.matchPatternSessions(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1),
      "user_id", "ts", syms, "V C{1,2} P", col("value"), gapMinutes = 30)
    val q = EventStream.writeParquet(hits.toDF(), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    val tsm = (off: Long) => base / 1000L + off * 1000000L
    // only the gap-closed sessions are guaranteed out; session B needs
    // a timeout after the last batch, which AvailableNow may not run
    val got = spark.read.parquet(out)
      .filter(col("start_micros") < tsm(1000))
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("match_num"),
        r.getAs[Long]("start_micros"), r.getAs[Long]("end_micros"),
        r.getAs[Long]("n_rows"), r.getAs[String]("classifiers"),
        r.getAs[Double]("sum_value"))).toSet
    // user 1 session A: greedy V C C P; user 2 session A: no V -> none
    assert(got == Set((1L, 1L, tsm(0), tsm(180), 4L, "V,C,C,P", 46.0)), got)

    // batch parity: the SAME session rows through the batch operator
    val batchDf = dropA.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("tsm", col("ts") / 1000L cast "long")
    val batch = PatternMatch.matchPattern(batchDf,
      partitionBy = Seq("user_id"), orderBy = Seq("tsm"),
      symbols = syms, pattern = "V C{1,2} P",
      measures = Seq(Measure("start_micros", "first", "*", "tsm"),
        Measure("end_micros", "last", "*", "tsm"),
        Measure("n_rows", "count", "*"),
        Measure("sum_value", "sum", "*", "value")))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("match_num"),
        r.getAs[Long]("start_micros"), r.getAs[Long]("end_micros"),
        r.getAs[Long]("n_rows"), r.getAs[Double]("sum_value"))).toSet
    assert(batch == got.map(h => (h._1, h._2, h._3, h._4, h._5, h._7)),
      s"batch $batch vs stream $got")
  }

  test("streaming pattern detection: late arrivals interleave into the sorted open session") {
    // r10 (r9 verdict #3): state keeps the open session SORTED and each
    // batch merges its own sorted rows — a later micro-batch carrying an
    // EARLIER timestamp (late within the watermark) must land between
    // the rows already in state, or the classifier sequence breaks
    import graft.streaming.PatternStream
    val base = 1700000000000000000L
    def ev(id: Long, secOff: Long, typ: String) =
      (id, base + secOff * 1_000_000_000L, 1L, typ, 1.0, "{}")
    val drops = Seq(
      Seq(ev(1, 0, "view"), ev(2, 120, "purchase")), // batch 1: V..P
      Seq(ev(3, 60, "click")),                       // batch 2: LATE C between them
      Seq(ev(4, 4000, "view")))                      // batch 3: gap-closes the session
    val landing = Files.createTempDirectory("graft_late_landing").toString
    val ckpt = Files.createTempDirectory("graft_late_ckpt").toString
    val out = Files.createTempDirectory("graft_late_out").toString
    for (d <- drops)
      d.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(landing)
    val hits = PatternStream.matchPatternSessions(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1),
      "user_id", "ts",
      Seq("V" -> (col("event_type") === "view"),
        "C" -> (col("event_type") === "click"),
        "P" -> (col("event_type") === "purchase")),
      "V C P", col("value"), gapMinutes = 30)
    val q = EventStream.writeParquet(hits.toDF(), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val tsm = (off: Long) => base / 1000L + off * 1000000L
    val got = spark.read.parquet(out)
      .filter(col("start_micros") < tsm(1000))
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("match_num"),
        r.getAs[Long]("start_micros"), r.getAs[Long]("end_micros"),
        r.getAs[String]("classifiers"))).toSet
    assert(got == Set((1L, 1L, tsm(0), tsm(120), "V,C,P")), got)
  }

  test("streaming pattern detection: a gapless hot key fails loudly, never grows unbounded state") {
    import graft.streaming.PatternStream
    val base = 1700000000000000000L
    val rows = (0 until 50).map(i =>
      (i.toLong, base + i * 1_000_000_000L, 1L, "view", 1.0, "{}"))
    val landing = Files.createTempDirectory("graft_hot_landing").toString
    val ckpt = Files.createTempDirectory("graft_hot_ckpt").toString
    val out = Files.createTempDirectory("graft_hot_out").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(landing)
    val hits = PatternStream.matchPatternSessions(
      EventStream.readEvents(spark, landing, 1),
      "user_id", "ts", Seq("V" -> (col("event_type") === "view")),
      "V{100}", col("value"), gapMinutes = 30, maxSessionRows = 10)
    val q = EventStream.writeParquet(hits.toDF(), out, ckpt)
    val e = intercept[Exception] { q.processAllAvailable(); q.stop() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("maxSessionRows")), msgs(e).take(3))
  }

  test("GraftTable tails as a stream: commits become micro-batches") {
    val ckpt = Files.createTempDirectory("graft_tail_ck").toString
    val out = Files.createTempDirectory("graft_tail_out").toString
    val troot = Files.createTempDirectory("graft_tail_t").resolve("t").toString
    val t = graft.store.GraftTable.create(spark, troot,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.append(Seq((4L, "d"), (5L, "e")).toDF("id", "v"))

    def tail() = spark.readStream.format("graft-table")
      .option("maxCommitsPerTrigger", 1).load(troot)
    val stream = tail()
    assert(stream.isStreaming)
    val q = EventStream.writeParquet(stream, out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L))

    // a LATER commit is picked up by a resumed stream from the same checkpoint
    t.append(Seq((6L, "f")).toDF("id", "v"))
    val q2 = EventStream.writeParquet(tail(), out, ckpt)
    assert(q2.awaitTermination(240000), "resumed stream did not drain")
    val ids2 = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
    assert(ids2 == (1L to 6L), s"resume must deliver ONLY the new commit once: $ids2")
  }

  test("streaming as-of enrichment matches the batch AsOfJoin on time-ordered drops") {
    val landing = Files.createTempDirectory("graft_asof_in").toString
    val ckpt = Files.createTempDirectory("graft_asof_ck").toString
    val out = Files.createTempDirectory("graft_asof_out").toString
    // two drops split ON the time axis (the contract: batches arrive
    // time-ordered); event types cycle so each user sees interleaved
    // views/clicks/purchases
    mkEvents(120).filter($"event_id" < 60).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(120).filter($"event_id" >= 60).coalesce(1).write.mode("append").parquet(landing)

    val enriched = EventStream.asofEnrich(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1))
    val q = EventStream.writeParquet(enriched.toDF(), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")

    // batch twin: the SAME derivation e07 uses, on the same data
    val src = mkEvents(120).withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val ev = src.select($"event_id", $"user_id", $"event_type",
      unix_timestamp($"ts").as("sec"))
    val purchases = src.filter($"event_type" === "purchase")
      .groupBy($"user_id", unix_timestamp($"ts").as("psec"))
      .agg(max($"value").as("pval"))
    val want = graft.operators.AsOfJoin
      .asofLeft(ev, purchases, Seq("user_id"), "sec", "psec")
      .select($"event_id", $"psec", $"pval")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    val got = spark.read.parquet(out)
      .select("event_id", "last_purchase_sec", "last_purchase_value")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(got.size == 120)
    assert(got == want, {
      val diff = want.keySet.filter(k => got.get(k) != want.get(k)).take(5)
      s"mismatch on ${diff.map(k => s"$k: got=${got.get(k)} want=${want.get(k)}").mkString("; ")}"
    })
  }

  test("streaming dedup drops replayed event_ids within the watermark") {
    val landing = Files.createTempDirectory("graft_dedup_in").toString
    val ckpt = Files.createTempDirectory("graft_dedup_ck").toString
    val out = Files.createTempDirectory("graft_dedup_out").toString
    // drop 1: events 0..19; drop 2: REPLAYS 10..19 plus fresh 20..29
    // (an at-least-once source re-delivering the tail of a batch)
    mkEvents(20).coalesce(1).write.mode("append").parquet(landing)
    mkEvents(30).filter($"event_id" >= 10).coalesce(1).write.mode("append").parquet(landing)

    val deduped = EventStream.dedupEvents(
      EventStream.readEvents(spark, landing, maxFilesPerTrigger = 1))
    val q = EventStream.writeParquet(deduped, out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 30L), s"got ${ids.length} ids: ${ids.take(40).mkString(",")}")
  }

  test("streaming near-dup drops signature-equal docs within the watermark") {
    val landing = Files.createTempDirectory("graft_neardup_in").toString
    val ckpt = Files.createTempDirectory("graft_neardup_ck").toString
    val out = Files.createTempDirectory("graft_neardup_out").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // drop 1: three originals; drop 2: a case variant of doc 0 (same
    // minhash signature after lower() -> dropped; md5-exact dedup would
    // MISS it), a word-reordered doc (different shingles -> kept), a
    // short-doc exact dup (raw-hash fallback -> dropped), a short fresh
    // doc (kept)
    Seq((0L, ts(0), "the quick brown fox jumps over the lazy dog"),
      (1L, ts(1), "pack my box with five dozen liquor jugs"),
      (2L, ts(2), "hi there"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("append").parquet(landing)
    Seq((10L, ts(3), "The QUICK Brown Fox Jumps Over The Lazy Dog"),
      (11L, ts(4), "jugs liquor dozen five with box my pack"),
      (12L, ts(5), "hi there"),
      (13L, ts(6), "hi world"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("append").parquet(landing)
    val docsStream = spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
    val q = EventStream.writeParquet(EventStream.nearDedupDocs(docsStream), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val got = spark.read.parquet(out)
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L, 11L, 13L))
    // provenance: the signature column landed, and the case variant's
    // signature equals the original's (the reason it was dropped)
    val sig0 = got.filter($"doc_id" === 0L).select("sig").head().getString(0)
    assert(sig0.split("\\|").length == 16)
  }

  test("docSignature == t02 batch lanes; null text never dedups") {
    // parity: the streaming sig must be the batch sl array joined by
    // '|' for any doc with >= 3 words (shared helpers in TextOps)
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val batch = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .selectExpr("doc_id", s"${graft.operators.TextOps.shingleSql} AS sh")
      .selectExpr("doc_id", "transform(sh, t -> md5(t)) AS hd")
      .select(col("doc_id"),
        concat_ws("|", graft.operators.TextOps.minhashLanes(col("hd")): _*).as("batch_sig"))
    val joined = EventStream.docSignature(docs)
      .join(batch, "doc_id")
      .select($"sig" === $"batch_sig").as[Boolean].collect()
    assert(joined.length == 2 && joined.forall(identity))
    // null text: per-doc unique key, so two null-text docs keep
    // distinct signatures (never silently collapsed by the dedup)
    val nulls = EventStream.docSignature(
      Seq((7L, null: String), (8L, null: String)).toDF("doc_id", "text"))
      .select("sig").as[String].collect()
    assert(nulls.toSet == Set("null:7", "null:8"))
  }

  test("stream-static enrichment join carries the dimension, no state") {
    val landing = Files.createTempDirectory("graft_enrich_in").toString
    val ckpt = Files.createTempDirectory("graft_enrich_ck").toString
    val out = Files.createTempDirectory("graft_enrich_out").toString
    mkEvents(21).coalesce(1).write.mode("append").parquet(landing)
    val dim = (0L until 7L).map(u => (u, s"segment_${u % 3}")).toDF("user_id", "segment")
    val q = EventStream.writeParquet(
      EventStream.enrich(EventStream.readEvents(spark, landing), dim), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val got = spark.read.parquet(out)
    assert(got.count() == 21)
    assert(got.filter($"segment".isNull).count() == 0)
    assert(got.filter($"user_id" === 3L).select("segment").distinct().head().getString(0) == "segment_0")
  }

  test("stream-stream interval join pairs views with later purchases") {
    val landing = Files.createTempDirectory("graft_ssj_in").toString
    val ckpt = Files.createTempDirectory("graft_ssj_ck").toString
    val out = Files.createTempDirectory("graft_ssj_out").toString
    val base = 1700000000000000000L
    def ev(id: Long, secOff: Long, user: Long, typ: String) =
      (id, base + secOff * 1_000_000_000L, user, typ, id * 1.0, "{}")
    // user 1: view at t0, purchase 10 min later (paired); purchase
    // 2h later (outside interval); user 2: purchase with no view.
    // Watermark sentinels must survive the view/purchase FILTERS to
    // reach the watermark operators (a non-matching event_type never
    // would): one far-future view and one purchase 2h after it — too
    // far apart to pair with anything, but each advances its side's
    // watermark, which a left-outer variant of this join would need
    // before emitting anything.
    Seq(ev(0, 0, 1, "view"), ev(1, 600, 1, "purchase"),
      ev(2, 7800, 1, "purchase"), ev(3, 300, 2, "purchase"),
      ev(98, 86400 * 30, 3, "view"), ev(99, 86400 * 30 + 7200, 4, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(landing)
    val q = EventStream.writeParquet(
      EventStream.viewToPurchase(EventStream.readEvents(spark, landing)), out, ckpt)
    assert(q.awaitTermination(240000), "stream did not drain in 240s")
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1, rows.mkString(";"))
    assert(rows.head.getAs[Double]("purchase_value") == 1.0)
  }
}
