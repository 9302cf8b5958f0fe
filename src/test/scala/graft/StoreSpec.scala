package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.store.{GraftTable, StatsPruner}

/** Versioned-table layer: snapshots, time travel, branches, row-level
  * DML (copy-on-write), compaction, vacuum, stats pruning — the
  * capability walden gets from Iceberg-on-Nessie (`tf/main.tf:93-98`).
  */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot: String =
    Files.createTempDirectory("graft_table").resolve("t").toString

  test("create / append / read / history") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "score"))
    assert(t.read().count() == 2)
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "score"))
    assert(t.read().count() == 3)
    assert(t.history.map(_.op) == Seq("create", "append"))
    // reload from disk
    val t2 = GraftTable.load(spark, root)
    assert(t2.read().count() == 3)
  }

  test("commit-log checkpoints bound snapshot resolution") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((0L, "v")).toDF("id", "v"))
    val interval = graft.store.CommitLog.CheckpointInterval
    (1 to interval + 3).foreach(i => t.append(Seq((i.toLong, "v")).toDF("id", "v")))
    // a checkpoint landed at the interval boundary...
    val ckpts = Files.list(java.nio.file.Paths.get(root, "_graft_log"))
    val names = try {
      import scala.jdk.CollectionConverters._
      ckpts.iterator().asScala.map(_.getFileName.toString).toVector
    } finally ckpts.close()
    assert(names.exists(_.endsWith(".ckpt")), names.sorted)
    // ...and resolution stays correct across it: head, pre-checkpoint
    // time travel, post-checkpoint time travel, and a fresh load
    assert(t.read().count() == interval + 4)
    assert(t.read(asOfVersion = Some(3)).count() == 3)
    assert(t.read(asOfVersion = Some(interval.toLong + 2)).count() == interval + 2)
    assert(GraftTable.load(spark, root).read().count() == interval + 4)
  }

  test("time travel and branches") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    t.createBranch("stable") // points at v1
    t.append(Seq((2L, "b")).toDF("id", "v")) // v2
    t.tag("after_load")
    t.overwrite(Seq((9L, "z")).toDF("id", "v")) // v3
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(9L))
    assert(t.read(asOfVersion = Some(1)).count() == 1)
    assert(t.read(asOfVersion = Some(2)).count() == 2)
    assert(t.read(ref = Some("stable")).count() == 1)
    assert(t.read(ref = Some("after_load")).count() == 2)
    assert(t.refs.keySet == Set("main", "stable", "after_load"))
  }

  test("delete is copy-on-write: untouched files survive by reference") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      spark.range(0, 1000).select(col("id"), (col("id") % 10).as("bucket"))
        .repartition(4))
    val filesBefore = t.history.last.added.map(_.path).toSet
    t.delete(col("id") === 5L)
    assert(t.read().filter(col("id") === 5L).count() == 0)
    assert(t.read().count() == 999)
    val c = t.history.last
    assert(c.op == "delete")
    // only the file(s) containing id=5 were rewritten
    assert(c.removed.toSet.subsetOf(filesBefore) && c.removed.nonEmpty)
    assert(c.removed.size < filesBefore.size || filesBefore.size == 1)
  }

  test("update rewrites only matching rows") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "score"))
    t.update(col("id") === 2L, Map("score" -> lit(99.0), "name" -> lit("B")))
    val rows = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "a", 1.0), (2L, "B", 99.0), (3L, "c", 3.0)))
  }

  test("merge upserts") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.merge(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val rows = t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    assert(t.history.last.op == "merge")
  }

  test("merge matches keys with ===: a NULL key never matches, its source row inserts") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((None: Option[Long], "n0"), (Some(1L), "a")).toDF("id", "v"))
    t.merge(Seq((None: Option[Long], "n1"), (Some(1L), "A")).toDF("id", "v"), Seq("id"), "keyed")
    val rows = t.read().collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(rows == Set((None, "n0"), (None, "n1"), (Some(1L), "A")), rows)
    assert(t.history.last.op == "keyed")
  }

  test("compact + vacuum") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, spark.range(0, 100).repartition(8).toDF())
    t.compact()
    assert(t.read().count() == 100)
    // old files still referenced by v1 -> vacuum keeps them
    assert(t.vacuum() == 0)
    assert(t.read(asOfVersion = Some(1)).count() == 100)
  }

  test("incremental compaction: onlyFilesSmallerMB sweeps small files, keeps big ones (r11)") {
    val root = freshRoot
    // one >1 MB file (incompressible uuid payload) + three one-row
    // streaming-style appends — the shape a per-trigger sink leaves
    val big = spark.range(0, 60000)
      .selectExpr("id", "concat(uuid(), uuid()) AS s").coalesce(1)
    val t = GraftTable.create(spark, root, big)
    val bigPath = t.history.last.added.head.path
    val bigBytes = t.history.last.added.head.bytes
    assert(bigBytes > (1L << 20), s"test premise: big file is $bigBytes B <= 1 MB")
    for (i <- 0 until 3)
      t.append(Seq((10000L + i, "x")).toDF("id", "s").coalesce(1))
    assert(t.read().inputFiles.length == 4)
    // sweep at 1 MB: the three appends merge into ONE file, the big
    // file is untouched (same path survives in the new snapshot)
    val vPartial = t.compact(onlyFilesSmallerMB = Some(1))
    assert(t.read().inputFiles.length == 2, t.read().inputFiles.mkString(","))
    assert(t.read().inputFiles.exists(_.endsWith(bigPath)),
      "the big file must survive a small-file sweep un-rewritten")
    assert(t.read().count() == 60003)
    assert(t.history.last.op == "compact")
    // nothing small left to sweep (merged smalls are one file now, and
    // files.size <= 1 short-circuits): version does not churn
    assert(t.compact(onlyFilesSmallerMB = Some(1)) == t.currentVersion)
    // the mode refuses to combine with re-layout options
    intercept[IllegalArgumentException] {
      t.compact(clusterBy = Seq("id"), onlyFilesSmallerMB = Some(1))
    }
    // time travel across the sweep still reads pre-sweep snapshots
    assert(t.read(asOfVersion = Some(vPartial - 1)).count() == 60003)
  }

  test("predicate-scoped compaction: where rewrites only stats-matching files (r14)") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot
    // a clustered table (day ranges in disjoint files) + streaming-
    // style appends into ONE hot day — the OPTIMIZE ... WHERE shape
    val t = GraftTable.create(spark, root,
      spark.range(0, 1000).selectExpr("id % 10 AS day", "id AS v"))
    t.compact(clusterBy = Seq("day"), numFiles = Some(10))
    val coldFiles = t.read(filters = Seq(col("day") === 0)).inputFiles.toSet
    for (i <- 0 until 3)
      t.append(Seq((9L, 10000L + i)).toDF("day", "v").coalesce(1))
    val before = t.read().inputFiles.length
    // scope the sweep to the hot day: its files consolidate, every
    // day-0 file survives at its ORIGINAL path (never rewritten)
    val v = t.compact(where = Seq(col("day") === 9))
    assert(t.history.last.op == "compact")
    assert(t.read().inputFiles.length < before,
      s"scoped compact did not consolidate: $before -> ${t.read().inputFiles.length}")
    assert(t.read(filters = Seq(col("day") === 0)).inputFiles.toSet == coldFiles,
      "a scoped compact must not rewrite out-of-scope files")
    // file-granular semantics: every row survives, any scope
    assert(t.read().count() == 1003)
    assert(t.read(filters = Seq(col("day") === 9)).count() == 103)
    // composes with the small-file sweep; refuses a global re-layout
    t.append(Seq((9L, 20000L)).toDF("day", "v").coalesce(1))
    t.compact(where = Seq(col("day") === 9), onlyFilesSmallerMB = Some(1))
    assert(t.read().count() == 1004)
    intercept[IllegalArgumentException] {
      t.compact(where = Seq(col("day") === 9), clusterBy = Seq("day"))
    }
    // a scope matching nothing is a no-op (no version churn)
    assert(t.compact(where = Seq(col("day") === 999)) == t.currentVersion)
    // time travel across the scoped sweep still reads old snapshots
    assert(t.read(asOfVersion = Some(v - 1)).count() == 1003)
  }

  test("stats pruning drops non-matching files, never rows") {
    val root = freshRoot
    // 4 disjoint id-range files via repartitionByRange
    val df = spark.range(0, 4000).toDF("id")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    val t = GraftTable.create(spark, root, df)
    val files = t.history.last.added
    assert(files.size == 4)
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
    val kept = StatsPruner.prune(files,
      Seq(LessThan(UnresolvedAttribute("id"), Literal(100L))), t.schema)
    assert(kept.size == 1, s"expected 1 file kept, got ${kept.map(_.path)}")
    // correctness unaffected
    assert(t.read(filters = Seq(col("id") < 100L)).count() == 100)
    assert(t.read(filters = Seq(col("id") >= 0L)).count() == 4000)
  }

  test("schema evolution: add column is metadata-only; old files read NULL") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val filesBefore = t.history.flatMap(_.added).map(_.path).toSet
    t.addColumn("score", org.apache.spark.sql.types.DoubleType)
    assert(t.history.last.op == "altschema" && t.history.last.added.isEmpty)
    assert(t.history.flatMap(_.added).map(_.path).toSet == filesBefore) // no rewrite
    // pre-evolution rows read NULL for the new column
    assert(t.read().filter(col("score").isNull).count() == 2)
    // appends align by name: missing column fills NULL, new column lands
    t.append(Seq((3L, "c", 9.5)).toDF("id", "v", "score"))
    t.append(Seq((4L, "d")).toDF("id", "v")) // old-shaped producer
    val rows = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, null), (2L, null), (3L, 9.5), (4L, null)))
    // unknown columns are rejected
    intercept[IllegalArgumentException] {
      t.append(Seq((5L, "e", 1.0, true)).toDF("id", "v", "score", "zzz"))
    }
    // time travel still sees the pre-evolution schema
    assert(!t.read(asOfVersion = Some(1)).schema.fieldNames.contains("score"))
  }

  test("clustered compaction makes stats pruning partition-grade") {
    val root = freshRoot
    // 8 files of uniformly-shuffled ids -> every file spans ~the full range
    val t = GraftTable.create(spark, root,
      spark.range(0, 8000).toDF("id").repartition(8))
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
    val pred = Seq(LessThan(UnresolvedAttribute("id"), Literal(100L)))
    val keptBefore = StatsPruner.prune(t.history.last.added, pred, t.schema)
    assert(keptBefore.size == 8, "uniform files cannot prune")
    t.compact(clusterBy = Seq("id"), numFiles = Some(8))
    val files = t.history.last.added
    val keptAfter = StatsPruner.prune(files, pred, t.schema)
    assert(files.size > 1 && keptAfter.size == 1,
      s"clustered files should prune to 1, got ${keptAfter.size}/${files.size}")
    assert(t.read(filters = Seq(col("id") < 100L)).count() == 100)
  }

  test("write-time cluster spec: every append prunes from commit one; rename follows; drop refused") {
    val root = freshRoot
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
    // AQE sizes the range-clustered write's files by BYTES (the right
    // behavior at scale — one advisory-sized file per range span); this
    // test's ~100 KB batches would coalesce to one file under the
    // default 64 MB advisory, so shrink it for the test's duration
    val advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val minPart = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4KB")
    try {
    // create WITH the spec: the uniformly-shuffled create batch itself
    // lands range-clustered — no compact() needed before pruning works
    val t = GraftTable.create(spark, root,
      spark.range(0, 8000).toDF("id").withColumn("v", col("id") * 2)
        .repartition(8), clusterBy = Seq("id"))
    val pred = Seq(LessThan(UnresolvedAttribute("id"), Literal(100L)))
    val created = t.history.last.added
    val kept0 = StatsPruner.prune(created, pred, t.schema)
    assert(created.size > 1 && kept0.size == 1,
      s"create batch should land clustered, pruned ${kept0.size}/${created.size}")
    // an ordinary append clusters too
    t.append(spark.range(8000, 16000).toDF("id").withColumn("v", col("id") * 2)
      .repartition(8))
    val appended = t.history.last.added
    assert(appended.size > 1 &&
      StatsPruner.prune(appended,
        Seq(LessThan(UnresolvedAttribute("id"), Literal(8100L))), t.schema).size == 1)
    assert(t.read(filters = Seq(col("id") < 100L)).count() == 100)
    // rename: the spec is field-id-tracked, clustering continues
    t.renameColumn("id", "doc_id")
    t.append(spark.range(16000, 24000).toDF("doc_id").withColumn("v", col("doc_id") * 2)
      .repartition(8))
    val renamed = t.history.last.added
    assert(renamed.size > 1 &&
      StatsPruner.prune(renamed,
        Seq(LessThan(UnresolvedAttribute("doc_id"), Literal(16100L))), t.schema).size == 1)
    // dropping a cluster column is refused loudly; other columns drop fine
    val e = intercept[IllegalArgumentException](t.dropColumn("doc_id"))
    assert(e.getMessage.contains("cluster spec"), e.getMessage)
    // an explicit compact layout is NOT re-ranged by the spec: zorder
    // on (doc_id, v) must keep its tiling — both dims prune
    t.compact(zorderBy = Seq("doc_id", "v"), numFiles = Some(8))
    val zfiles = t.history.last.added
    val pruneV = StatsPruner.prune(zfiles,
      Seq(LessThan(UnresolvedAttribute("v"), Literal(2000L))), t.schema)
    assert(zfiles.size > 2 && pruneV.size < zfiles.size,
      s"zorder tiling destroyed by the cluster spec: v-pruned ${pruneV.size}/${zfiles.size}")
    t.dropColumn("v")
    assert(t.schema.fieldNames.toSeq == Seq("doc_id"))
    // non-orderable cluster columns refuse BEFORE touching disk
    val root2 = freshRoot
    val e2 = intercept[IllegalArgumentException](
      GraftTable.create(spark, root2,
        spark.range(3).toDF("id").withColumn("m", map(col("id").cast("string"), col("id"))),
        clusterBy = Seq("m")))
    assert(e2.getMessage.contains("non-orderable"), e2.getMessage)
    GraftTable.create(spark, root2, spark.range(3).toDF("id")) // root reusable
    } finally {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", minPart)
    }
  }

  test("write-audit-publish: staged rows invisible until one atomic publish") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val s1 = t.stageAppend(Seq((2L, "b"), (3L, "bad")).toDF("id", "v"))
    val s2 = t.stageAppend(Seq((4L, "c")).toDF("id", "v"))
    // WRITE done, nothing visible: head, time travel, refs all clean
    assert(t.read().count() == 1)
    assert(t.currentVersion == 1)
    // AUDIT: staged rows readable in isolation
    assert(t.readStaged(s1).count() == 2)
    assert(t.readStaged(s2).select("v").collect().map(_.getString(0)).toSeq == Seq("c"))
    // audit failed for s1 -> discard; its files disappear AND its
    // per-write directory (with _SUCCESS/.crc markers) goes with them —
    // vacuum never removes directories, so discard must (ADVICE r5)
    t.discardStaged(s1)
    assert(t.read().count() == 1)
    val s1Dir = java.nio.file.Paths.get(root, s1.files.head.path).getParent
    assert(!java.nio.file.Files.exists(s1Dir),
      s"discarded write's directory should be fully removed: $s1Dir")
    // PUBLISH s2 atomically
    val v = t.publishStaged(Seq(s2))
    assert(t.read().count() == 2)
    assert(t.history.last.op == "publish" && t.history.last.version == v)
    // time travel: before the publish the staged rows never existed
    assert(t.read(asOfVersion = Some(1)).count() == 1)
    // normal appends keep working after WAP traffic
    t.append(Seq((9L, "z")).toDF("id", "v"))
    assert(t.read().count() == 3)
    // a crashed stage (never published, never discarded) is exactly the
    // unreferenced-file case vacuum's grace window owns
    t.stageAppend(Seq((99L, "orphan")).toDF("id", "v"))
    assert(t.vacuum(graceMs = 0) > 0)
    assert(t.read().count() == 3)
    // publishing a staged set whose files a too-eager vacuum already
    // removed fails LOUDLY instead of committing dangling paths
    val doomed = t.stageAppend(Seq((7L, "d")).toDF("id", "v"))
    t.vacuum(graceMs = 0)
    val e = intercept[IllegalArgumentException](t.publishStaged(Seq(doomed)))
    assert(e.getMessage.contains("vanished"), e.getMessage)
    assert(t.read().count() == 3) // head intact
  }

  test("a session that explicitly disabled field-id resolution is refused loudly") {
    // ADVICE r5: silently flipping the SESSION conf would change how
    // unrelated parquet reads in that session resolve columns
    val root = freshRoot
    GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
    val e = intercept[IllegalStateException](GraftTable.load(s2, root))
    assert(e.getMessage.contains("fieldId") && e.getMessage.contains("explicitly"),
      e.getMessage)
    // same session with the conf cleared back to default: load flips it
    // on (the documented foreign-session cover) and reads fine
    s2.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    assert(GraftTable.load(s2, root).read().count() == 1)
    assert(s2.conf.get("spark.sql.parquet.fieldId.read.enabled") == "true")
  }

  test("truncate is one metadata commit; history and time travel survive") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v = t.truncate()
    assert(t.read().count() == 0)
    assert(t.commitInfo(v).op == "overwrite" && t.commitInfo(v).added.isEmpty)
    assert(t.read(asOfVersion = Some(1)).count() == 2)
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.read().count() == 1)
  }

  test("string stats bounds are truncated but stay valid (long-text columns)") {
    val root = freshRoot
    val longA = "a" * 500 + "LOW"
    val longZ = "z" * 500 + "HIGH"
    val t = GraftTable.create(spark, root,
      Seq((1L, longA), (2L, longZ), (3L, "middle")).toDF("id", "text"))
    val fs = t.history.last.added
    // bounds stored truncated — the commit log stays metadata-sized
    fs.foreach { f =>
      f.min.get("text").foreach(m => assert(m.length <= StatsPruner.StringBoundLen, m.length))
      f.max.get("text").foreach(m => assert(m.length <= StatsPruner.StringBoundLen, m.length))
    }
    // ...and remain VALID bounds: equality reads on the full long values
    // still find their rows (a wrong bound would prune the file away)
    assert(t.read(filters = Seq(col("text") === longA)).count() == 1)
    assert(t.read(filters = Seq(col("text") === longZ)).count() == 1)
    assert(t.read(filters = Seq(col("text") === "middle")).count() == 1)
    // a predicate above even the increment-truncated upper bound
    // ("zzz...z{") still prunes everything; '|' sorts above '{'
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal}
    val kept = StatsPruner.prune(fs,
      Seq(GreaterThan(UnresolvedAttribute("text"), Literal("|"))), t.schema)
    assert(kept.isEmpty, kept)
    // ...while a predicate the truncated bound cannot exclude keeps the file
    val keptZ = StatsPruner.prune(fs,
      Seq(GreaterThan(UnresolvedAttribute("text"), Literal("zzzz"))), t.schema)
    assert(keptZ.size == 1, keptZ)

    // truncateUpper edge cases
    assert(StatsPruner.truncateUpper("abc").contains("abc"))
    // "abab..." truncated to 64 -> last 'b' increments to 'c'
    assert(StatsPruner.truncateUpper("ab" * 100).contains(("ab" * 100).take(63) + "c"))
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(StatsPruner.truncateUpper(maxCp * 40, 4).isEmpty,
      "all-U+10FFFF prefix has no upper bound")
    // increment skips the surrogate block: U+D7FF bumps to U+E000
    assert(StatsPruner.truncateUpper("퟿" * 10, 4).contains("퟿" * 3 + ""))
  }

  test("bloom-filter table property: per-file blooms on the configured column only") {
    import scala.jdk.CollectionConverters._
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      (0L until 2000L).map(i => (i, s"k$i")).toDF("id", "name"),
      bloomFilterCols = Seq("name"))
    t.append((2000L until 3000L).map(i => (i, s"k$i")).toDF("id", "name"))
    assert(GraftTable.load(spark, root).bloomFilterCols == Seq("name"))
    // every data file carries a bloom for `name` and none for `id`
    val conf = spark.sessionState.newHadoopConf()
    val dataFiles = {
      val s = Files.walk(java.nio.file.Paths.get(root, "data"))
      try s.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector
      finally s.close()
    }
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try {
        val offsets = reader.getFooter.getBlocks.get(0).getColumns.asScala
          .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
        assert(offsets("name") >= 0, s"$f: no bloom on name ($offsets)")
        assert(offsets("id") == -1, s"$f: unexpected bloom on id ($offsets)")
      } finally reader.close()
    }
    // reads behave identically (bloom is IO-only)
    assert(t.read(filters = Seq(col("name") === "k2500")).count() == 1)
    assert(t.read().count() == 3000)
    // unknown column rejected at create
    intercept[IllegalArgumentException](GraftTable.create(spark, freshRoot,
      Seq((1L, "x")).toDF("id", "name"), bloomFilterCols = Seq("nope")))
  }

  test("changes(v1, v2): CDC diff for append / update / delete / compact / evolution") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "score")) // v1
    t.append(Seq((4L, "d", 4.0)).toDF("id", "name", "score"))                          // v2
    t.update(col("id") === 2L, Map("score" -> lit(22.0)))                              // v3
    t.delete(col("id") === 3L)                                                         // v4
    t.compact(numFiles = Some(1))                                                      // v5
    t.addColumn("note", org.apache.spark.sql.types.StringType)                         // v6

    def diff(a: Long, b: Long): Set[(String, Long, Double)] =
      t.changes(a, b).select("_change_type", "id", "score").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    assert(diff(1, 2) == Set(("insert", 4L, 4.0)))
    // update = delete(old) + insert(new); the rewrite's carried rows cancel
    assert(diff(2, 3) == Set(("insert", 2L, 22.0), ("delete", 2L, 2.0)))
    assert(diff(3, 4) == Set(("delete", 3L, 3.0)))
    // compaction rewrites every file but changes no rows
    assert(t.changes(4, 5).count() == 0)
    // net diff across the whole history
    assert(diff(1, 4) == Set(("insert", 4L, 4.0),
      ("insert", 2L, 22.0), ("delete", 2L, 2.0), ("delete", 3L, 3.0)))
    // post-evolution diff aligns old files to the new schema (note=NULL)
    t.append(Seq((5L, "e", 5.0, "hi")).toDF("id", "name", "score", "note"))            // v7
    val ev = t.changes(5, 7).select("_change_type", "id", "note").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(ev == Set(("insert", 5L, Some("hi"))))
    intercept[IllegalArgumentException](t.changes(3, 3))
  }

  test("Z-order compaction prunes on BOTH dimensions; linear clustering only on one") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    def kept(t: GraftTable, colName: String, v: Long): Int =
      StatsPruner.prune(t.history.last.added,
        Seq(EqualTo(UnresolvedAttribute(colName), Literal(v))), t.schema).size
    // independent uniform dims on a 100x100 grid
    def grid = spark.range(0, 10000).toDF("id")
      .selectExpr("id", "id % 100 AS x", "CAST(id / 100 AS BIGINT) AS y")
      .repartition(4)

    val zt = GraftTable.create(spark, freshRoot, grid)
    zt.compact(numFiles = Some(16), zorderBy = Seq("x", "y"))
    val zFiles = zt.history.last.added.size
    assert(zFiles > 4, s"want >4 z-ordered files, got $zFiles")
    // tiles: a point predicate on EITHER dimension keeps ~sqrt of the files
    assert(kept(zt, "x", 5L) <= zFiles / 2, s"x: ${kept(zt, "x", 5L)}/$zFiles")
    assert(kept(zt, "y", 5L) <= zFiles / 2, s"y: ${kept(zt, "y", 5L)}/$zFiles")
    // data survives the rewrite byte-exactly
    assert(zt.read().count() == 10000)
    assert(zt.read(filters = Seq(col("x") === 5L)).count() == 100)
    assert(zt.read(filters = Seq(col("y") === 5L)).count() == 100)

    // contrast: linear clusterBy(x, y) prunes x but every file spans all y
    val lt = GraftTable.create(spark, freshRoot, grid)
    lt.compact(numFiles = Some(16), clusterBy = Seq("x", "y"))
    val lFiles = lt.history.last.added.size
    assert(kept(lt, "x", 5L) <= lFiles / 2)
    assert(kept(lt, "y", 5L) == lFiles, "linear clustering cannot prune the second dim")

    // guards
    intercept[IllegalArgumentException](zt.compact(zorderBy = Seq("x")))
    intercept[IllegalArgumentException](zt.compact(clusterBy = Seq("x"), zorderBy = Seq("x", "y")))
  }

  test("Z-order with >8 columns shrinks bits so the interleave fits one long") {
    // 10 columns would need bit position 9*10+9=99 at 8 bits/col — past
    // 63, where Spark's shiftleft wraps mod 64 and silently scrambles
    // the Z-value. bits shrinks to 63/10=6 (max position 59); the
    // rewrite must stay byte-exact.
    val names = "id" +: (0 until 9).map(i => s"c$i")
    val wide = spark.range(0, 2000).toDF("id")
      .selectExpr("id" +: (0 until 9).map(i => s"id % ${i + 2} AS c$i"): _*)
      .repartition(4)
    val t = GraftTable.create(spark, freshRoot, wide)
    t.compact(numFiles = Some(8), zorderBy = names)
    assert(t.history.last.op == "compact")
    assert(t.read().count() == 2000)
    assert(t.read(filters = Seq(col("c3") === 2L)).count() == 400) // id%5==2
    // >63 columns cannot fit even 1 bit each — refused up front
    val e = intercept[IllegalArgumentException](
      t.compact(zorderBy = (1 to 64).map(i => s"z$i")))
    assert(e.getMessage.contains("63"), e.getMessage)
  }

  test("appendAsOnce: a re-presented label is skipped atomically, files cleaned") {
    val t = GraftTable.create(spark, freshRoot,
      Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    val df = Seq((2L, "b", 2.0)).toDF("id", "name", "score")
    val (v1, a1) = t.appendAsOnce("once:0-1", df,
      _.startsWith("once:"), _.startsWith("once:0-"))
    // same FROM-range, different head — still a conflict (overlap)
    val (v2, a2) = t.appendAsOnce("once:0-2", df,
      _.startsWith("once:"), _.startsWith("once:0-"))
    assert(a1 && !a2 && v1 == v2, s"$v1/$a1 vs $v2/$a2")
    assert(t.history.count(_.op.startsWith("once:")) == 1, t.history.map(_.op))
    assert(t.read().count() == 2)
    // the skipped attempt left no unreferenced data behind
    val referenced = t.history.flatMap(_.added).map(_.path).toSet
    val dataRoot = java.nio.file.Paths.get(t.root, "data")
    val walk = java.nio.file.Files.walk(dataRoot)
    import scala.jdk.CollectionConverters._
    val onDisk = try {
      walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
        .map(p => java.nio.file.Paths.get(t.root).relativize(p).toString).toSet
    } finally walk.close()
    assert((onDisk -- referenced).isEmpty, s"orphans: ${onDisk -- referenced}")
  }

  test("column rename is metadata-only: field ids resolve pre-rename files") {
    import org.apache.spark.sql.types.StringType
    val t = GraftTable.create(spark, freshRoot,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    t.append(Seq((3L, "c", 3.0)).toDF("id", "name", "score"))
    val preRename = t.currentVersion
    t.renameColumn("name", "label")
    // the rename touched no data files
    assert(t.history.last.op == "altschema" && t.history.last.added.isEmpty)
    // pre-rename files surface their data under the NEW name (id resolution)
    assert(t.schema.fieldNames.toSeq == Seq("id", "label", "score"))
    assert(t.read().orderBy("id").select("label").as[String].collect().toSeq
      == Seq("a", "b", "c"))
    // writes after the rename mix with pre-rename files transparently
    t.append(Seq((4L, "d", 4.0)).toDF("id", "label", "score"))
    assert(t.read().orderBy("id").select("label").as[String].collect().toSeq
      == Seq("a", "b", "c", "d"))
    // time travel BEFORE the rename shows the old name over the same data
    val old = t.read(asOfVersion = Some(preRename))
    assert(old.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(old.orderBy("id").select("name").as[String].collect().toSeq == Seq("a", "b", "c"))
    // copy-on-write DML through the renamed column still works
    t.update(col("label") === "d", Map("score" -> lit(44.0)))
    assert(t.read().filter(col("label") === "d").select("score").as[Double].head() == 44.0)
    // guards: retired names never return (stats are name-keyed), and
    // rename targets must be fresh
    intercept[IllegalArgumentException](t.addColumn("name", StringType))
    intercept[IllegalArgumentException](t.renameColumn("score", "name"))
    intercept[IllegalArgumentException](t.renameColumn("id", "label"))
  }

  test("concurrent ADD COLUMNs both land with distinct field ids") {
    // code-review r5 finding: the schema payload must be rebuilt inside
    // the commit loop — a stale retry would drop the winner's column or
    // mint a duplicate field id (binding one column's name to the
    // other's bytes under id resolution)
    val t = GraftTable.create(spark, freshRoot,
      Seq((1L, "x")).toDF("id", "v"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val adders = Seq("a1", "a2", "a3", "a4").map { n =>
      Future(t.addColumn(n, org.apache.spark.sql.types.StringType))
    }
    Await.result(Future.sequence(adders), 60.seconds)
    val sch = t.schema
    assert(sch.fieldNames.toSet == Set("id", "v", "a1", "a2", "a3", "a4"), sch.fieldNames.toSeq)
    val ids = sch.fields.map(f => f.metadata.getLong("parquet.field.id"))
    assert(ids.distinct.length == ids.length, s"duplicate field ids: ${ids.toSeq}")
  }

  test("CDC across a rename matches columns by field id, not name") {
    val t = GraftTable.create(spark, freshRoot,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))          // v1
    t.renameColumn("v", "w")                               // v2
    t.update(col("id") === 2L, Map("w" -> lit("B")))       // v3
    // the rename itself must NOT read as a drop+add of every row;
    // only the genuine update appears in the diff
    val d = t.changes(1, 3).select("_change_type", "id", "w").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(d == Set(("insert", 2L, "B"), ("delete", 2L, "b")), d)
  }

  test("orc format: full lifecycle (walden pins iceberg.file-format=ORC)") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"),
      format = "orc")
    assert(t.format == "orc")
    t.append(Seq((3L, "c", 3.0)).toDF("id", "name", "score"))
    t.update(col("id") === 2L, Map("score" -> lit(22.0)))
    t.delete(col("id") === 1L)
    val rows = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.toSeq == Seq((2L, 22.0), (3L, 3.0)))
    assert(t.read(asOfVersion = Some(1)).count() == 2)
    // physical files are ORC, and a fresh load resolves the format
    val dataFiles = t.history.flatMap(_.added).map(_.path)
    assert(dataFiles.nonEmpty && dataFiles.forall(_.contains("part-")))
    assert(GraftTable.load(spark, root).format == "orc")
  }

  test("delete keeps rows where the condition evaluates to NULL") {
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((1L, Some("closed")), (2L, None), (3L, Some("open")))
        .toDF("id", "status").coalesce(1))
    t.delete(col("status") === "closed")
    // SQL DELETE WHERE status='closed' removes TRUE rows only; the
    // NULL-status row must survive
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  /** Every data file under the table root, commit-log-relative. */
  private def filesOnDisk(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val dataDir = java.nio.file.Paths.get(root, "data")
    val walk = Files.walk(dataDir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("[._].*"))
      .map(p => java.nio.file.Paths.get(root).relativize(p).toString).toSet
    finally walk.close()
  }

  test("copy-on-write: a stats candidate without a matching row is neither removed nor rewritten") {
    val root = freshRoot
    // two files whose id ranges overlap: evens 0..100 and odds 1..99 —
    // stats keep both for any id in [1, 99], only one can hold it
    val t = GraftTable.create(spark, root,
      spark.range(0, 101, 2).select(col("id"), col("id").cast("string").as("v")).coalesce(1))
    t.append(spark.range(1, 100, 2).select(col("id"), col("id").cast("string").as("v")).coalesce(1))
    val Seq(evens, odds) = t.history.map(_.added.map(_.path).head)
    t.delete(col("id") === 51L)
    val c = t.history.last
    assert(c.op == "delete" && c.removed == Seq(odds), c)
    assert(c.added.map(_.rows) == Seq(49L))
    // no uncommitted file: every file on disk is referenced by a commit
    assert(filesOnDisk(root) == t.history.flatMap(_.added).map(_.path).toSet)
    // both files are candidates again and neither holds a match: no job
    // output, no commit, no file
    val before = t.currentVersion
    assert(t.update(col("id") === 51L, Map("v" -> lit("x"))) == before)
    assert(t.delete(col("id") === 51L) == before)
    assert(t.currentVersion == before)
    assert(filesOnDisk(root) == t.history.flatMap(_.added).map(_.path).toSet)
    // an UPDATE rewrites only the file holding its match; rows whose
    // condition is NULL are left as they are. (v was created NOT NULL
    // from a cast of a non-null column; the NULL appended here must
    // still land in a readable file.)
    assert(!t.schema("v").nullable)
    t.append(Seq((200L, null: String)).toDF("id", "v"))
    t.update(col("v") === "40" || col("v").isNull && lit(null).cast("boolean"),
      Map("v" -> lit("forty")))
    val u = t.history.last
    assert(u.op == "update" && u.removed == Seq(evens), u)
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 101 && rows(40L) == "forty" && rows(200L) == null && rows(42L) == "42")
  }

  test("copy-on-write: a DELETE that empties a file removes it and adds nothing (parquet, orc)") {
    for (format <- Seq("parquet", "orc")) {
      val root = freshRoot
      val t = GraftTable.create(spark, root,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), format = format)
      t.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v").coalesce(1))
      val first = t.history.head.added.map(_.path)
      t.delete(col("id") <= 3L)
      val c = t.history.last
      assert(c.op == "delete" && c.removed == first && c.added.isEmpty, s"$format: $c")
      assert(t.read().collect().map(_.getLong(0)).toSet == Set(10L, 11L), format)
      assert(filesOnDisk(root) == t.history.flatMap(_.added).map(_.path).toSet, format)
      // an UPDATE with no condition probes no column at all
      t.update(lit(true), Map("v" -> upper(col("v"))))
      assert(t.history.last.removed == t.history(1).added.map(_.path), format)
      assert(t.read().orderBy("id").select("v").as[String].collect().toSeq == Seq("X", "Y"), format)
    }
  }

  test("copy-on-write DML after renameColumn (field ids) and addColumn (old files read NULL)") {
    import org.apache.spark.sql.types.StringType
    val root = freshRoot
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "score").coalesce(1))
    t.renameColumn("name", "label")
    t.delete(col("label") === "b")
    t.update(col("label") === "c", Map("score" -> lit(33.0)))
    t.addColumn("note", StringType)
    // the pre-addColumn file reads NULL for note: the probe and the
    // rewrite both see it
    t.update(col("note").isNull && col("id") === 1L, Map("note" -> lit("n1")))
    assert(t.history.last.op == "update" && t.history.last.added.map(_.rows) == Seq(2L))
    // the rewritten files carry field ids: a second rename still reads them
    t.renameColumn("label", "tag")
    val rows = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(rows == Seq((1L, "a", 1.0, "n1"), (3L, "c", 33.0, null)))
    t.delete(col("tag") === "a")
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("copy-on-write on a bucketed table: DELETE keeps one bucket per file, an UPDATE of the key re-buckets") {
    val root = freshRoot
    val n = 4
    val t = GraftTable.create(spark, root,
      spark.range(1, 41).select(col("id"), (col("id") * 10).as("v")), bucketBy = Some(("id", n)))
    def bucketOfFiles: Seq[Int] = t.planFiles(t.currentVersion).map(_.min(GraftTable.BucketStatKey).toInt)
    val filesBefore = t.planFiles(t.currentVersion).size
    t.delete(col("id") === 7L || col("id") === 8L)
    val d = t.history.last
    // one task per victim file: each output keeps its victim's bucket
    assert(d.removed.size == d.added.size && d.removed.size <= 2, d)
    assert(d.added.forall(f => f.min.get(GraftTable.BucketStatKey) == f.max.get(GraftTable.BucketStatKey) &&
      f.min.contains(GraftTable.BucketStatKey)), d.added)
    assert(bucketOfFiles.size == filesBefore && bucketOfFiles.distinct.size == filesBefore)
    // moving keys across buckets goes through the bucketed write
    t.update(col("id") <= 5L, Map("id" -> (col("id") + 1000L)))
    assert(t.planFiles(t.currentVersion).forall(_.min.contains(GraftTable.BucketStatKey)))
    val moved = (1001L to 1005L)
    moved.foreach { k =>
      val kept = t.planFiles(t.currentVersion, Seq(col("id") === k))
      assert(kept.nonEmpty && kept.forall(_.min(GraftTable.BucketStatKey).toInt == GraftTable.bucketOf(k, n)),
        s"key $k planned into ${kept.map(_.min(GraftTable.BucketStatKey))}")
      assert(t.read(filters = Seq(col("id") === k)).select("v").as[Long].collect().toSeq == Seq((k - 1000L) * 10))
    }
    val ids = t.read().select("id").as[Long].collect().toSet
    assert(ids == ((6L to 40L).toSet -- Set(7L, 8L)) ++ moved)
  }

  test("copy-on-write: a Column holding a subquery fails before anything is written") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("id", "score"))
    val v = t.currentVersion
    val files = filesOnDisk(root)
    val e1 = intercept[UnsupportedOperationException] {
      t.delete(expr("id = (SELECT max(id) FROM range(3))"))
    }
    assert(e1.getMessage.contains("subquery"), e1.getMessage)
    val e2 = intercept[UnsupportedOperationException] {
      t.update(col("id") === 1L, Map("score" -> expr("(SELECT 9.0)")))
    }
    assert(e2.getMessage.contains("subquery"), e2.getMessage)
    assert(t.currentVersion == v && filesOnDisk(root) == files)
    assert(t.read().count() == 2)
  }

  test("copy-on-write over NOT NULL columns holding NULL: DELETE finds the NULLs, UPDATE keeps them (parquet, orc)") {
    for (format <- Seq("parquet", "orc")) {
      val root = freshRoot
      // every column NOT NULL: created from non-null expressions
      val t = GraftTable.create(spark, root,
        spark.range(0, 3).select(col("id"), (col("id") * 10).as("n"), col("id").cast("string").as("v")),
        format = format)
      assert(t.schema.fields.forall(!_.nullable), s"$format: ${t.schema}")
      // one file holding NULLs in both NOT NULL columns next to a row
      // without any
      t.append(Seq[(Long, Option[Long], Option[String])]((10L, None, None), (11L, Some(5L), Some("eleven")))
        .toDF("id", "n", "v").coalesce(1))
      val nullFile = t.history.last.added.map(_.path)
      def rows: Map[Long, (Any, Any)] =
        t.read().collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
      // UPDATEs of the other row rewrite the NULL row through col(...)
      t.update(col("id") === 11L, Map("v" -> lit("ELEVEN")))
      assert(t.history.last.removed == nullFile, s"$format: ${t.history.last}")
      t.update(col("id") === 11L, Map("id" -> lit(12L)))
      assert(rows == Map(0L -> (0L, "0"), 1L -> (10L, "1"), 2L -> (20L, "2"),
        10L -> (null, null), 12L -> (5L, "ELEVEN")), format)
      // a coalesce fallback over the NOT NULL column is kept
      t.update(col("n").isNull, Map("n" -> coalesce(col("n"), lit(-1L))))
      assert(rows(10L) == ((-1L, null)), format)
      // DELETE WHERE v IS NULL removes the row instead of nothing
      t.delete(col("v").isNull)
      assert(t.history.last.op == "delete", s"$format: ${t.history.last}")
      assert(rows == Map(0L -> (0L, "0"), 1L -> (10L, "1"), 2L -> (20L, "2"), 12L -> (5L, "ELEVEN")),
        format)
      assert(t.schema.fields.forall(!_.nullable), s"$format: ${t.schema}")
    }
  }

  test("merge rejects duplicate source keys instead of duplicating rows") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id"))
    }
    assert(t.read().count() == 1)
  }

  test("create on an existing root refuses before touching metadata") {
    val root = freshRoot
    GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"), format = "orc")
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, root, Seq((2L, "b")).toDF("id", "v"))
    }
    // format metadata survived the refused create
    assert(GraftTable.load(spark, root).format == "orc")
  }

  test("create never overwrites a concurrently-published props file") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    // simulate losing the create race: another create already published
    // its props (orc) but this thread is past the exists check — the
    // CREATE_NEW publish must abort the loser, not clobber the winner
    val root = freshRoot
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(root, "_graft_props.json"), """{"format":"orc"}""".getBytes)
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"), format = "parquet")
    }
    val props = new String(Files.readAllBytes(Paths.get(root, "_graft_props.json")))
    assert(props.contains("orc"), props)
    // explicit recovery path for CRASHED creates (no commits behind the
    // props): clearStaleCreate unblocks the root, then create succeeds
    GraftTable.clearStaleCreate(root)
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    assert(t.read().count() == 1 && t.format == "parquet")
    // ...but refuses on a live table
    intercept[IllegalArgumentException] { GraftTable.clearStaleCreate(root) }
    assert(GraftTable.load(spark, root).read().count() == 1)
  }

  test("unknown ref fails loudly instead of silently reading head") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] { t.read(ref = Some("nope")).count() }
    assert(ex.getMessage.contains("unknown ref"))
  }

  test("timestamp stats prune correctly regardless of session timezone") {
    val root = freshRoot
    import org.apache.spark.sql.types.TimestampType
    val df = spark.range(0, 4000)
      .select((expr("timestamp_micros(id * 3600000000)")).as("ts"), col("id"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    val t = GraftTable.create(spark, root, df)
    val files = t.history.last.added
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
    // literal: micros since epoch for hour 100
    val lit100h = Literal(100L * 3600000000L,
      org.apache.spark.sql.types.TimestampType)
    val kept = StatsPruner.prune(files,
      Seq(LessThan(UnresolvedAttribute("ts"), lit100h)), t.schema)
    assert(kept.size == 1, s"expected 1 file, got ${kept.map(_.path)}")
    assert(t.read(filters = Seq(col("ts") < expr("timestamp_micros(360000000000)"))).count() == 100)
  }

  test("conflicting DML on the same file throws instead of corrupting") {
    val root = freshRoot
    // one file containing both victim rows
    val t1 = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    val t2 = GraftTable.load(spark, root)
    t1.delete(col("id") === 1L) // rewrites the only file
    // t2 now deletes id=2: its scan sees the fresh snapshot -> fine
    t2.delete(col("id") === 2L)
    assert(t2.read().collect().map(_.getLong(0)).toSet == Set(3L))
    // true conflict: replay t1's stale commit shape directly — removing
    // a file that is no longer live must be refused at commit time
    val staleVictim = t1.history.head.added.map(_.path)
    val ex = intercept[java.util.ConcurrentModificationException] {
      GraftTable.commitForTest(t1, "delete", Nil, staleVictim, basedOn = 1L)
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // and the table is untouched by the refused commit
    assert(t2.read().collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("concurrent appends both land (optimistic retry)") {
    val root = freshRoot
    val t = GraftTable.create(spark, root, Seq((0L, "seed")).toDF("id", "v"))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        GraftTable.load(spark, root).append(Seq((i.toLong, s"w$i")).toDF("id", "v"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(t.read().count() == 5)
    assert(GraftTable.load(spark, root).history.size == 5)
  }

  /** The per-file stats oracle: ONE aggregate query over `files`, grouped
    * by `input_file_name()` — how the store computed stats before the
    * write tasks did. Same rendering (Cast to string, TIMESTAMP as epoch
    * micros) and the same string-bound truncation. */
  private def aggregateStats(root: String, t: GraftTable,
                             files: Seq[graft.store.FileStat]): Map[String, graft.store.FileStat] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types._
    val sch = t.schema
    val statCols = sch.fields.filter(f => StatsPruner.comparable(f.dataType))
    def render(c: Column, dt: DataType): Column = dt match {
      case TimestampType => unix_micros(c).cast(StringType)
      case _ => c.cast(StringType)
    }
    val bucketAggs = t.bucketColumn.zip(t.bucketCount).toSeq.flatMap { case (name, n) =>
      Seq(min(pmod(hash(col(name)), lit(n))).cast(StringType).as("__bmin"),
        max(pmod(hash(col(name)), lit(n))).cast(StringType).as("__bmax"))
    }
    val aggs = count(lit(1)).as("__rows") +: (statCols.flatMap { f =>
      Seq(render(min(col(f.name)), f.dataType).as(s"__min_${f.name}"),
        render(max(col(f.name)), f.dataType).as(s"__max_${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"))
    } ++ bucketAggs)
    val rows = spark.read.schema(sch).format(t.format)
      .load(files.map(f => s"$root/${f.path}"): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val abs = r.getAs[String]("__file")
      val rel = files.map(_.path).find(p => abs.endsWith("/" + p)).get
      def bound(f: StructField, v: String, lower: Boolean): Option[String] = f.dataType match {
        case StringType =>
          if (lower) Some(StatsPruner.truncateLower(v)) else StatsPruner.truncateUpper(v)
        case _ => Some(v)
      }
      val bucket = if (bucketAggs.isEmpty) None else {
        val (lo, hi) = (r.getAs[String]("__bmin"), r.getAs[String]("__bmax"))
        if (lo == hi) Some(GraftTable.BucketStatKey -> lo) else None
      }
      rel -> graft.store.FileStat(rel, r.getAs[Long]("__rows"),
        Files.size(java.nio.file.Paths.get(root, rel)),
        statCols.flatMap(f => Option(r.getAs[String](s"__min_${f.name}"))
          .flatMap(bound(f, _, lower = true)).map(f.name -> _)).toMap ++ bucket,
        statCols.flatMap(f => Option(r.getAs[String](s"__max_${f.name}"))
          .flatMap(bound(f, _, lower = false)).map(f.name -> _)).toMap ++ bucket,
        statCols.map(f => f.name -> r.getAs[Long](s"__nulls_${f.name}")).toMap)
    }.toMap
  }

  test("write-task file stats equal the per-file aggregate, on every write path") {
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    val warehouse = Files.createTempDirectory("graft_stats_wh").toString
    spark.conf.set("spark.sql.catalog.gstats", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstats.warehouse", warehouse)
    // timestamps render as epoch micros, date/NTZ as wall-clock strings:
    // a non-UTC session must not move either
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val long = "w" * 80
      // every StatsPruner.comparable type, NaN, a string past the bound
      // length, an all-null column and a sparsely-null one
      val df = spark.range(0, 60, 1, 4).select(
        col("id").cast("int").as("i"),
        (col("id") * 1000003L).as("l"),
        when(col("id") % 7 === 3, lit(Double.NaN)).otherwise(col("id") * 1.5).as("d"),
        (col("id") / 4).cast("float").as("f"),
        (col("id") / 3).cast("decimal(12,3)").as("dec"),
        concat(lit(long), col("id").cast("string")).as("s"),
        expr("date_add(DATE'2024-02-27', CAST(id AS INT))").as("dt"),
        expr("timestamp_micros(1700000000000000 + id * 3600000123)").as("ts"),
        expr("CAST(timestamp_micros(1700000000000000 + id * 60000001) AS TIMESTAMP_NTZ)").as("ntz"),
        (col("id") % 3 === 0).as("b"),
        lit(null).cast("int").as("nul"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") - 30).as("sparse"))
      df.createOrReplaceTempView("stats_src")
      def check(root: String): Unit = {
        val t = GraftTable.load(spark, root)
        val written = t.history.flatMap(_.added)
        assert(written.nonEmpty)
        val oracle = aggregateStats(root, t, written)
        assert(oracle.keySet == written.map(_.path).toSet)
        written.foreach(f => assert(f == oracle(f.path), s"${f.path}: $f != ${oracle(f.path)}"))
        // the all-null column has no bounds; the NaN column's max is NaN
        assert(written.forall(f => !f.min.contains("nul") && f.nullCount("nul") == f.rows))
        assert(written.exists(_.max.get("d").contains("NaN")))
      }
      // store path: create + append
      val plain = freshRoot
      GraftTable.create(spark, plain, df).append(df)
      check(plain)
      val bucketed = freshRoot
      val bt = GraftTable.create(spark, bucketed, df, bucketBy = Some(("l", 4)))
      bt.append(df)
      check(bucketed)
      assert(bt.history.flatMap(_.added).forall(_.min.contains(GraftTable.BucketStatKey)))
      // catalog path: SQL INSERT through the DSv2 batch write
      spark.sql("CREATE NAMESPACE gstats.db")
      spark.sql("CREATE TABLE gstats.db.t AS SELECT * FROM stats_src WHERE false")
      spark.sql("INSERT INTO gstats.db.t SELECT * FROM stats_src")
      check(s"$warehouse/db/t")
      spark.sql("CREATE TABLE gstats.db.b PARTITIONED BY (bucket(4, l)) " +
        "AS SELECT * FROM stats_src WHERE false")
      spark.sql("INSERT INTO gstats.db.b SELECT * FROM stats_src")
      check(s"$warehouse/db/b")
      assert(GraftTable.load(spark, s"$warehouse/db/b").history.flatMap(_.added)
        .forall(_.min.contains(GraftTable.BucketStatKey)))
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }
}
