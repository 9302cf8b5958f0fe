package perfbench

import java.nio.file.{Files, Path}
import java.util.Locale

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.store.GraftTable

object LakeWrite {
  /** Orders keys below BaseKeys are loaded at set-up; keys up to PoolKeys
    * are appended by INSERT during the run, BatchKeys at a time. */
  val BaseKeys = 20000L
  val PoolKeys = 60000L
  val BatchKeys = 500L
  /** MERGE sources draw new keys from here, clear of the insert pool. */
  val MergeKeyBase = PoolKeys

  /** The fixed op schedule, repeated; `maintain` alternates between
    * `optimize` and `vacuum` from one cycle to the next. Writes to
    * orders are more than half the ops, so its commit log passes a
    * checkpoint (every 16 commits) about every second cycle. The mix
    * sets which op kinds the median and the tail fall on: six cheap
    * ops (reads, the append, maintenance), eight UPDATE/DELETE-like ops
    * of similar cost and two costly ones (MERGE, DELETE on the bucketed
    * table) a cycle put both quantiles inside the middle group, not on
    * the edge between groups whose latencies differ twofold. */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "insert", "point", "merge", "update", "range", "delete", "insert_lines", "update",
    "bucket_point", "delete", "time_travel", "update", "delete", "update", "delete_lines",
    "maintain")
  /** Nominal cycle length on 4 cores; a run makes seconds / CycleSeconds cycles. */
  val CycleSeconds = 3.3
  val Writes = Set("insert", "insert_lines", "merge", "update", "delete", "delete_lines")
  val Reads = Set("point", "range", "bucket_point", "time_travel")

  /** The source rows INSERT copies (orders and per-order line
    * aggregates of keys below PoolKeys), as a model to copy from. */
  def sourceRows(spark: org.apache.spark.sql.SparkSession, dir: String): LakeModel = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val src = new LakeModel
    src.insertOrders(graft.Tables(spark, dir, "orders").where(col("o_orderkey") < PoolKeys)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .collect().map(r =>
        OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))))
    graft.Tables(spark, dir, "lineitem").where(col("l_orderkey") < PoolKeys)
      .groupBy("l_orderkey")
      .agg(count(lit(1)), sum("l_partkey"), sum(col("l_quantity").cast("bigint")))
      .collect().foreach(r => src.addLines(r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    src
  }
}

/** Commits, checkpoints crossed, bytes added/removed and bytes added
  * by appends, over the commits of one phase. */
private final case class Churn(commits: Long, checkpoints: Long, added: Long,
                               removed: Long, appended: Long)

/** `lake_write`: one client runs DML, reads and maintenance against two
  * graft catalog tables built from sf0.1 orders/lineitem rows: `orders`
  * (plain) and `lines` (bucketed on the order key). Every read, time
  * travel included, is checked against [[LakeModel]]. */
final class LakeWrite(a: Args, s: Main.Session, warehouse: Path) extends Workload {
  import LakeWrite._
  private val spark = s.spark
  private val model = new LakeModel
  private val src = sourceRows(spark, a.data)
  private var ordersT: GraftTable = _
  private var linesT: GraftTable = _
  // the seed draws row values; which keys each op touches follows one
  // fixed schedule, so every seed rewrites the same files
  private val r = new java.util.Random(a.seed)
  private val keys = new java.util.Random(0)
  private var nextInsert = BaseKeys
  private var lastInserted = (0L, -1L)
  private var nextMergeKey = MergeKeyBase
  private var opIndex = 0L  // schedule slot of the timed phase

  // store facts of the timed phase: table versions at its start, the
  // pruned share of each store read, files removed by vacuum
  private var v0 = (0L, 0L)
  private var pruned = Vector.empty[Double]
  private var vacuumed = 0

  def build(): Unit = {
    graft.Tables(spark, a.data, "orders").createOrReplaceTempView("src_orders")
    graft.Tables(spark, a.data, "lineitem").createOrReplaceTempView("src_lines")
    spark.sql("CREATE NAMESPACE graft.lake")
    spark.sql("CREATE TABLE graft.lake.orders (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING)")
    spark.sql("CREATE TABLE graft.lake.lines (l_orderkey BIGINT, l_linenumber INT, " +
      "l_partkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE) " +
      "PARTITIONED BY (bucket(8, l_orderkey))")
    ordersT = GraftTable.load(spark, warehouse.resolve("lake").resolve("orders").toString)
    linesT = GraftTable.load(spark, warehouse.resolve("lake").resolve("lines").toString)
    model.commitOrders(ordersT.currentVersion)
    insertOrders(0L, BaseKeys - 1, new Tracer(false))
    insertLines(0L, BaseKeys - 1, new Tracer(false))
  }

  def warmUp(): Unit = {
    // warm-up: every kind of op once, optimize and vacuum included, so
    // that the first timed cycle is as fast as the later ones (the model
    // follows every write)
    val warm = new Tracer(false)
    (Cycle.distinct.filter(_ != "maintain") ++ Seq("optimize", "vacuum")).foreach { kind =>
      require(op(kind, warm), s"warm-up op $kind failed")
    }
  }

  private def sql(q: String): Array[Row] = spark.sql(q).collect()

  private def insertOrders(lo: Long, hi: Long, t: Tracer): Boolean = {
    t.span("catalog.write")(sql("INSERT INTO graft.lake.orders SELECT o_orderkey, o_custkey, " +
      s"o_orderstatus, o_totalprice, o_orderpriority FROM src_orders WHERE o_orderkey >= $lo AND o_orderkey <= $hi"))
    model.insertOrders((lo to hi).flatMap(src.point))
    model.commitOrders(ordersT.currentVersion)
    lastInserted = (lo, hi)
    true
  }

  private def insertLines(lo: Long, hi: Long, t: Tracer): Boolean = {
    t.span("catalog.write")(sql("INSERT INTO graft.lake.lines SELECT l_orderkey, l_linenumber, " +
      s"l_partkey, l_quantity, l_extendedprice FROM src_lines WHERE l_orderkey >= $lo AND l_orderkey <= $hi"))
    (lo to hi).foreach(k => model.addLines(k, src.linesOf(k)))
    true
  }

  private def price(): String =
    String.format(Locale.ROOT, "%.2f", Double.box(r.nextInt(50000000) / 100.0))

  /** Long column of an aggregate row, NULL (empty input) as 0. */
  private def long(row: Row, i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)

  /** The op a schedule slot runs: `maintain` is optimize in even cycles
    * and vacuum in odd ones. */
  private def resolve(slot: String): String =
    if (slot != "maintain") slot
    else if ((opIndex / Cycle.size) % 2 == 0) "optimize" else "vacuum"

  /** Runs one op of `kind`; true when it completed and passed its check. */
  private def op(kind: String, t: Tracer): Boolean = {
    // keys below nextInsert are the loaded range; INSERT only adds keys
    // above it and MERGE only new keys from MergeKeyBase, so no write
    // ever duplicates a key
    val maxKey = nextInsert
    kind match {
      case "insert" if nextInsert < PoolKeys =>
        val lo = nextInsert
        nextInsert += BatchKeys
        insertOrders(lo, lo + BatchKeys - 1, t)
      case "insert" | "merge" =>
        val rows = (0 until 60).map { i =>
          val k = if (i % 2 == 0) (keys.nextDouble() * maxKey).toLong
                  else { nextMergeKey += 1; nextMergeKey }
          OrderRow(k, r.nextInt(15000).toLong, Seq("F", "O", "P")(r.nextInt(3)),
            price().toDouble, Seq("1-URGENT", "2-HIGH", "3-MEDIUM")(r.nextInt(3)))
        }.groupBy(_.key).values.map(_.head).toSeq.sortBy(_.key)
        val values = rows.map(x => s"(${x.key}, ${x.cust}, '${x.status}', " +
          String.format(Locale.ROOT, "%.2fD", Double.box(x.price)) + s", '${x.priority}')")
        t.span("catalog.write")(sql(
          s"""MERGE INTO graft.lake.orders t
             |USING (SELECT * FROM VALUES ${values.mkString(", ")} AS v(k, c, st, p, pr)) s
             |ON t.o_orderkey = s.k
             |WHEN MATCHED THEN UPDATE SET o_custkey = s.c, o_orderstatus = s.st,
             |  o_totalprice = s.p, o_orderpriority = s.pr
             |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
             |  o_totalprice, o_orderpriority) VALUES (s.k, s.c, s.st, s.p, s.pr)""".stripMargin))
        model.mergeOrders(rows)
        model.commitOrders(ordersT.currentVersion)
        true
      case "insert_lines" =>
        insertLines(lastInserted._1, lastInserted._2, t)
      case "update" =>
        val lo = (keys.nextDouble() * maxKey).toLong
        t.span("catalog.write")(sql("UPDATE graft.lake.orders SET o_totalprice = " +
          s"o_totalprice + 1.25D, o_orderstatus = 'U' WHERE o_orderkey >= $lo AND o_orderkey <= ${lo + 99}"))
        model.updateOrders(lo, lo + 99, 1.25, "U")
        model.commitOrders(ordersT.currentVersion)
        true
      case "delete" =>
        val lo = (keys.nextDouble() * maxKey).toLong
        t.span("catalog.write")(sql(
          s"DELETE FROM graft.lake.orders WHERE o_orderkey >= $lo AND o_orderkey <= ${lo + 49}"))
        model.deleteOrders(lo, lo + 49)
        model.commitOrders(ordersT.currentVersion)
        true
      case "delete_lines" =>
        val lo = (keys.nextDouble() * BaseKeys).toLong
        t.span("catalog.write")(sql(
          s"DELETE FROM graft.lake.lines WHERE l_orderkey >= $lo AND l_orderkey <= ${lo + 49}"))
        model.deleteLines(lo, lo + 49)
        true
      case "point" =>
        val k = (keys.nextDouble() * maxKey).toLong
        val got = t.span("catalog.read")(sql("SELECT o_orderkey, o_custkey, o_orderstatus, " +
          s"o_totalprice, o_orderpriority FROM graft.lake.orders WHERE o_orderkey = $k"))
          .map(x => OrderRow(x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3),
            x.getString(4))).toSeq
        got == model.point(k).toSeq
      case "range" =>
        val lo = (keys.nextDouble() * maxKey).toLong
        val hi = lo + 999
        val row = t.span("catalog.read")(sql("SELECT COUNT(*), SUM(o_custkey), " +
          "SUM(CAST(o_totalprice * 100 AS BIGINT)) FROM graft.lake.orders " +
          s"WHERE o_orderkey >= $lo AND o_orderkey <= $hi")).head
        val want = model.range(lo, hi)
        val ok = (row.getLong(0), long(row, 1), long(row, 2)) == want
        if (!t.enabled) ok
        else {
          // the same read straight through the store, and its pruning
          import org.apache.spark.sql.functions.{count, lit, sum}
          val f = Seq(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
          t.probe("store.read_plan")(ordersT.read(filters = f))
          val srow = t.probe("store.read")(ordersT.read(filters = f)
            .agg(count(lit(1)), sum("o_custkey"),
              sum((col("o_totalprice") * 100).cast("bigint"))).collect()).head
          val v = ordersT.currentVersion
          val (_, live) = t.probe("store.snapshot")(ordersT.snapshotStats(v))
          val (_, kept) = t.probe("store.prune")(ordersT.snapshotStats(v, f))
          pruned :+= (if (live > 0) 1.0 - kept.toDouble / live else 0.0)
          ok && (srow.getLong(0), long(srow, 1), long(srow, 2)) == want
        }
      case "bucket_point" =>
        val k = (keys.nextDouble() * maxKey).toLong
        val row = t.span("catalog.read")(sql("SELECT COUNT(*), SUM(l_partkey), " +
          s"SUM(CAST(l_quantity AS BIGINT)) FROM graft.lake.lines WHERE l_orderkey = $k")).head
        (row.getLong(0), long(row, 1), long(row, 2)) == model.linesOf(k)
      case "time_travel" =>
        val vs = model.orderVersions
        val v = vs(keys.nextInt(vs.size))
        val row = t.span("catalog.read")(sql("SELECT COUNT(*), SUM(o_custkey), " +
          s"MAX(o_orderkey) FROM graft.lake.orders VERSION AS OF $v")).head
        (row.getLong(0), long(row, 1), long(row, 2)) == model.at(v)
      case "optimize" =>
        t.span("catalog.optimize")(sql("CALL graft.system.optimize('lake.orders', 4)"))
        model.commitOrders(ordersT.currentVersion)
        true
      case "vacuum" =>
        val removed = t.span("catalog.vacuum")(
          sql("CALL graft.system.vacuum('lake.orders', 0)").head.getInt(0) +
            sql("CALL graft.system.vacuum('lake.lines', 0)").head.getInt(0))
        vacuumed += removed
        true
    }
  }

  def run(seconds: Double, tracer: Tracer): Timed = {
    val ops = new Ops
    pruned = Vector.empty
    vacuumed = 0
    v0 = (ordersT.currentVersion, linesT.currentVersion)
    val t0 = System.nanoTime()
    (1 to Ops.units(seconds, CycleSeconds)).foreach { _ =>
      Cycle.foreach { slot =>
        val kind = resolve(slot)
        val q0 = System.nanoTime()
        val ok = try tracer.request(opIndex)(op(kind, tracer))
                 catch { case e: Exception => System.err.println(s"[lake_write] $kind: $e"); false }
        ops.add(kind, (System.nanoTime() - q0) / 1e6, ok)
        opIndex += 1
      }
    }
    Timed(ops, System.nanoTime() - t0, 1)
  }

  /** Reads are checked as they run; here the final state of both tables
    * is compared with the model once more. */
  def check(t: Timed): Seq[(String, String)] = {
    val full = sql("SELECT COUNT(*), SUM(o_custkey), MAX(o_orderkey) FROM graft.lake.orders").head
    val want = model.at(ordersT.currentVersion)
    val ok = (full.getLong(0), long(full, 1), long(full, 2)) == want
    if (!ok) t.ops.markFailed(1)
    Seq("check.final_state" -> (if (ok) s"orders match the model ($want)"
                                else s"orders differ: got $full, want $want"),
      "check.versions" -> s"orders v${ordersT.currentVersion}, lines v${linesT.currentVersion}")
  }

  private def churn(t: GraftTable, v0: Long): Churn = {
    val hist = t.history
    val size = hist.flatMap(_.added).map(f => f.path -> f.bytes).toMap
    val after = hist.filter(_.version > v0)
    Churn(after.size, after.count(_.version % graft.store.CommitLog.CheckpointInterval == 0),
      after.flatMap(_.added).map(_.bytes).sum,
      after.flatMap(_.removed).map(p => size.getOrElse(p, 0L)).sum,
      after.filter(_.op == "append").flatMap(_.added).map(_.bytes).sum)
  }

  private def dirBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
  }

  /** (write_amp, space_amp, churn) of both tables over the timed phase. */
  private def amps(): (Double, Double, Churn) = {
    val (co, cl) = (churn(ordersT, v0._1), churn(linesT, v0._2))
    val c = Churn(co.commits + cl.commits, co.checkpoints + cl.checkpoints,
      co.added + cl.added, co.removed + cl.removed, co.appended + cl.appended)
    val onDisk = Seq(ordersT, linesT).map(t => dirBytes(java.nio.file.Paths.get(t.root, "data"))).sum
    val live = Seq(ordersT, linesT).map(t => t.snapshotStats(t.currentVersion)._2).sum
    (c.added.toDouble / math.max(1L, c.appended), onDisk.toDouble / math.max(1L, live), c)
  }

  override def extraMetrics(t: Timed): Seq[(String, Double, String)] = {
    val writes = t.ops.ms(Writes)
    val tail = Stats.tail(writes)
    val compacts = t.ops.ms(_ == "optimize")
    val (wa, sa, _) = amps()
    Seq(("write_p50_ms", Stats.median(writes), "ms"),
      ("write_tail_ms", tail.value, "ms"),
      ("write_tail_percentile", tail.percentile, "%"),
      ("read_p50_ms", Stats.median(t.ops.ms(Reads)), "ms"),
      ("compact_s", if (compacts.isEmpty) 0.0 else Stats.median(compacts) / 1000, "s"),
      ("write_amp", wa, "ratio"),
      ("space_amp", sa, "ratio"))
  }

  def layerMetrics(t: Timed, spans: Seq[Span]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def spanMs(name: String) = mean(spans.filter(_.name == name).map(_.durNs / 1e6))
    // catalog vs store on the same range read: the pairs share a request
    val storeReqs = spans.filter(_.name == "store.read").map(_.request).toSet
    val pairedCatalog = mean(spans.filter(x => x.name == "catalog.read" &&
      storeReqs(x.request)).map(_.durNs / 1e6))
    val (wa, sa, c) = amps()
    Map(
      "catalog.read_ms" -> spanMs("catalog.read"),
      "catalog.write_ms" -> spanMs("catalog.write"),
      "catalog.bridge_ms" -> (pairedCatalog - spanMs("store.read")),
      "store.read_ms" -> spanMs("store.read"),
      "store.read_plan_ms" -> spanMs("store.read_plan"),
      "store.snapshot_ms" -> spanMs("store.snapshot"),
      "store.commits" -> c.commits.toDouble,
      "store.checkpoints" -> c.checkpoints.toDouble,
      "store.live_files" -> Seq(ordersT, linesT).map(x => new graft.store.CommitLog(x.root)
        .snapshotFiles(x.currentVersion).size).sum.toDouble,
      "store.prune_ratio" -> mean(pruned),
      "store.bytes_added" -> c.added.toDouble,
      "store.bytes_removed" -> c.removed.toDouble,
      "store.compact_ms" -> spanMs("catalog.optimize"),
      "store.vacuum_files" -> vacuumed.toDouble,
      "store.write_amp" -> wa,
      "store.space_amp" -> sa)
  }

  override def harnessBytes: Long = src.bytes + model.bytes

  def close(): Unit = ()
}
