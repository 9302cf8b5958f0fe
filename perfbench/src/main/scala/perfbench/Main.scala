package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments; run.py fills in the directories (`data`:
  * the generated tables at the workload's scale). */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}") }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), get("out"))
  }
}

/** Latencies and outcomes of the statements of one timed phase. */
final class Ops {
  private val lat = mutable.ArrayBuffer[(String, Double)]()
  private var nFailed = 0L

  /** Record one statement of `kind`; `ok` = completed and passed its check. */
  def add(kind: String, ms: Double, ok: Boolean): Unit = synchronized {
    lat += kind -> ms
    if (!ok) nFailed += 1
  }
  def attempted: Long = synchronized(lat.size.toLong)
  def failed: Long = synchronized(nFailed)
  def markFailed(n: Long): Unit = synchronized { nFailed += n }
  def ms: Seq[Double] = synchronized(lat.map(_._2).toSeq)
  def ms(kinds: String => Boolean): Seq[Double] =
    synchronized(lat.collect { case (k, v) if kinds(k) => v }.toSeq)
  def count(kinds: String => Boolean): Long = synchronized(lat.count(x => kinds(x._1)).toLong)
  def kinds: Seq[String] = synchronized(lat.map(_._1).distinct.toSeq)
}

object Ops {
  /** Number of whole units (a statement, a pass, a cycle) of
    * `unitSeconds` nominal length (4 cores) that fill `seconds`. A fixed count keeps the work,
    * the statement mix and the table state of every run the same, so
    * that counts repeat and a faster program finishes sooner. */
  def units(seconds: Double, unitSeconds: Double): Int =
    math.max(1, math.round(seconds / unitSeconds).toInt)
}

/** One timed phase: its statements, wall time and client threads. */
final case class Timed(ops: Ops, wallNs: Long, threads: Int)

/** Everything the benchmark does with the program for one workload. */
trait Workload {
  /** Registration and table creation, on a fresh session. */
  def build(): Unit
  /** JIT, codegen and page cache for every statement shape. */
  def warmUp(): Unit
  /** The timed phase: closed-loop statements for about `seconds`. */
  def run(seconds: Double, tracer: Tracer): Timed
  /** Untimed output checks after the timed phase; failures are marked
    * on its `ops`. Returns printable facts about the checks. */
  def check(t: Timed): Seq[(String, String)]
  /** End-to-end metrics only this workload has (name -> (value, unit)). */
  def extraMetrics(t: Timed): Seq[(String, Double, String)] = Nil
  /** Heap the benchmark itself keeps live to the end (reference data),
    * left out of `heap_mb`. */
  def harnessBytes: Long = 0L
  /** Layer metrics observed from outside the program in a traced phase. */
  def layerMetrics(t: Timed, spans: Seq[Span]): Map[String, Double]
  def close(): Unit
}

object Main {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  final class Session(val spark: SparkSession, val stages: StageCounters,
                      val phases: PhaseTimes)

  /** The program's own session factory plus the benchmark's listeners.
    * The graft catalog is configured at build time so that every child
    * session (one per served user) sees it. */
  def session(warehouse: Path): Session = {
    val spark = graft.engine.GraftSession.builder()
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val stages = new StageCounters
    spark.sparkContext.addSparkListener(stages)
    val phases = new PhaseTimes
    spark.listenerManager.register(phases)
    new Session(spark, stages, phases)
  }

  def workload(a: Args, s: Session, warehouse: Path): Workload = a.workload match {
    case "analytic_batch" => new AnalyticBatch(a, s)
    case "serve_mix" => new ServeMix(a, s)
    case "lake_write" => new LakeWrite(a, s, warehouse)
    case other => sys.error(s"unknown workload '$other' (analytic_batch, serve_mix, lake_write)")
  }

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val a = Args.parse(argv)
    val loadBefore = loadavg()
    val work = Paths.get(a.work)
    Files.createDirectories(work)

    // setup_s: from JVM entry to the first timed op, i.e. the session,
    // registration, tables and the warm-up
    val wh = work.resolve("warehouse")
    val s = session(wh)
    val sessionS = (System.nanoTime() - entryNs) / 1e9
    val w = workload(a, s, wh)
    w.build()
    val buildS = (System.nanoTime() - entryNs) / 1e9
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.nanoTime() - entryNs) / 1e9
    val sc = s.spark.sparkContext

    def counters() = {
      org.apache.spark.BenchBus.drain(sc)
      (s.stages.snapshot, s.phases.snapshot, Codegen.snapshot)
    }

    // One timed phase. Untraced, it gives the end-to-end metrics;
    // traced, the per-layer ones (its throughput is not reported).
    val tracer = new Tracer(a.trace)
    val (c0, p0, g0) = counters()
    val timed = w.run(a.seconds, tracer)
    val (c1, p1, g1) = counters()
    System.gc()
    val rt = Runtime.getRuntime
    val harnessMb = w.harnessBytes / 1048576.0
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0 - harnessMb
    val k0 = System.nanoTime()
    val checks = w.check(timed)
    val checkS = (System.nanoTime() - k0) / 1e9

    val (attempted, failed) = (timed.ops.attempted, timed.ops.failed)
    val tail = Stats.tail(timed.ops.ms)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_qps", (attempted - failed) / (timed.wallNs / 1e9), "ops/s"),
      ("latency_p50_ms", Stats.median(timed.ops.ms), "ms"),
      ("latency_tail_ms", tail.value, "ms"),
      ("heap_mb", heapMb, "MB"))
    val extra = w.extraMetrics(timed) ++ Seq(
      ("error_rate", failed.toDouble / attempted, "ratio"))
    val record = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_graft_cpus" -> graft.engine.GraftSession.cpus,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "session_s" -> f"$sessionS%.3f",
      "build_s" -> f"$buildS%.3f",
      "warm_up_s" -> f"$warmS%.3f",
      "check_s" -> f"$checkS%.3f",
      "heap_harness_mb" -> f"$harnessMb%.3f (the benchmark's reference data, left out of heap_mb)",
      "timed_s" -> f"${timed.wallNs / 1e9}%.3f",
      "clients" -> timed.threads.toString,
      "latency_tail" -> f"p${tail.percentile}%.1f of ${tail.n} samples, ${tail.beyond} beyond",
      "p50_ms_by_kind" -> timed.ops.kinds.map(k =>
        f"$k ${Stats.median(timed.ops.ms(_ == k))}%.0f (${timed.ops.count(_ == k)})").mkString(", "),
      "error_rate_base" -> s"$failed failed of $attempted attempted") ++ checks

    val perLayer = if (!a.trace) None else {
      val (t, spans, c) = (timed, tracer.all, c1 - c0)  // t: the traced phase
      val p = p1.map { case (k, v) => k -> (v - p0.getOrElse(k, 0L)) }
      val g = Codegen.Snap(g1.compileNs - g0.compileNs, g1.classes - g0.classes, g1.bytes - g0.bytes)
      val n = math.max(1L, t.ops.attempted).toDouble
      val cores = graft.engine.GraftSession.cpus.toDouble
      val self = Trace.selfByLayer(spans)
      val layers = mutable.LinkedHashMap[String, Double]()
      layers ++= Layers.All.map(_._1 -> 0.0)
      layers ++= Seq(
        "engine.parse_ms" -> p.getOrElse("parsing", 0L) / n,
        "engine.analyze_ms" -> p.getOrElse("analysis", 0L) / n,
        "engine.optimize_ms" -> p.getOrElse("optimization", 0L) / n,
        "engine.plan_ms" -> p.getOrElse("planning", 0L) / n,
        "engine.codegen_ms" -> g.compileNs / 1e6 / n,
        "engine.codegen_classes" -> g.classes / n,
        "engine.codegen_bytes" -> g.bytes / n,
        "operators.exec_ms" -> c.jobBusyMs / n,
        "operators.jobs" -> c.jobs / n,
        "operators.stages" -> c.stages / n,
        "operators.tasks" -> c.tasks / n,
        "operators.task_run_ms" -> c.taskRunMs / n,
        "operators.task_cpu_ms" -> c.taskCpuNs / 1e6 / n,
        "operators.gc_ms" -> c.gcMs / n,
        "operators.core_idle_share" ->
          (if (c.jobBusyMs > 0) 1.0 - c.taskRunMs / (c.jobBusyMs * cores) else 0.0),
        "operators.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
        "operators.shuffle_write_records" -> c.shuffleWriteRecords / n,
        "operators.shuffle_fetch_wait_ms" -> c.fetchWaitMs / n,
        "operators.spill_bytes" -> c.spillBytes / n,
        "operators.input_bytes" -> c.inputBytes / n)
      // workload-observed metrics override the generic ones of the same name
      layers ++= w.layerMetrics(t, spans)
      Seq("sql", "engine", "operators", "serve", "catalog", "store", "bench").foreach { l =>
        layers(s"self.${l}_ms") = self.getOrElse(l, 0L) / 1e6 / n
      }
      layers("trace.uncovered_share") = Trace.uncoveredShare(spans, t.wallNs, t.threads)
      layers("trace.overhead_share") =
        Trace.overheadShare(spans, t.wallNs, t.threads, Trace.spanCostNs())
      layers("trace.spans") = spans.size.toDouble
      require(layers.size == Layers.All.size, s"unlisted layer metrics: ${layers.keySet -- Layers.All.map(_._1)}")
      Some(Layers.All.map { case (k, unit) => (k, layers(k), unit) })
    }
    Files.writeString(Paths.get(a.out), Json.write(ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed,
      "attempted" -> attempted, "failed" -> failed,
      "timed_s" -> timed.wallNs / 1e9, "timed_ok" -> (attempted - failed),
      "end_to_end" -> Json.metrics(e2e), "extra" -> Json.metrics(extra),
      "record" -> ListMap(record: _*)) ++ perLayer.map(m => "per_layer" -> Json.metrics(m))))
    w.close()
    s.spark.stop()
    deleteTree(work)
  }
}

/** Every per-layer metric a traced run reports, with its unit. A layer
  * a workload does not call reports 0. Times and work counts of sql,
  * engine and operators are per statement; serve, catalog and store
  * times are per call; store counts are totals of the traced phase. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "sql.rewrite_ms" -> "ms",
    "engine.parse_ms" -> "ms", "engine.analyze_ms" -> "ms", "engine.optimize_ms" -> "ms",
    "engine.plan_ms" -> "ms", "engine.codegen_ms" -> "ms", "engine.codegen_classes" -> "count",
    "engine.codegen_bytes" -> "bytes",
    "operators.exec_ms" -> "ms", "operators.jobs" -> "count", "operators.stages" -> "count",
    "operators.tasks" -> "count", "operators.task_run_ms" -> "ms",
    "operators.task_cpu_ms" -> "ms", "operators.gc_ms" -> "ms",
    "operators.core_idle_share" -> "ratio", "operators.shuffle_write_bytes" -> "bytes",
    "operators.shuffle_write_records" -> "count", "operators.shuffle_fetch_wait_ms" -> "ms",
    "operators.spill_bytes" -> "bytes", "operators.input_bytes" -> "bytes",
    "serve.queue_wait_ms" -> "ms", "serve.exec_ms" -> "ms", "serve.cache_hit_ratio" -> "ratio",
    "serve.executions_per_submit" -> "ratio",
    "catalog.read_ms" -> "ms", "catalog.bridge_ms" -> "ms", "catalog.write_ms" -> "ms",
    "store.read_ms" -> "ms", "store.read_plan_ms" -> "ms", "store.snapshot_ms" -> "ms",
    "store.commits" -> "count", "store.checkpoints" -> "count", "store.live_files" -> "count",
    "store.prune_ratio" -> "ratio", "store.bytes_added" -> "bytes",
    "store.bytes_removed" -> "bytes", "store.compact_ms" -> "ms", "store.vacuum_files" -> "count",
    "store.write_amp" -> "ratio", "store.space_amp" -> "ratio",
    "self.sql_ms" -> "ms", "self.engine_ms" -> "ms", "self.operators_ms" -> "ms",
    "self.serve_ms" -> "ms", "self.catalog_ms" -> "ms", "self.store_ms" -> "ms",
    "self.bench_ms" -> "ms",
    "trace.uncovered_share" -> "ratio", "trace.overhead_share" -> "ratio",
    "trace.spans" -> "count")
}

/** JSON for the files run.py reads; maps keep their order (ListMap). */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def write(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)
  def metrics(ms: Seq[(String, Double, String)]): ListMap[String, Any] =
    ListMap(ms.map { case (k, v, unit) => k -> ListMap("value" -> v, "unit" -> unit) }: _*)
}
