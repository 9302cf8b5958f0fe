package perfbench

import java.nio.file.{Files, Paths}

/** `analytic_batch`: one client repeats a fixed subset of the program's
  * query catalog on the sf0.1 lake, read as raw parquet. Each entry runs
  * its own physical plan (`queryExecution.toRdd.count()`), as the
  * repository's per-entry bench does. The subset mixes planning-bound
  * entries with shuffle-heavy and iterative ones across the q/d/e/f/t/v
  * families. A pass takes about 4 s on 4 cores, so that a run holds
  * whole passes; the full catalog (about two minutes a pass) stays the
  * repository's per-entry bench. */
object AnalyticBatch {
  /** Nominal pass length on 4 cores; a run makes seconds / PassSeconds passes. */
  val PassSeconds = 4.0

  val Entries: Seq[String] = Seq(
    // cheap, planning-bound
    "q02_filter_project", "q15_topk", "f02_string_funcs_oracle", "f09_hash_encode",
    "e03_json_extract",
    // no DuckDB oracle: checked by row count and equal hashes across runs
    "f11_approx_aggs",
    // shuffle-heavy (set intersection, banded pair join) and iterative (k-means)
    "d06_channel_intersect", "t21_simhash_pairs", "v05_ann_ivf")

  /** The program's catalog entries by name (the same lists
    * `graft.SparkEntry` aggregates). */
  def catalog: Map[String, graft.QueryEntry] = {
    import graft.operators._
    (CoreQueries.entries ++ DsQueries.entries ++ FunctionQueries.entries ++
      EventQueries.entries ++ TextOps.entries ++ VectorOps.entries ++ GraphOps.entries)
      .map(e => e.name -> e).toMap
  }
}

final class AnalyticBatch(a: Args, s: Main.Session) extends Workload {
  private val spark = s.spark
  private val entries = {
    val c = AnalyticBatch.catalog
    AnalyticBatch.Entries.map(n => c.getOrElse(n, sys.error(s"no catalog entry $n")))
  }
  /** Rows each entry returns, from its warm-up run; every timed run
    * must return the same count, and the check verifies the rows. */
  private val rows = scala.collection.mutable.Map[String, Long]()

  private def execute(e: graft.QueryEntry, tracer: Tracer): Long = {
    val df = tracer.span("operators.build")(e.fn(spark, a.data))
    tracer.span("engine.plan")(df.queryExecution.executedPlan)
    val n = tracer.span("operators.exec")(df.queryExecution.toRdd.count())
    if (tracer.enabled) s.phases.add(df.queryExecution)
    n
  }

  def build(): Unit = ()

  def warmUp(): Unit = {
    // page cache for the two fact tables, then JIT and codegen for every entry
    Seq("lineitem", "orders").foreach(t => graft.Tables(spark, a.data, t).count())
    entries.foreach(e => rows(e.name) = execute(e, new Tracer(false)))
  }

  def run(seconds: Double, tracer: Tracer): Timed = {
    val ops = new Ops
    val t0 = System.nanoTime()
    var req = 0L
    (1 to Ops.units(seconds, AnalyticBatch.PassSeconds)).foreach { _ =>
      entries.foreach { e =>
        req += 1
        val q0 = System.nanoTime()
        val ok = try tracer.request(req)(execute(e, tracer)) == rows(e.name)
                 catch { case _: Exception => false }
        ops.add(e.name, (System.nanoTime() - q0) / 1e6, ok)
      }
    }
    Timed(ops, System.nanoTime() - t0, 1)
  }

  /** Writes each entry's result once (untimed) for run.py's DuckDB
    * oracle compare, plus the oracle SQL; entries without an oracle are
    * run twice and must return equal row hashes and the timed count. */
  def check(t: Timed): Seq[(String, String)] = {
    val dir = Paths.get(a.work).getParent.resolve("analytic_check")
    Main.deleteTree(dir)
    Files.createDirectories(dir)
    System.setProperty("graft.verify.sfdir", a.data)
    val notes = entries.map { e =>
      val verdict = try {
        e.oracle match {
          case Some(_) =>
            val df = e.fn(spark, a.data)
            df.coalesce(1).write.parquet(dir.resolve(e.name).toString)
            val n = spark.read.parquet(dir.resolve(e.name).toString).count()
            if (n == rows(e.name)) "oracle pending" else s"row count $n != ${rows(e.name)}"
          case None =>
            def hash(): (Long, Int) = {
              val rs = e.fn(spark, a.data).collect().map(_.toString).sorted
              (rs.length.toLong, rs.toSeq.hashCode)
            }
            val (h1, h2) = (hash(), hash())
            if (h1 != h2) s"hash differs between runs: $h1 vs $h2"
            else if (h1._1 != rows(e.name)) s"row count ${h1._1} != ${rows(e.name)}"
            else s"rows ${h1._1}, hash stable"
        }
      } catch { case ex: Exception => s"failed: ${ex.getMessage}" }
      if (verdict != "oracle pending" && !verdict.startsWith("rows "))
        t.ops.markFailed(t.ops.count(_ == e.name))
      e.name -> verdict
    }
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.write(entries.flatMap(e => e.oracle.map(e.name -> _)).toMap))
    // ops per entry: run.py fails them on an oracle mismatch
    Files.writeString(dir.resolve("ops.json"),
      Json.write(entries.map(e => e.name -> t.ops.count(_ == e.name)).toMap))
    notes.map { case (n, v) => s"check.$n" -> v }
  }

  def layerMetrics(t: Timed, spans: Seq[Span]): Map[String, Double] = Map.empty

  def close(): Unit = ()
}
