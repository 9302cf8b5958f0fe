package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call. `name` is `<layer>.<call>`; `parent` is 0 for a
  * request's root span; every span of one statement shares `request`.
  * A `probe` span times a call only a traced run makes. */
final case class Span(id: Long, parent: Long, name: String, request: Long,
                      thread: Long, startNs: Long, endNs: Long, probe: Boolean = false) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Records spans in memory around the benchmark's calls into each
  * layer. Disabled, `span` only runs its body, so an untraced run pays
  * one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // per thread: (request id, open span ids, innermost first)
  private val current = new ThreadLocal[(Long, List[Long])] {
    override def initialValue(): (Long, List[Long]) = (0L, Nil)
  }

  /** Run one statement: a root span `bench.op` whose children are the
    * layer calls made inside `f`. */
  def request[A](request: Long)(f: => A): A =
    if (!enabled) f
    else {
      current.set((request, Nil))
      try span("bench.op")(f) finally current.set((0L, Nil))
    }

  /** A call the benchmark makes only when tracing, to time a layer the
    * untraced statement reaches only inside the program. */
  def probe[A](name: String)(f: => A): A = record(name, probe = true)(f)

  def span[A](name: String)(f: => A): A = record(name, probe = false)(f)

  private def record[A](name: String, probe: Boolean)(f: => A): A =
    if (!enabled) f
    else {
      val (req, open) = current.get()
      val id = ids.incrementAndGet()
      current.set((req, id :: open))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        current.set((req, open))
        spans.add(Span(id, open.headOption.getOrElse(0L), name, req,
          Thread.currentThread().getId, t0, t1, probe))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace {
  /** Nanoseconds one span costs to record, measured on a throwaway tracer. */
  def spanCostNs(n: Int = 20000): Double = {
    val t = new Tracer(true)
    t.request(0)(())
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { t.span("bench.calibrate")(()); i += 1 }
    (System.nanoTime() - t0).toDouble / n
  }

  /** What tracing adds to a traced phase, as a share of its thread time:
    * the probe calls plus the bookkeeping of every span. */
  def overheadShare(spans: Seq[Span], wallNs: Long, threads: Int, spanNs: Double): Double =
    (spans.filter(_.probe).map(_.durNs).sum + spans.size * spanNs) / (wallNs.toDouble * threads)

  /** Total length of the union of half-open intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover (children clipped to the parent). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Share of the timed phase's thread time that no layer span covers:
    * the benchmark's own work between and around calls. `threads`
    * closed-loop clients each own `wallNs` of time. */
  def uncoveredShare(spans: Seq[Span], wallNs: Long, threads: Int): Double = {
    val covered = spans.filter(_.layer != "bench").groupBy(_.thread).values
      .map(ss => unionNs(ss.map(s => (s.startNs, s.endNs)))).sum
    math.max(0.0, 1.0 - covered.toDouble / (wallNs.toDouble * threads))
  }
}
