package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def sp(id: Long, parent: Long, name: String, s: Long, e: Long, probe: Boolean = false) =
    Span(id, parent, name, request = 1, thread = 1, startNs = s, endNs = e, probe = probe)

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      sp(1, 0, "bench.op", 0, 100),
      sp(2, 1, "serve.await", 10, 40),
      sp(3, 1, "engine.parse", 30, 60),   // overlaps its sibling
      sp(4, 2, "operators.exec", 20, 25), // grandchild: only its parent loses it
      sp(5, 1, "store.read", 90, 130))    // runs past its parent's end
    val self = Trace.selfNs(spans)
    assert(self(1) == 100 - (60 - 10) - (100 - 90))
    assert(self(2) == 30 - 5)
    assert(self(3) == 30 && self(4) == 5 && self(5) == 40)
    val byLayer = Trace.selfByLayer(spans)
    assert(byLayer("bench") == 40 && byLayer("serve") == 25 && byLayer("operators") == 5)
  }

  test("the tracer links nested spans to their parent and request") {
    val t = new Tracer(true)
    t.request(7) {
      t.span("serve.await") { t.span("engine.plan")(()) }
      t.probe("store.read")(())
    }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(t.all.forall(_.request == 7))
    assert(byName("bench.op").parent == 0)
    assert(byName("serve.await").parent == byName("bench.op").id)
    assert(byName("engine.plan").parent == byName("serve.await").id)
    assert(byName("store.read").probe && !byName("serve.await").probe)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.request(1)(t.span("serve.await")(42)) == 42)
    assert(t.all.isEmpty)
  }

  test("uncovered share counts thread time outside every layer span") {
    val spans = Seq(
      sp(1, 0, "bench.op", 0, 100),
      sp(2, 1, "serve.await", 0, 60),
      sp(3, 1, "engine.parse", 50, 80))
    assert(math.abs(Trace.uncoveredShare(spans, wallNs = 200, threads = 1) - 0.6) < 1e-12)
  }

  test("overhead share is probe time plus span bookkeeping") {
    val spans = Seq(sp(1, 0, "bench.op", 0, 100), sp(2, 1, "store.read", 0, 30, probe = true))
    assert(math.abs(Trace.overheadShare(spans, 1000, 1, spanNs = 5.0) - 0.04) < 1e-12)
  }

  test("union merges overlapping and touching intervals") {
    assert(Trace.unionNs(Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 40L), (35L, 36L))) == 30)
    assert(Trace.unionNs(Nil) == 0)
  }
}
