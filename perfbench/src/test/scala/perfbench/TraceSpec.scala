package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def traced(): Tracer = {
    val tr = new Tracer(true)
    tr.span("pass") {
      tr.span("a") {
        Thread.sleep(5)
        tr.span("a.1")(Thread.sleep(10))
        tr.span("a.2")(Thread.sleep(5))
      }
      Thread.sleep(5)
      tr.span("b")(Thread.sleep(10))
    }
    tr
  }

  test("spans nest: each child lies inside its parent") {
    val tr = traced()
    assert(tr.spans.map(_.name) == Seq("pass", "a", "a.1", "a.2", "b"))
    val byName = tr.spans.map(s => s.name -> s).toMap
    assert(byName("a.1").parent == byName("a").id)
    assert(byName("b").parent == byName("pass").id)
    assert(byName("pass").parent == -1)
    tr.spans.filter(_.parent >= 0).foreach { c =>
      val p = tr.spans(c.parent)
      assert(c.startMs >= p.startMs && c.endMs <= p.endMs, c.name)
    }
    assert(tr.subtree(byName("a").id) == Set("a", "a.1", "a.2").map(byName(_).id))
  }

  test("self times sum to at most the wall time, and children to less") {
    val tr = traced()
    val root = tr.spans.head
    val selfSum = tr.spans.map(tr.selfMs).sum
    assert(selfSum <= root.ms * (1 + 1e-9))
    assert(math.abs(selfSum - root.ms) < 1e-6) // self times partition the root
    assert(tr.children(root.id).map(_.ms).sum < root.ms)
    assert(tr.selfMs(tr.spans(1)) >= 4) // the sleep before a's children
  }

  test("a disabled tracer records nothing and returns the body's value") {
    val tr = new Tracer(false)
    assert(tr.span("x")(41 + 1) == 42)
    assert(tr.spans.isEmpty)
  }

  test("a span closes when its body throws") {
    val tr = new Tracer(true)
    intercept[IllegalStateException](tr.span("boom")(throw new IllegalStateException("x")))
    assert(!tr.spans.head.endMs.isNaN)
    tr.span("next")(())
    assert(tr.spans(1).parent == -1)
  }
}
