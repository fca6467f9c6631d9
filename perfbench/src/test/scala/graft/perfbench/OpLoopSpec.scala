package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpLoopSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed with its class, never timed") {
    val loop = new OpLoop
    assert(loop.attempt("ok")(()))
    assert(!loop.attempt("boom")(throw new IllegalStateException("broke at sf0.1")))
    assert(loop.attempted === 2)
    assert(loop.samples.map(_.name) === Seq("ok"))
    assert(loop.failed.toSeq ===
      Seq(Failed("boom", "java.lang.IllegalStateException", "broke at sf0.1")))
  }

  test("Op.attempt records an untraced failure without a tracer") {
    val loop = new OpLoop
    Op.attempt(loop, tracer = None, traced = true, "q")(_ => sys.error("no"))
    assert(loop.samples.isEmpty)
    assert(loop.failed.map(_.exceptionClass) === Seq("java.lang.RuntimeException"))
  }
}
