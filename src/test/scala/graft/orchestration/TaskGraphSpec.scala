package graft.orchestration

import org.scalatest.funsuite.AnyFunSuite
import TaskGraph._

class TaskGraphSpec extends AnyFunSuite {

  test("linear extract >> transform >> load runs in order") {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = TaskGraph.run(Seq(
      Task("load", upstream = Seq("transform"))(() => log += "load"),
      Task("extract")(() => log += "extract"),
      Task("transform", upstream = Seq("extract"))(() => log += "transform")),
      sleep = _ => ())
    assert(log.toSeq == Seq("extract", "transform", "load"))
    assert(r.values.forall(_ == Succeeded))
  }

  test("flaky task succeeds within the retry budget (retries=2)") {
    var calls = 0
    val r = TaskGraph.run(Seq(
      Task("flaky", policy = RetryPolicy(retries = 2, delayMs = 1))(() => {
        calls += 1
        if (calls < 3) sys.error("boom")
      })), sleep = _ => ())
    assert(r("flaky") == Succeeded)
    assert(calls == 3)
  }

  test("downstream of a permanently failing task is skipped") {
    var loaded = false
    val r = TaskGraph.run(Seq(
      Task("extract")(() => ()),
      Task("transform", upstream = Seq("extract"),
        policy = RetryPolicy(retries = 1, delayMs = 1))(() => sys.error("always")),
      Task("load", upstream = Seq("transform"))(() => loaded = true)),
      sleep = _ => ())
    assert(!loaded)
    assert(r("load") == SkippedUpstreamFailure)
    r("transform") match {
      case FailedAfterRetries(attempts, _) => assert(attempts == 2)
      case other => fail(s"unexpected $other")
    }
  }

  test("cycles are rejected") {
    intercept[IllegalArgumentException] {
      TaskGraph.run(Seq(
        Task("a", upstream = Seq("b"))(() => ()),
        Task("b", upstream = Seq("a"))(() => ())), sleep = _ => ())
    }
  }

  test("runParallel: independent tasks overlap, dependencies and skip semantics hold") {
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // b and c both depend on a and can only finish if they RUN CONCURRENTLY
    // (each waits at a 2-party barrier); d follows both
    val r = TaskGraph.runParallel(Seq(
      Task("a")(() => order.add("a")),
      Task("b", upstream = Seq("a"))(() => { gate.await(); order.add("b") }),
      Task("c", upstream = Seq("a"))(() => { gate.await(); order.add("c") }),
      Task("d", upstream = Seq("b", "c"))(() => order.add("d"))),
      parallelism = 2, sleep = _ => ())
    assert(r.values.forall(_ == Succeeded))
    val seq = order.toArray.map(_.toString).toSeq
    assert(seq.head == "a" && seq.last == "d")

    // failure skip propagates transitively in parallel mode too
    val r2 = TaskGraph.runParallel(Seq(
      Task("x", policy = RetryPolicy(retries = 0, delayMs = 1))(() => sys.error("nope")),
      Task("y", upstream = Seq("x"))(() => ()),
      Task("z", upstream = Seq("y"))(() => ())),
      parallelism = 2, sleep = _ => ())
    assert(r2("y") == SkippedUpstreamFailure && r2("z") == SkippedUpstreamFailure)
  }

  test("runParallel: a straggler does not hold back tasks that do not depend on it") {
    // a can only finish once c runs, and c waits on the independent b: a
    // scheduler that holds ready tasks back until every running task ends
    // leaves a waiting out its whole timeout
    val latch = new java.util.concurrent.CountDownLatch(1)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val once = RetryPolicy(retries = 0, delayMs = 1)
    val r = TaskGraph.runParallel(Seq(
      Task("a", policy = once)(() => {
        if (!latch.await(10, java.util.concurrent.TimeUnit.SECONDS)) sys.error("latch never opened")
        events.add("a end")
      }),
      Task("b", policy = once)(() => ()),
      Task("c", upstream = Seq("b"), policy = once)(() => {
        events.add("c start")
        latch.countDown()
      })),
      parallelism = 2, sleep = _ => ())
    assert(r.values.forall(_ == Succeeded), r.toString)
    assert(events.toArray.toSeq == Seq("c start", "a end"))
  }

  test("run: one task at a time, ready tasks start in declaration order") {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def body(id: String): () => Unit = () => {
      maxActive.accumulateAndGet(active.incrementAndGet(), math.max)
      order.add(id)
      Thread.sleep(20)
      active.decrementAndGet()
    }
    // ready at start: b, a, c (declaration order); d becomes ready when a
    // finishes and, declared before c, runs ahead of it
    val r = TaskGraph.run(Seq(
      Task("b")(body("b")),
      Task("d", upstream = Seq("a"))(body("d")),
      Task("a")(body("a")),
      Task("c")(body("c"))),
      sleep = _ => ())
    assert(r.values.forall(_ == Succeeded))
    assert(maxActive.get() == 1)
    assert(order.toArray.toSeq == Seq("b", "a", "d", "c"))
  }

  test("a fatal error in a task surfaces unwrapped") {
    val err = intercept[StackOverflowError] {
      TaskGraph.runParallel(Seq(
        Task("x")(() => throw new StackOverflowError("injected"))),
        parallelism = 2, sleep = _ => ())
    }
    assert(err.getMessage == "injected")
  }
}
