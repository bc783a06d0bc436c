package graft.plans

import graft.SparkSpec
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Succeeded, Task}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array, lit}

/** The graft functions reach a session once, when it is built: a kernel
  * column resolves in any engine session whatever thread builds it and
  * whichever session is active there. Each test uses a fresh
  * `newSession()`, which shares nothing registered by earlier suites.
  */
class RegistrationRouteSpec extends SparkSpec {

  /** 1*3 + 2*4, computed by the graft_dot_long kernel in `s`. */
  private def dot(s: SparkSession): Long =
    s.range(1).select(GraftFunctions.dotLong(array(lit(1L), lit(2L)),
      array(lit(3L), lit(4L)))).collect()(0).getLong(0)

  test("a kernel column resolves on a thread with no active session") {
    val s = spark.newSession()
    var result: Either[Throwable, Long] = Left(new IllegalStateException("not run"))
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      result = try Right(dot(s)) catch { case e: Throwable => Left(e) }
    })
    t.start()
    t.join()
    assert(result == Right(11L), result)
  }

  test("a kernel column resolves inside a TaskGraph task") {
    val s = spark.newSession()
    var got = 0L
    val results = TaskGraph.run(Seq(
      Task("kernel", policy = RetryPolicy(0, 1))(() => got = dot(s))),
      sleep = _ => ())
    assert(results == Map("kernel" -> Succeeded), results.toString)
    assert(got == 11L)
  }

  test("a new session has every registry function before any call") {
    val s = spark.newSession()
    val missing = GraftFunctions.all.map(_.name).filterNot(s.catalog.functionExists)
    assert(missing.isEmpty, missing.mkString(", "))
  }
}
