package graft.orchestration

import java.util.concurrent.{Executors, LinkedBlockingQueue}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Minimal orchestration runtime replacing the reference's Airflow layer
  * (D1-D3, SURVEY.md §2h): a task DAG with per-task retry policy, run inside
  * ONE process. The reference's XCom pickle transport between worker
  * processes (EIA930PipelineHourlyData.py:183-284) disappears — stage
  * handoff is lazy DataFrame lineage inside a single Spark app, and external
  * cron triggers the app per the reference's schedules.
  */
object TaskGraph {

  /** Airflow parity: retries=2, 15-minute delay
    * (EIA930PipelineHourlyData.py:292-293); tests inject a tiny delay.
    */
  final case class RetryPolicy(retries: Int = 2, delayMs: Long = 15 * 60 * 1000)

  final case class Task(
      id: String,
      upstream: Seq[String] = Nil,
      policy: RetryPolicy = RetryPolicy())(val run: () => Unit)

  sealed trait TaskResult
  case object Succeeded extends TaskResult
  final case class FailedAfterRetries(attempts: Int, error: Throwable) extends TaskResult
  case object SkippedUpstreamFailure extends TaskResult

  /** [[runParallel]] with one worker: tasks run one at a time, in
    * declaration order among those that are ready.
    */
  def run(tasks: Seq[Task], sleep: Long => Unit = Thread.sleep): Map[String, TaskResult] =
    runParallel(tasks, parallelism = 1, sleep)

  /** Run the graph on `parallelism` worker threads from one ready queue (the
    * reference's Airflow scheduler feeding CeleryExecutor workers). The graph
    * is checked once, before any task runs: duplicate ids, unknown upstreams
    * and cycles throw IllegalArgumentException. A task goes to a free worker
    * as soon as its last upstream finishes, never held back by unrelated
    * tasks; among ready tasks the lowest declaration index goes first.
    * Downstream of a task that did not succeed is skipped without running
    * (Airflow's default trigger rule); per-task retries apply.
    *
    * Tasks run on pool threads, not the caller's: do not call this inside
    * `Storage.freeingIntermediates`, whose lock is held by the calling
    * thread, so a task that enters it waits forever. A Throwable the retry
    * loop does not catch surfaces unwrapped.
    */
  def runParallel(tasks: Seq[Task], parallelism: Int = 4,
                  sleep: Long => Unit = Thread.sleep): Map[String, TaskResult] = {
    require(parallelism >= 1, "parallelism >= 1")
    val index = tasks.map(_.id).zipWithIndex.toMap
    require(index.size == tasks.size, "duplicate task ids")
    val downstream = Array.fill(tasks.size)(mutable.ArrayBuffer.empty[Int])
    for ((t, i) <- tasks.zipWithIndex; u <- t.upstream) {
      require(index.contains(u), s"unknown upstream '$u' of '${t.id}'")
      downstream(index(u)) += i
    }
    // unfinished upstreams per task; a task whose count reaches 0 is ready
    val waiting = tasks.map(_.upstream.size).toArray
    def release(i: Int, counts: Array[Int], ready: Int => Unit): Unit =
      downstream(i).foreach { d =>
        counts(d) -= 1
        if (counts(d) == 0) ready(d)
      }
    val initial = tasks.indices.filter(waiting(_) == 0)
    // cycle check: a dry run over a copy of the counts must reach every task
    val dry = waiting.clone()
    val reached = mutable.Queue(initial: _*)
    var seen = 0
    while (reached.nonEmpty) { seen += 1; release(reached.dequeue(), dry, reached += _) }
    require(seen == tasks.size, s"cycle through task '${tasks(dry.indexWhere(_ > 0)).id}'")

    val results = mutable.Map.empty[String, TaskResult]
    val ready = mutable.PriorityQueue(initial: _*)(Ordering.Int.reverse)
    def finish(i: Int, r: TaskResult): Unit = {
      results(tasks(i).id) = r
      release(i, waiting, ready += _)
    }
    val done = new LinkedBlockingQueue[(Int, Try[TaskResult])]
    val pool = Executors.newFixedThreadPool(parallelism)
    try {
      var running = 0
      while (results.size < tasks.size) {
        while (ready.nonEmpty && running < parallelism) {
          val i = ready.dequeue()
          if (tasks(i).upstream.exists(results(_) != Succeeded)) finish(i, SkippedUpstreamFailure)
          else {
            running += 1
            pool.execute(() => done.put(i ->
              (try Success(attempt(tasks(i), sleep)) catch { case e: Throwable => Failure(e) })))
          }
        }
        if (results.size < tasks.size) {
          val (i, r) = done.take()
          running -= 1
          finish(i, r.get) // a fatal error rethrows unwrapped
        }
      }
      results.toMap
    } finally pool.shutdown()
  }

  private def attempt(t: Task, sleep: Long => Unit, n: Int = 1): TaskResult =
    Try(t.run()) match {
      case Success(_) => Succeeded
      case Failure(e) if n > t.policy.retries => FailedAfterRetries(n, e)
      case Failure(_) => sleep(t.policy.delayMs); attempt(t, sleep, n + 1)
    }
}
