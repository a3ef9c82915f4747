package graft.sources

import scala.concurrent.duration.{Duration, FiniteDuration}

/** Shared fan-out helper for overlapping INDEPENDENT Spark jobs
  * (optimization guide §2.6): later jobs back-fill the executor tail
  * of earlier ones instead of paying a serial job floor. Used by
  * [[TimeTravel.commitSeries]], the index maintenance paths
  * ([[InvertedIndex]]), and the bounded probe loops in the fixture
  * queries; [[beside]] runs one unbounded job next to the caller's
  * (the CDC ledger's write beside an ingest run's store commit).
  *
  * Failure contract: ALL thunks are awaited — success or failure —
  * before anything is rethrown, so no job outlives the call. A caller
  * that catches the (first, in argument order) rethrown failure can
  * therefore rely on every sibling having finished: a maintenance
  * window ends when this returns or throws, never while a concurrent
  * rename is still in flight.
  *
  * Timeout contract (r16, VERDICT r15 #6): the await is BOUNDED — a
  * hung staging job fails the fixture loudly with a TimeoutException
  * instead of hanging the maintenance window forever. The bound is
  * one shared deadline across all thunks (not per-thunk, so n slow
  * jobs can't stack n timeouts), generous by default (1 h — local
  * fixture jobs run in seconds; a cluster run tunes
  * `SPARK_GRAFT_PARALLEL_TIMEOUT_SEC` to its own job envelope). Every
  * thunk's Spark jobs carry one job tag per call; on timeout the call
  * cancels every job with that tag, interrupts the pool's threads and
  * throws an exception naming the deadline — so no straggler keeps
  * writing a staging dir that the caller's retry rewrites. The pool's
  * threads are daemons: a thunk that ignores the interrupt cannot keep
  * the JVM alive.
  */
private[graft] object ParallelJobs {

  /** Default shared deadline for one awaitAll call: env-tunable,
    * never a hard-coded local-mode constant. */
  private[graft] def defaultTimeout: FiniteDuration =
    FiniteDuration(
      sys.env.getOrElse("SPARK_GRAFT_PARALLEL_TIMEOUT_SEC", "3600").toLong,
      java.util.concurrent.TimeUnit.SECONDS)

  /** Concurrent-job width: enough in-flight jobs to back-fill a task
    * tail, few enough not to thrash the scheduler when the host is
    * small — guide §2.6's "2-3 jobs in flight is plenty" scaled to the
    * actual core count instead of the former flat 8. */
  private[graft] def maxConcurrency: Int =
    math.max(2, Runtime.getRuntime.availableProcessors() / 4)

  /** Start `job` on its own daemon thread, beside the caller's work;
    * the returned function awaits it and returns its result or
    * rethrows its failure. Unlike [[awaitAll]] the wait has no
    * deadline: this is for work as long as the caller's own (an ingest
    * run's), not a maintenance window's. Nothing cancels the job, so a
    * caller awaits it on every path and no job outlives the call. */
  def beside[A](job: => A): () => A = {
    val task = new java.util.concurrent.FutureTask[A](() => job)
    val t = new Thread(task, s"graft-beside-${java.util.UUID.randomUUID()}")
    t.setDaemon(true)
    t.start()
    () => try task.get() catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  /** Run the thunks concurrently (bounded pool), await all, return
    * their results in order; rethrows the first failure AFTER every
    * thunk has completed (or the shared deadline expires). */
  def awaitAll[A](thunks: Seq[() => A],
      timeout: Duration = defaultTimeout): Seq[A] = {
    require(thunks.nonEmpty, "awaitAll needs at least one job")
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, maxConcurrency), { (r: Runnable) =>
        val t = new Thread(r, tag)
        t.setDaemon(true)
        t
      })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      // Future(Try(...)) never fails, so every Await below runs to
      // completion within the shared deadline — the first failure is
      // rethrown only once all siblings have finished
      val futures = thunks.map(t => scala.concurrent.Future(scala.util.Try {
        sc.addJobTag(tag)
        try t() finally sc.removeJobTag(tag)
      }))
      val deadline = timeout match {
        case f: FiniteDuration => Some(f.fromNow)
        case _                 => None
      }
      val done = futures.zipWithIndex.map { case (f, i) =>
        val remaining = deadline
          .map(d => d.timeLeft.max(Duration.Zero))
          .getOrElse(Duration.Inf)
        try scala.concurrent.Await.result(f, remaining)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            sc.cancelJobsWithTag(tag)
            pool.shutdownNow()
            throw new java.util.concurrent.TimeoutException(
              s"parallel job ${i + 1}/${thunks.size} still running after " +
                s"$timeout (SPARK_GRAFT_PARALLEL_TIMEOUT_SEC) — failing the " +
                "maintenance window loudly instead of hanging it")
        }
      }
      done.collectFirst { case scala.util.Failure(e) => throw e }
      done.map(_.get)
    } finally pool.shutdown()
  }
}
