package graft

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** Concurrent submission of INDEPENDENT Spark job chains from the
  * driver (optimization guide §2.6 "overlap independent jobs"):
  * actions are only sequential because driver code calls them
  * sequentially, and Spark's scheduler happily runs several jobs at
  * once inside one application. The gates that build multiple
  * independent artifacts in sequence (two IVF-PQ trainings, three
  * index-batch writes) were measured FASTER on 8 cores than 32 —
  * the job stream, not the executors, was the bottleneck; submitting
  * the independent chains from a small thread pool lets the next
  * job's tasks back-fill cores the current job's tail leaves idle.
  *
  * Failure contract: the first chain to fail (in completion order,
  * not input order) fails the call at once with its own exception,
  * unwrapped from the ExecutionException. Every chain runs in its own
  * Spark job group; on that first failure the other chains' groups
  * are cancelled, running jobs and any they would submit next, with
  * task threads interrupted, and chains still queued never start.
  * Driver-side code of a cancelled chain is not interrupted: it ends
  * at its next job, whose failure nobody reads. Results are only
  * returned when every chain succeeded. Without an active session the
  * chains run ungrouped, and a failure then cancels nothing. Each
  * chain keeps the caller's job description.
  */
object Par {

  /** Run two independent job chains concurrently; return both. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val rs = parN(Seq(() => a.asInstanceOf[Any], () => b.asInstanceOf[Any]))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }

  /** Run every thunk concurrently on a bounded pool (2-4 in flight is
    * plenty: enough to fill stage tails, not enough to thrash the
    * scheduler) and return results in input order. */
  def parN[A](thunks: Seq[() => A], parallelism: Int = 4): Seq[A] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return Seq(thunks.head())
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val description = sc.map(_.getLocalProperty("spark.job.description"))
    val groups = thunks.indices.map(i => s"graft-par-${UUID.randomUUID()}-$i")
    val pool = Executors.newFixedThreadPool(
      math.min(parallelism, thunks.size))
    val done = new ExecutorCompletionService[A](pool)
    val futures = thunks.zip(groups).map { case (t, g) =>
      done.submit(new Callable[A] {
        def call(): A = {
          sc.foreach(_.setJobGroup(g, description.orNull,
            interruptOnCancel = true))
          t()
        }
      })
    }
    try {
      for (_ <- futures.indices) {
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } catch {
      case t: Throwable =>
        futures.foreach(_.cancel(false))
        sc.foreach(c => groups.foreach(c.cancelJobGroupAndFutureJobs))
        throw t
    } finally pool.shutdown()
  }
}
