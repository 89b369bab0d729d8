package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession

/** Driver-side fan-out: the one way graft runs independent Spark-job
  * thunks at the same time, so the scheduler backfills one branch's stage
  * tails with another's tasks (wall ≈ max of the branches, not their sum).
  *
  * What [[all]] guarantees:
  *  - each branch runs on a daemon thread created for this call. Spark's
  *    local properties are inheritable, so the branch starts with the
  *    caller's job group, job tags and interrupt-on-cancel flag: its jobs
  *    are attributed to, and cancelled with, the caller's query
  *    ([[HarnessGuard]]'s group). A pooled thread would instead keep the
  *    properties of whichever query created it;
  *  - every branch is joined before the call returns;
  *  - the first branch to fail cancels its siblings' jobs (all carry one
  *    per-call job tag) and interrupts their threads; the cancel repeats
  *    until every sibling has exited, so no job of the call outlives it.
  *    That first error is rethrown;
  *  - if the caller is interrupted (HarnessGuard's timeout), the branches'
  *    jobs are cancelled and their threads interrupted, and the call
  *    throws at once instead of waiting for them.
  *
  * Branches may share only frames that a count / localCheckpoint barrier
  * materialized before the call; anything lazy must be built inside the
  * one branch that reads it. Two jobs racing to fill one lazy cache each
  * compute it (OPTIMIZATION_r21.md: 13.4 s instead of 1.1 s).
  */
object Overlap {
  private[graft] val TagPrefix = "graft-overlap-"
  private val calls = new AtomicLong()
  private val PollMs = 50L

  /** Run every branch at once; their results in branch order. */
  def all[T](spark: SparkSession)(branches: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = TagPrefix + calls.incrementAndGet()
    val results = new Array[Any](branches.length)
    val failure = new AtomicReference[Throwable]()
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val t = new Thread(() => {
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        try results(i) = branch()
        catch { case e: Throwable =>
          if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
        }
      }, s"$tag-$i")
      t.setDaemon(true)
      t
    }
    def joinAll(alsoWhile: => Boolean)(each: => Unit): Unit =
      threads.foreach { t =>
        while (t.isAlive && alsoWhile) { each; t.join(PollMs) }
      }
    try {
      threads.foreach(_.start())
      joinAll(failure.get == null)(())
      if (failure.get != null) {
        threads.foreach(_.interrupt())
        joinAll(true)(sc.cancelJobsWithTag(tag))
      }
    } catch { case e: Throwable => // interrupted, or a branch could not start
      sc.cancelJobsWithTag(tag)
      threads.foreach(_.interrupt())
      throw e
    }
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** [[all]] over two branches of different result types. */
  def all[A, B](spark: SparkSession, a: => A, b: => B): (A, B) = {
    val r = all[Any](spark)(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** [[all]] over three branches of different result types. */
  def all[A, B, C](spark: SparkSession, a: => A, b: => B, c: => C): (A, B, C) = {
    val r = all[Any](spark)(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
