package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.udf

/** [[Overlap.all]]'s contract: overlapped jobs carry the caller's job
  * group, a guard timeout cancels them, a failing branch cancels its
  * siblings, and an interrupted caller returns at once. Plus the source
  * guard that keeps it the only driver-side fan-out in the program. */
class OverlapSpec extends SparkSpec {

  private case class Job(id: Int, group: String, tags: Set[String], time: Long)
  private case class End(id: Int, ok: Boolean, time: Long)

  /** Run `body` with a listener that records every job start and end. */
  private def recording[T](body: (ConcurrentLinkedQueue[Job],
      ConcurrentLinkedQueue[End]) => T): T = {
    val starts = new ConcurrentLinkedQueue[Job]()
    val ends = new ConcurrentLinkedQueue[End]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(q => Option(q.getProperty(k))).getOrElse("")
        starts.add(Job(e.jobId, prop("spark.jobGroup.id"),
          prop("spark.job.tags").split(",").filter(_.nonEmpty).toSet, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.add(End(e.jobId, e.jobResult == JobSucceeded, e.time))
    }
    spark.sparkContext.addSparkListener(l)
    try body(starts, ends)
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def drain(): Unit =
    org.apache.spark.graft.GraftCoreShim.drainListenerBus(spark.sparkContext)

  private def quick(n: Long): () => Long = () => {
    import spark.implicits._
    spark.range(n).filter($"id" % 7 =!= 3).count()
  }

  private lazy val sleepy = udf { (x: Long) =>
    Thread.sleep(120000L); x >= 0
  }.asNondeterministic()

  private def wedged(): () => Long = () => {
    import spark.implicits._
    // the sleep sits in a FILTER, so count() cannot prune it away
    spark.range(4).filter(sleepy($"id")).count()
  }

  private def expect(n: Long) = (0L until n).count(_ % 7 != 3).toLong

  /** Poll until `done` holds; fail after 60 s. */
  private def await(what: String)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 60e9.toLong
    while (!done) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      drain(); Thread.sleep(50L)
    }
  }

  /** Every job of `group` in `jobs` ended, none of them successfully. */
  private def allCancelled(jobs: Iterable[Job], ends: Iterable[End], group: String) = {
    val ids = jobs.filter(_.group == group).map(_.id).toSet
    val groupEnds = ends.filter(e => ids(e.id))
    ids.nonEmpty && groupEnds.size == ids.size && groupEnds.forall(!_.ok)
  }

  test("back-to-back guarded queries: each overlapped job carries its own query's group") {
    val names = Seq("overlap-scope-a", "overlap-scope-b")
    val jobs = recording { (starts, _) =>
      names.foreach { n =>
        val r = HarnessGuard.run(spark, n, 60) {
          Overlap.all(spark)(Seq(quick(100), quick(200)))
        }
        assert(r == Right(Seq(expect(100), expect(200))), s"$n: $r")
      }
      drain()
      starts.asScala.toSeq
    }
    // one per-call tag per query; every job of a call carries the group
    // of the query that made the call, never the other query's
    val groupsByCall = jobs
      .flatMap(j => j.tags.filter(_.startsWith(Overlap.TagPrefix)).map(_ -> j.group))
      .groupBy(_._1).map { case (_, gs) => gs.map(_._2).toSet }
    assert(groupsByCall.toSet == names.map(n => Set(s"graft-guard-$n")).toSet,
      s"overlapped jobs by call: $groupsByCall")
  }

  test("overlapped wedged branches: the guard's timeout cancels them inside its grace window") {
    val name = "overlap-wedged"
    val group = s"graft-guard-$name"
    val (r, dt, jobs, ends) = recording { (starts, ends) =>
      val t0 = System.nanoTime()
      val r = HarnessGuard.run(spark, name, 2) {
        Overlap.all(spark)(Seq(wedged(), wedged()))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000L) // room for a leaked job to show up
      drain()
      (r, dt, starts.asScala.toSeq.filter(_.group == group), ends.asScala.toSeq)
    }
    assert(r.isLeft && r.left.exists(_.startsWith("TIMEOUT")), s"got $r")
    // the 2 s budget + the guard's 10 s grace, not the 120 s sleep
    assert(dt < 12 + 3, f"guarded overlap took $dt%.1fs")
    assert(allCancelled(jobs, ends, group),
      s"every job of the group must end cancelled: $jobs / $ends")
    val cancelledAt = ends.filter(e => jobs.exists(_.id == e.id)).map(_.time).min
    assert(jobs.forall(_.time <= cancelledAt),
      s"a job of $group started after the cancel: $jobs vs $cancelledAt")
    // the next guarded query is unaffected
    val next = HarnessGuard.run(spark, "overlap-after-wedge", 60) {
      Overlap.all(spark)(Seq(quick(50), quick(60)))
    }
    assert(next == Right(Seq(expect(50), expect(60))), s"next query: $next")
  }

  test("a failing branch cancels its sibling's running job and rethrows the first error") {
    val group = "overlap-fail"
    val sc = spark.sparkContext
    recording { (starts, ends) =>
      sc.setJobGroup(group, "overlap failure test")
      val t0 = System.nanoTime()
      val err =
        try intercept[IllegalStateException] {
          Overlap.all(spark)(Seq(wedged(), () => {
            // fail only once the sibling's job is running
            await("the sibling's job")(starts.asScala.exists(_.group == group))
            throw new IllegalStateException("first failure")
          }))
        } finally sc.clearJobGroup()
      val dt = (System.nanoTime() - t0) / 1e9
      assert(err.getMessage == "first failure")
      assert(dt < 30, f"the failed overlap took $dt%.1fs")
      // the call joined its branches, so the cancel has already landed
      drain()
      assert(allCancelled(starts.asScala, ends.asScala, group),
        s"the sibling's job must end cancelled: $ends")
    }
  }

  test("an interrupted caller cancels the branches' jobs and returns without joining them") {
    // HarnessGuard interrupts a body its job-group cancel did not unwind
    // (one wedged in driver-side work); the overlap must not outwait it
    val group = "overlap-interrupt"
    @volatile var release = false
    @volatile var outcome: Option[Throwable] = None
    @volatile var returnedAt = 0L
    val caller = new Thread(() => {
      spark.sparkContext.setJobGroup(group, "overlap interrupt test")
      try Overlap.all(spark)(Seq(wedged(), () => {
        while (!release) {} // deaf to interrupts
        0L
      }))
      catch { case e: Throwable => outcome = Some(e) }
      finally returnedAt = System.nanoTime()
    })
    recording { (starts, ends) =>
      try {
        caller.start()
        await("the Spark branch's job")(starts.asScala.exists(_.group == group))
        val t0 = System.nanoTime()
        caller.interrupt()
        caller.join(30000L)
        val dt = (returnedAt - t0) / 1e9
        assert(outcome.exists(_.isInstanceOf[InterruptedException]), s"got $outcome")
        assert(dt >= 0 && dt < 5, f"the interrupted overlap took $dt%.1fs")
        // the call did not wait for the asynchronous cancel to land
        await("the cancel")(allCancelled(starts.asScala, ends.asScala, group))
      } finally release = true
    }
  }

  test("src/main fans out driver jobs only through Overlap") {
    // a pooled or global-context thread keeps the job group of whichever
    // query created it, so a hand-rolled fan-out mis-tags its jobs
    val allowed = Set("Overlap.scala", "HarnessGuard.scala", "Canary.scala")
    val forbidden = """ExecutionContext\.Implicits\.global|Executors\.new\w*|\bFuture\(""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !allowed(p.getFileName.toString))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.findFirstIn(line).isDefined =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally files.close()
    assert(offenders.isEmpty,
      "hand-rolled driver fan-out; use graft.Overlap.all:\n" + offenders.mkString("\n"))
  }
}
