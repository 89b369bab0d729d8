package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the benchmark: a process, set-up step, pass, query,
  * or a query's build / plan / exec phase. Times are wall-clock
  * milliseconds with a fractional part, so they line up with the
  * millisecond timestamps Spark puts on its job, stage and task events. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans kept in memory for the whole run and written out at exit. Only the
  * benchmark's own code opens spans, around calls into the program. */
final class Spans(val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  /** Wall-clock ms from a monotonic clock anchored once, so spans never
    * run backwards when the system clock is adjusted. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def add(parent: Int, name: String, kind: String, start: Double, end: Double): Int =
    synchronized {
      val id = buf.size + 1
      buf += Span(id, parent, name, kind, start, end)
      id
    }

  /** Time `body` as a span; `body` gets the span's id to parent its own
    * spans. */
  def timed[T](parent: Int, name: String, kind: String)(body: Int => T): T = {
    val id = synchronized {
      val id = buf.size + 1
      buf += Span(id, parent, name, kind, nowMs, Double.NaN)
      id
    }
    try body(id)
    finally synchronized { buf(id - 1) = buf(id - 1).copy(end = nowMs) }
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

final case class JobRec(id: Int, start: Long, var end: Long, group: String,
    stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, submitted: Long, completed: Long)
final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    schedDelayMs: Long, shuffleRead: Long, shuffleWrite: Long, spillMem: Long,
    spillDisk: Long, peakMem: Long)
final case class ProgressRec(at: Long, runId: String, stateRows: Long,
    commitMs: Long, addBatchMs: Long, stateMem: Long)

/** Counts recorded at the Spark boundary: jobs, stages and tasks from a
  * SparkListener, micro-batches from a StreamingQueryListener. The
  * listener bus is asynchronous, so read only after draining it. */
final class Recorder extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, group, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && m != null) {
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      tasks.add(TaskRec(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, delay, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.peakExecutionMemory))
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators.toSeq
      val addBatch = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
      progress.add(ProgressRec(at, p.runId.toString, ops.map(_.numRowsTotal).sum,
        ops.map(_.commitTimeMs).sum, addBatch, ops.map(_.memoryUsedBytes).sum))
    }
  }
}

/** Per-query layer figures, attributed by time interval: a job belongs to
  * the query whose span was open when the job was submitted, whatever job
  * group it carries. A job that carries another query's group, or none, is
  * counted as leaked: the query's guard could not cancel it. (Micro-batch
  * jobs carry their streaming query's own group and are not leaks.) */
object Attribution {
  /** Module of each registered query, named after the program's modules. */
  lazy val moduleOf: Map[String, String] = {
    def names(specs: Seq[graft.QuerySpec], m: String) = specs.map(_.name -> m)
    (names(graft.ops.Relational.specs, "relational") ++
      names(graft.ops.TextPipeline.specs, "textpipeline") ++
      names(graft.ops.Dedup.specs, "dedup") ++
      names(graft.ops.Similarity.specs, "similarity") ++
      names(graft.ops.TextAnalysis.specs, "textanalysis") ++
      names(graft.ops.Sketches.specs, "sketches") ++
      names(graft.ops.MllibOps.specs, "mllib") ++
      names(graft.streaming.StreamingOps.specs, "streaming") ++
      names(graft.multimodal.Multimodal.specs, "multimodal") ++
      names(graft.RunDetectors.specs, "scc") ++
      names(graft.sources.SccLoaderGate.specs, "scc")).toMap
  }
  val Modules: Seq[String] = Seq("relational", "textpipeline", "dedup", "similarity",
    "textanalysis", "sketches", "mllib", "streaming", "multimodal", "scc")

  /** Total length of the union of intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Layer figures of one query span and its build / plan / exec children.
    * `group` is the job group the query's own jobs carry. */
  def forQuery(rec: Recorder, spans: Seq[Span], q: Span, group: String,
      codegenNs: Long): Map[String, Double] = {
    val kids = spans.filter(_.parent == q.id)
    def phase(k: String) = kids.find(_.kind == k)
    // Spark stamps events in whole milliseconds
    def within(t: Long, s: Span) = t >= math.floor(s.start) && t < math.ceil(s.end)
    val jobs = rec.jobs.values.asScala.toSeq.filter(j => within(j.start, q))
    def jobsIn(s: Option[Span]) = s.map(p => jobs.count(j => within(j.start, p))).getOrElse(0)
    val stageIds = jobs.flatMap(_.stages).toSet
    val stages = rec.stages.asScala.toSeq.filter(s => stageIds(s.id))
    val tasks = rec.tasks.asScala.toSeq.filter(t => stageIds(t.stage))
    val exec = phase("exec")
    val stageIntervals = stages.filter(_.completed > 0)
      .map(s => (s.submitted.toDouble, s.completed.toDouble))
    val unattributed = exec.map(e =>
      e.dur - covered(stageIntervals, e.start, e.end)).getOrElse(0.0)
    val skew = stages.map { s =>
      val reads = tasks.filter(_.stage == s.id).map(_.shuffleRead)
      val total = reads.sum
      if (total > 0) reads.max.toDouble / total else 0.0
    }.foldLeft(0.0)(math.max)
    val progress = rec.progress.asScala.toSeq.filter(p => within(p.at, q))
    val lastPerRun = progress.groupBy(_.runId).values.map(_.maxBy(_.at))
    Map(
      "build.s" -> phase("build").map(_.dur / 1e3).getOrElse(0.0),
      "build.jobs" -> jobsIn(phase("build")).toDouble,
      "plan.s" -> phase("plan").map(_.dur / 1e3).getOrElse(0.0),
      "codegen.compile_s" -> codegenNs / 1e9,
      "exec.s" -> exec.map(_.dur / 1e3).getOrElse(0.0),
      "exec.jobs" -> jobsIn(exec).toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.sched_delay_s" -> tasks.map(_.schedDelayMs).sum / 1e3,
      "exec.unattributed_s" -> unattributed / 1e3,
      "exec.leaked_jobs" -> jobs.count(j => j.group != group &&
        (j.group.isEmpty || j.group.startsWith("graft-guard-"))).toDouble,
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "shuffle.skew" -> skew,
      "spill.disk_bytes" -> tasks.map(_.spillDisk).sum.toDouble,
      "spill.mem_bytes" -> tasks.map(_.spillMem).sum.toDouble,
      "exec.peak_mem_bytes" -> tasks.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "stream.batches" -> progress.size.toDouble,
      "stream.state_rows" -> lastPerRun.map(_.stateRows).sum.toDouble,
      "stream.commit_ms" -> progress.map(_.commitMs).sum.toDouble,
      "stream.add_batch_ms" -> progress.map(_.addBatchMs).sum.toDouble,
      "stream.state_memory_bytes" -> progress.map(_.stateMem).foldLeft(0L)(math.max).toDouble,
      "jobs" -> jobs.size.toDouble)
  }

  /** Metrics that combine across queries by maximum; the rest are sums. */
  val MaxMetrics: Set[String] = Set("shuffle.skew", "exec.peak_mem_bytes",
    "stream.state_memory_bytes")

  /** Span kinds whose self time a traced run reports. */
  val SpanKinds: Seq[String] = Seq("process", "setup", "pass", "query", "build", "plan",
    "exec", "job", "warmup")

  /** Add each Spark job that started inside a query as a child of the
    * query's phase span it started in (or of the query), and each of its
    * completed stages as a child of the job. */
  def addJobSpans(rec: Recorder, spans: Spans): Unit = {
    val all = spans.all
    val queries = all.filter(_.kind == "query")
    val phases = all.filter(s => Set("build", "plan", "exec")(s.kind)).groupBy(_.parent)
    val stages = rec.stages.asScala.toSeq.filter(_.completed > 0).groupBy(_.id)
    rec.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      queries.find(q => j.start >= math.floor(q.start) && j.start < math.ceil(q.end)).foreach { q =>
        val parent = phases.getOrElse(q.id, Nil)
          .find(p => j.start >= math.floor(p.start) && j.start < math.ceil(p.end))
          .getOrElse(q)
        val end = if (j.end >= j.start) j.end else j.start
        val jid = spans.add(parent.id, s"job-${j.id}", "job", j.start.toDouble, end.toDouble)
        j.stages.flatMap(stages.getOrElse(_, Nil)).foreach { st =>
          spans.add(jid, s"stage-${st.id}.${st.attempt}", "stage", st.submitted.toDouble,
            st.completed.toDouble)
        }
      }
    }
  }

  /** Self time per span kind: each span's duration minus the part of it
    * that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        s.dur - covered(kids, s.start, s.end)
      }.sum / 1e3
    }
  }
}
