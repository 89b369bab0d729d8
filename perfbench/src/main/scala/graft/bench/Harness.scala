package graft.bench

import java.math.MathContext
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.{HarnessGuard, RunDetectors, SparkEntry, Warmup}
import graft.sources.SccJsonSource

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * starts this process once per run, and checks what it writes.
  *
  *   --mode measure  time one pass of the workload; with --trace 1, also
  *                   record spans and Spark counts, time the detector
  *                   stages on warm re-runs, then run Warmup.run to time
  *                   its phases.
  *   --mode prime    run Warmup.run against the (empty) model store, then
  *                   dump each --queries result as parquet under
  *                   --validate for the DuckDB oracle check.
  *
  * A pass runs each item once, in the order --items lists them. An item
  * is a registered query for `registry` and one `RunDetectors.run` over
  * the corpus's split directory for `detectors`. Results are reduced to
  * (rows, order-insensitive checksum) for `run.py` to compare with the
  * cached oracle-checked values.
  */
object Harness {
  private val QueryTimeoutSec = 90

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val traced = args.get("trace").contains("1")
    val spans = new Spans(args.getOrElse("run-id", "run"))
    val rec = if (traced) Some(new Recorder) else None
    val processStartMs = ProcessHandle.current().info().startInstant()
      .map[Double](_.toEpochMilli.toDouble).orElse(spans.nowMs)
    val processSpan = spans.add(0, "process", "process", processStartMs, Double.NaN)

    // set-up: process start until the session is up and has run its first job
    var sessionStart = 0.0
    val (spark, setupEnd) = spans.timed(processSpan, "setup", "setup") { setupId =>
      spans.timed(setupId, "session", "session") { _ =>
        sessionStart = spans.nowMs
        val s = graft.Sessions.withOverrides(SparkSession.builder(), "4")
          .config("spark.sql.shuffle.partitions", "4")
          .config("spark.ui.enabled", "false")
          .withExtensions(new graft.functions.GraftExtensions)
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        rec.foreach { r =>
          s.sparkContext.addSparkListener(r)
          s.streams.addListener(r.streaming)
        }
        s.read.parquet(s"$data/region.parquet").count()
        (s, spans.nowMs)
      }
    }
    val out = mutable.LinkedHashMap[String, JValue](
      "setup_s" -> JDouble((setupEnd - processStartMs) / 1e3),
      "session_s" -> JDouble((setupEnd - sessionStart) / 1e3))
    out("canary_start") = canaries()

    args("mode") match {
      case "prime" =>
        out("warmup") = runWarmup(spark, data, spans, processSpan, storeCold = true)
        args.get("validate").foreach { dir =>
          out("validation") = validate(spark, data, readLines(args("queries")), dir)
        }
      case "measure" =>
        val runItem: (String, Int) => Item = workload match {
          case "registry" => queryRunner(spark, data, spans)
          case "detectors" => detectorRunner(spark, args("corpus"), spans)
          case w => throw new IllegalArgumentException(s"unknown workload: $w")
        }
        val p0 = spans.nowMs
        val cpu0 = processCpuNs()
        val items = spans.timed(processSpan, "pass", "pass") { passId =>
          args("items").split(",").toSeq.map(n => runItem(n, passId))
        }
        out("pass") = JObject("wall_s" -> JDouble((spans.nowMs - p0) / 1e3),
          "cpu_s" -> JDouble((processCpuNs() - cpu0) / 1e9),
          "items" -> JArray(items.toList.map(_.json)))
        if (workload == "detectors" && args.contains("count-splits"))
          out("split_counts") = splitCounts(spark, args("corpus"),
            args("count-splits").split(",").toSeq)
        rec.foreach { r =>
          val probes =
            if (workload == "detectors") detectorProbes(spark, args("corpus"), items, spans, processSpan)
            else Seq("sources.scan_s", "sources.preprocess_s", "detectors.score_s",
              "detectors.summary_s").map(_ -> 0.0).toMap
          org.apache.spark.graft.GraftCoreShim.drainListenerBus(spark.sparkContext)
          val (perItem, totals) = layers(r, spans, items, workload)
          out("per_item") = perItem
          Attribution.addJobSpans(r, spans)
          out("warmup") = runWarmup(spark, data, spans, processSpan, storeCold = false)
          val selfByKind = Attribution.selfTimes(closed(spans, processSpan))
          val self = Attribution.SpanKinds.map(k => s"self.${k}_s" -> selfByKind.getOrElse(k, 0.0))
          out("layers") = JObject((totals ++ probes ++ self).toList.map { case (k, v) =>
            k -> JDouble(v) })
        }
    }
    out("canary_end") = canaries()
    out("peak_rss_mb") = JDouble(peakRssMb())
    spark.stop()
    args.get("spans").foreach(p => Files.writeString(Paths.get(p), compact(render(JObject(
      "run_id" -> JString(spans.runId),
      "spans" -> JArray(closed(spans, processSpan).toList.map(spanJson)))))))
    Files.writeString(Paths.get(args("out")), compact(render(JObject(out.toList))))
  }

  /** One timed item: its wall, its reduced result, and what the traced run
    * needs to find its jobs: its span, its job group and its codegen time. */
  final case class Item(name: String, wall: Double, rows: Long, checksum: String,
      error: Option[String], spanId: Int, group: String, codegenNs: Long) {
    def json: JValue = JObject("name" -> JString(name), "wall_s" -> JDouble(wall),
      "rows" -> JLong(rows), "checksum" -> JString(checksum),
      "error" -> error.map(JString(_)).getOrElse(JNull))
  }

  /** Run `body` as one item: a query span, under HarnessGuard with the
    * item's own job group, then clear the caches it left. The result is
    * reduced to (rows, checksum) by `result` once the span has closed. */
  private def timedItem(spark: SparkSession, spans: Spans, passId: Int, name: String,
      guard: String)(body: Int => Unit)(result: => (Long, String)): Item = {
    val cg0 = CodeGenerator.compileTime
    val t0 = spans.nowMs
    var qid = 0
    val r = spans.timed(passId, name, "query") { id =>
      qid = id
      HarnessGuard.run(spark, guard, QueryTimeoutSec)(body(id))
    }
    val wall = (spans.nowMs - t0) / 1e3
    val cg = CodeGenerator.compileTime - cg0
    spark.catalog.clearCache()
    val (rows, checksum) = if (r.isLeft) (0L, "") else result
    Item(name, wall, rows, checksum, r.left.toOption, qid, s"graft-guard-$guard", cg)
  }

  private def queryRunner(spark: SparkSession, data: String, spans: Spans)
      : (String, Int) => Item = {
    val registry = SparkEntry.queries
    (name, passId) => {
      var rows: Array[Row] = Array.empty
      timedItem(spark, spans, passId, name, name) { id =>
        val df = spans.timed(id, "build", "build")(_ => registry(name)(spark, data))
        spans.timed(id, "plan", "plan")(_ => df.queryExecution.executedPlan)
        rows = spans.timed(id, "exec", "exec")(_ => df.collect())
      }((rows.length.toLong, Checksum.ofRows(rows)))
    }
  }

  private def detectorConfig(corpus: String, split: String) =
    RunDetectors.Config(dataDir = corpus, testSubdir = split, split = "test",
      maxMessages = Int.MaxValue, updateInterval = 100,
      freqQueries = Seq("urgent", "bank", "wallet"))

  private def detectorRunner(spark: SparkSession, corpus: String, spans: Spans)
      : (String, Int) => Item = (split, passId) => {
    var summary = ""
    timedItem(spark, spans, passId, split, s"detectors-$split") { id =>
      summary = spans.timed(id, "exec", "exec")(_ =>
        RunDetectors.run(spark, detectorConfig(corpus, split)))
    } {
      val j = parse(summary)
      ((j \ "processed") match { case JInt(n) => n.toLong; case _ => -1L },
        Checksum.md5(Checksum.ofJson(j)))
    }
  }

  /** Spark's own F1–F3 counts per split, for the DuckDB replay to match. */
  private def splitCounts(spark: SparkSession, corpus: String, splits: Seq[String]): JValue =
    JObject(splits.toList.map { split =>
      val dir = s"$corpus/$split"
      val convs = SccJsonSource.readConversations(spark, dir)
      val inbound = convs.select(explode(col("messages")).as("m"))
        .filter(col("m.is_inbound")).count()
      split -> JObject(
        "conversations" ->
          JLong(SccJsonSource.readConversations(spark, dir, allMessages = true).count()),
        "f1_conversations" -> JLong(convs.count()),
        "f2_messages" -> JLong(inbound),
        "f3_messages" -> JLong(SccJsonSource.scrubbedMessages(spark, dir).count()))
    })

  /** Untimed oracle pass: each query's collected rows, reduced the same way
    * the timed pass reduces them, and written as parquet for DuckDB. */
  private def validate(spark: SparkSession, data: String, names: Seq[String],
      dir: String): JValue = {
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      compact(render(JObject(oracle.toList.map { case (k, v) => k -> JString(v) }))))
    JArray(names.toList.map { name =>
      var rows: Array[Row] = Array.empty
      val r = HarnessGuard.run(spark, name, QueryTimeoutSec) {
        val df = registry(name)(spark, data)
        rows = df.collect()
        spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
      }
      spark.catalog.clearCache()
      JObject("name" -> JString(name), "rows" -> JLong(rows.length),
        "checksum" -> JString(Checksum.ofRows(rows)),
        "error" -> r.left.toOption.map(JString(_)).getOrElse(JNull))
    })
  }

  private val WarmupLine = """\[warmup\] (?:CUT |SKIP )?([a-z][a-z0-9-]*) .*""".r

  /** Run the program's Warmup.run and time each phase by when its
    * "[warmup] <phase>" line appears on stderr. */
  private def runWarmup(spark: SparkSession, data: String, spans: Spans, parent: Int,
      storeCold: Boolean): JValue = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val orig = System.err
    spans.timed(parent, "warmup", "warmup") { wid =>
      var last = spans.nowMs
      val line = new java.io.ByteArrayOutputStream()
      val tee = new java.io.PrintStream(new java.io.OutputStream {
        override def write(b: Int): Unit = {
          orig.write(b)
          if (b != '\n') line.write(b)
          else {
            line.toString("UTF-8") match {
              case WarmupLine(name) if name != "budget" && name != "bad" =>
                val now = spans.nowMs
                phases(name) = (now - last) / 1e3
                spans.add(wid, name, "warmup-phase", last, now)
                last = now
              case _ =>
            }
            line.reset()
          }
        }
      }, true)
      System.setErr(tee)
      try Warmup.run(spark, data, 1.0, storeCold)
      finally { tee.flush(); System.setErr(orig) }
    }
    JObject(phases.toList.map { case (k, v) => k -> JDouble(v) })
  }

  /** Per-item and per-workload layer figures of a traced run: sums over
    * items, except shares and peaks, which take the maximum. */
  private def layers(rec: Recorder, spans: Spans, items: Seq[Item], workload: String)
      : (JValue, Map[String, Double]) = {
    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    val perItem = items.map { it =>
      it -> Attribution.forQuery(rec, all, byId(it.spanId), it.group, it.codegenNs)
    }
    val keys = perItem.headOption.map(_._2.keys.toSeq).getOrElse(Nil)
    val totals = keys.map { k =>
      val vs = perItem.map(_._2(k))
      k -> (if (Attribution.MaxMetrics(k)) vs.foldLeft(0.0)(math.max) else vs.sum)
    }.toMap - "jobs"
    val modules = Attribution.Modules.flatMap { m =>
      val mine = perItem.filter { case (it, _) => Attribution.moduleOf.get(it.name).contains(m) }
      Seq(s"ops.$m.wall_s" -> mine.map(_._1.wall).sum,
        s"ops.$m.jobs" -> mine.map(_._2("jobs")).sum)
    }.toMap
    val isDetectors = workload == "detectors"
    val detectors = Map(
      "detectors.jobs" -> (if (isDetectors) perItem.map(_._2("jobs")).sum else 0.0),
      "sources.messages" -> (if (isDetectors) items.map(_.rows).sum.toDouble else 0.0))
    val json = JArray(perItem.toList.map { case (it, m) =>
      JObject(("name" -> JString(it.name)) :: ("wall_s" -> JDouble(it.wall)) ::
        m.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })
    })
    (json, totals ++ modules ++ detectors)
  }

  /** Stage probes of the detector chain over the split the pass ran first
    * (one split only, to keep the traced run short), all run warm after
    * the timed pass: each probe re-runs the chain up to one stage, and a
    * stage's time is the difference between consecutive probes. The
    * summary stage is a warm `RunDetectors.run` minus the score probe. */
  private def detectorProbes(spark: SparkSession, corpus: String, pass: Seq[Item],
      spans: Spans, parent: Int): Map[String, Double] = {
    def timed(id: Int, name: String)(body: => Any): Double = {
      val t0 = spans.nowMs
      spans.timed(id, name, "probe")(_ => body)
      val s = (spans.nowMs - t0) / 1e3
      spark.catalog.clearCache()
      s
    }
    val streamOrder = Seq(col("time").asc_nulls_last, col("body"), col("src_file"), col("raw_body"))
    val perSplit = spans.timed(parent, "probes", "probes") { pid =>
      pass.filter(_.error.isEmpty).take(1).map { it =>
        val dir = s"$corpus/${it.name}"
        val scan = timed(pid, s"scan-${it.name}")(
          SccJsonSource.readConversations(spark, dir).count())
        val pre = timed(pid, s"preprocess-${it.name}")(
          SccJsonSource.preprocessedMessages(spark, dir).filter(col("body") =!= "").count())
        val score = timed(pid, s"score-${it.name}") {
          // the message stream exactly as RunDetectors.run builds it (with
          // detectorConfig's maxMessages) before dupScored; keep the two in
          // step when the program changes
          val msgs = SccJsonSource.preprocessedMessages(spark, dir).filter(col("body") =!= "")
            .orderBy(streamOrder: _*)
            .limit(Int.MaxValue)
            .withColumn("msg_idx", row_number().over(Window.orderBy(streamOrder: _*)) - 1)
            .select(col("msg_idx"), col("body"))
          // an aggregate of the score itself: a bare count would let the
          // optimizer drop the score join
          RunDetectors.dupScored(msgs).agg(sum(col("dup_score"))).collect()
        }
        val run = timed(pid, s"run-${it.name}")(
          RunDetectors.run(spark, detectorConfig(corpus, it.name)))
        (scan, math.max(0.0, pre - scan), math.max(0.0, score - pre),
          math.max(0.0, run - score))
      }
    }
    Map("sources.scan_s" -> perSplit.map(_._1).sum,
      "sources.preprocess_s" -> perSplit.map(_._2).sum,
      "detectors.score_s" -> perSplit.map(_._3).sum,
      "detectors.summary_s" -> perSplit.map(_._4).sum)
  }

  /** All spans, with the still-open process span ending now. */
  private def closed(spans: Spans, processSpan: Int): Seq[Span] = {
    val now = spans.nowMs
    spans.all.map(s => if (s.id == processSpan) s.copy(end = now) else s)
  }

  private def spanJson(s: Span): JValue = JObject("id" -> JInt(s.id), "parent" -> JInt(s.parent),
    "name" -> JString(s.name), "kind" -> JString(s.kind),
    "start_ms" -> JDouble(s.start), "end_ms" -> JDouble(s.end))

  private def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  private def canaries(): JValue = JObject(
    "single_s" -> JDouble(graft.Canary.single()),
    "parallel_s" -> JDouble(graft.Canary.parallel(4)))

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

/** Order-insensitive digests of query results. Doubles are rounded to ten
  * significant digits first: a sum whose partial results merge in a
  * different order may differ in its last bits from run to run. */
object Checksum {
  private val Mc = new MathContext(10)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Row count plus the wrapping sum of each row's 64-bit md5 prefix. */
  def ofRows(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    f"${rows.length}%d:$sum%016x"
  }

  /** Canonical text of a JSON summary, keeping key and array order. */
  def ofJson(j: JValue): String = j match {
    case JObject(fs) => fs.map { case (k, v) => compact(render(JString(k))) + ":" + ofJson(v) }
      .mkString("{", ",", "}")
    case JArray(xs) => xs.map(ofJson).mkString("[", ",", "]")
    case JDouble(d) => num(d)
    case JDecimal(d) => num(d.toDouble)
    case other => compact(render(other))
  }
}
