package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.StructType

import graft.{Engine, SparkEntry, Tables}
import graft.sql.ChTranspiler
import graft.streaming.{MaterializedView, StreamingPipeline}

/** The JVM side of the caller-latency benchmark: a client of the engine's
  * public entry points that runs one seeded plan and records what a caller
  * waits for.
  *
  * Usage: `CallBench <plan.json> <result.json>`. The plan (written by
  * `run.py`) holds the workload, the data directory, the measured seconds,
  * whether to trace, and the passes of operations. The result holds raw
  * timings, row counts, result fingerprints, the first result of every
  * operation type (as parquet, for the oracle gate) and, when traced, the
  * spans and per-operation counters. `run.py` turns it into metrics.
  *
  * Load shape: one client thread, closed loop. Each operation builds its
  * DataFrame fresh and drains it with `collect()`; nothing is prepared or
  * reused between operations. The session is `Engine.session` with one
  * core and one shuffle partition per available processor.
  */
object CallBench {

  val Setups = 3
  val WarmPasses = 2

  /** The dashboard read of the ingest view, in the ClickHouse dialect. */
  val TopUsers: String =
    "SELECT user_id, n_events, value_cents, toDate(last_ts) AS last_day " +
      "FROM user_activity ORDER BY n_events DESC, user_id LIMIT 10"

  final case class Op(kind: String, ch: String, slice: Int)

  final case class OpResult(
      pass: Int, idx: Int, kind: String, latencyS: Double, cpuS: Double,
      threadCpuS: Double, probeS: Double, codegenCompiles: Long, rows: Long,
      fingerprint: Long, error: String, steps: Map[String, Double],
      extra: Map[String, Double])

  /** One timed interval: layer, name, epoch-ms bounds and the operation
    * it belongs to. */
  final case class Span(op: String, layer: String, name: String,
      startMs: Double, endMs: Double)

  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val bench = new CallBench(plan)
    val result = bench.run()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Order-independent fingerprint of a result: the rows as a multiset. */
  def fingerprint(rows: Array[Row]): Long =
    rows.foldLeft(rows.length.toLong)((h, r) => h + MurmurHash3.stringHash(r.toString))
}

final class CallBench(plan: JsonNode) {
  import CallBench._

  private val workload = plan.get("workload").asText
  private val dataDir = plan.get("data_dir").asText
  private val workDir = Paths.get(plan.get("work_dir").asText)
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val cores = plan.get("cores").asInt
  private val launchMs = plan.get("launch_ms").asDouble
  private def ops(node: JsonNode): Vector[Op] = node.elements.asScala.map { o =>
    Op(o.get("type").asText, Option(o.get("ch")).map(_.asText).orNull,
      Option(o.get("slice")).map(_.asInt).getOrElse(-1))
  }.toVector
  private val setupOps = ops(plan.get("setup"))
  private val warmOps = ops(plan.get("warm"))
  private val passes = plan.get("passes").elements.asScala.map(ops).toVector
  private val slicePaths: Vector[String] =
    Option(plan.get("slices")).map(_.elements.asScala.map(_.asText).toVector)
      .getOrElse(Vector.empty)

  private var spark: SparkSession = _
  private var recorder: Recorder = _
  private var streamRecorder: StreamRecorder = _
  private val spans = ArrayBuffer[Span]()
  private val opCounters = ArrayBuffer[Map[String, Any]]()

  // first result of every operation type in the warm pass, for the gate
  private val firstResults = mutable.LinkedHashMap[String, (Array[Row], StructType, Seq[String])]()
  private var nextPass = 0
  private var lastCompleteIngest: Option[Path] = None

  /** Three set-ups, an untimed warm-up, then the measured window(s).
    *
    * A set-up is what a caller pays for a first answer: a fresh
    * `Engine.session` plus one operation of the workload's first type. The
    * first set-up also counts the time from process launch. The warm-up
    * then runs every operation type `WarmPasses` times (whole-stage
    * codegen, JIT, first-use caches) on `cores` threads, since only its
    * end state matters; an ingest pass is one stream, so two passes run
    * side by side, each in order. The first warm-up results are the ones
    * the oracle gate checks. */
  def run(): Map[String, Any] = {
    sampler.start()
    val setupS = ArrayBuffer[Double]()
    val sessionS = ArrayBuffer[Double]()
    val warm = ArrayBuffer[OpResult]()
    for ((op, i) <- setupOps.zipWithIndex) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = nowMs
      spark = Engine.session(s"local[$cores]", cores)
      spark.sparkContext.setLogLevel("WARN")
      sessionS += (nowMs - t0) / 1e3
      warm ++= runOps(Vector(op), -1 - i, None, keepFirst = false, ingestDir(-1 - i))._1
      setupS += (nowMs - (if (i == 0) launchMs else t0)) / 1e3
    }
    if (workload == "ingest_refresh") {
      // a second pipeline, in its own session and directory, warms up
      // beside the one whose results the gate checks
      val dir = ingestDir(0)
      val other = workDir.resolve("ingest").resolve("warm")
      Files.createDirectories(other.resolve("src"))
      val session = spark.newSession()
      val side = new Thread(() => runOps(warmOps, 0, None, keepFirst = false, Some(other), session))
      side.start()
      val (done, _) = runOps(warmOps, 0, None, keepFirst = true, dir)
      side.join()
      deleteTree(other)
      warm ++= done
      if (done.forall(_.error == null)) lastCompleteIngest = dir
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try for (w <- 0 until WarmPasses) {
        warm ++= warmOps.zipWithIndex.map { case (op, i) =>
          pool.submit(new java.util.concurrent.Callable[OpResult] {
            def call(): OpResult = runOp(op, 0, i, keepFirst = w == 0, None, spark)
          })
        }.map(_.get)
      } finally pool.shutdown()
    }
    nextPass = 1
    val coldStartS = (nowMs - launchMs) / 1e3
    val untracedSeconds = if (traced) seconds / 2 else seconds
    val timed = window(untracedSeconds, probe = false)
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS.toSeq, "session_s" -> sessionS.toSeq,
      "cold_start_s" -> coldStartS,
      "warm" -> warm.map(opJson).toSeq,
      "ops" -> timed.map(opJson).toSeq)
    if (traced) {
      recorder = new Recorder
      spark.sparkContext.addSparkListener(recorder)
      streamRecorder = new StreamRecorder
      spark.streams.addListener(streamRecorder)
      val gc0 = gcMs
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val tOps = window(seconds - untracedSeconds, probe = true)
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      out ++= Seq(
        "traced_ops" -> tOps.map(opJson).toSeq,
        "spans" -> spans.map(s => Map("op" -> s.op, "layer" -> s.layer,
          "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq,
        "op_counters" -> opCounters.toSeq,
        "jvm_gc_s" -> (gcMs - gc0) / 1e3, "jvm_heap_peak_mb" -> heapPeak)
    }
    val oracle = SparkEntry.oracleSql
    out ++= Seq("results" -> writeFirstResults(),
      "oracle" -> firstResults.keys.flatMap(k => oracle.get(k).map(k -> _)).toMap,
      "ingest_dir" -> lastCompleteIngest.map(_.toString).orNull)
    if (traced) {   // a per-layer metric only
      System.gc(); System.gc()
      out("heap_retained_mb") =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    spark.stop()
    out.toMap
  }

  // CPU clocks. Process CPU counts every thread of the JVM, the JIT
  // compilers and the garbage collector included; Java-thread CPU counts
  // the client, Spark's and the engine's own threads only. Neither counts
  // time the host withholds from the machine (steal) or time spent
  // waiting for a core, which is what makes them steadier than latency on
  // a shared host.
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def processCpuNs: Long = osBean.getProcessCpuTime
  private val threadCpuSeen = mutable.HashMap[Long, Long]()
  private var threadCpuTotal = 0L

  /** CPU time of every Java thread so far, kept monotonic across thread
    * exits: a thread that has ended keeps the time last seen for it. The
    * sampler below reads the clocks every 20 ms, so that a thread living
    * only inside one operation, such as a streaming query's, counts all but
    * its last few milliseconds; its own time is left out. */
  private def threadCpuNs: Long = threadCpuSeen.synchronized {
    val ids = threadBean.getAllThreadIds
    for ((id, t) <- ids.zip(threadBean.getThreadCpuTime(ids))
         if t >= 0 && id != sampler.getId) {
      threadCpuTotal += t - threadCpuSeen.getOrElse(id, 0L)
      threadCpuSeen(id) = t
    }
    threadCpuTotal
  }
  private lazy val sampler: Thread = {
    val t = new Thread(() => while (true) { Thread.sleep(20); threadCpuNs }, "perfbench-cpu")
    t.setDaemon(true)
    t
  }

  /** The host-speed probe: a fixed piece of JVM work (sort, hash-map
    * aggregation, string building), run on the calling thread before each
    * operation. Returns its thread CPU seconds. */
  private def hostProbe(): Double = {
    val t0 = threadBean.getCurrentThreadCpuTime
    val rnd = new java.util.SplittableRandom(42)
    val xs = Array.fill(100000)(rnd.nextLong())
    java.util.Arrays.sort(xs)
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val sb = new java.lang.StringBuilder
    for (k <- 0 until 50000) {
      counts.merge(xs(k) % 1000, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
      if (k % 4 == 0) sb.append(xs(k))
    }
    probeSink += counts.size + sb.length
    (threadBean.getCurrentThreadCpuTime - t0) / 1e9
  }
  @volatile private var probeSink = 0L

  /** Whole-stage and expression classes compiled so far (codegen cache
    * misses). */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run passes until `sec` seconds have gone by; an operation is started
    * only inside the window. Returns every operation run. */
  private def window(sec: Double, probe: Boolean): Seq[OpResult] = {
    val start = nowMs
    val ops = ArrayBuffer[OpResult]()
    while (nowMs - start < sec * 1e3 && nextPass < passes.size) {
      if (probe) probeTables()
      val ingest = ingestDir(nextPass)
      val (done, complete) = runOps(passes(nextPass), nextPass, Some(start + sec * 1e3),
        keepFirst = false, ingest)
      ops ++= done
      if (complete && done.forall(_.error == null) && ingest.isDefined)
        lastCompleteIngest = ingest
      nextPass += 1
    }
    ops.toSeq
  }

  /** Run `ops` as pass `p`, stopping before an operation that would start
    * after the deadline. Returns the operations run and whether all ran. */
  private def runOps(ops: Vector[Op], p: Int, deadlineMs: Option[Double],
      keepFirst: Boolean, ingest: Option[Path],
      session: SparkSession = spark): (Seq[OpResult], Boolean) = {
    val out = ArrayBuffer[OpResult]()
    var complete = true
    for ((op, i) <- ops.zipWithIndex if complete) {
      if (deadlineMs.exists(nowMs >= _)) complete = false
      else out += runOp(op, p, i, keepFirst, ingest, session)
    }
    (out.toSeq, complete)
  }

  // --- operations ------------------------------------------------------------

  private def runOp(op: Op, p: Int, i: Int, keepFirst: Boolean,
      ingest: Option[Path], session: SparkSession): OpResult = {
    val opId = s"$p.$i"
    val probeS = hostProbe()
    val sc = session.sparkContext
    sc.setJobGroup(opId, s"${op.kind} pass $p")
    sc.setLocalProperty("perfbench.op", opId)
    val c0 = processCpuNs
    val a0 = threadCpuNs
    val g0 = codegenCompiles
    val t0 = nowMs
    val scope = new Scope(opId)
    import scope.span
    var rows: Array[Row] = Array.empty
    var df: DataFrame = null
    val error = try {
      workload match {
        case "sql_frontdoor" =>
          val text = span("sql", "transpile")(ChTranspiler.transpile(op.ch))
          df = span("sql", "front_door")(Engine.sql(session, dataDir, text))
          rows = span("exec", "drain")(df.collect())
        case "ingest_refresh" =>
          val (read, top) = ingestCycle(op, ingest.get, scope, session)
          df = read
          rows = top
        case _ =>
          df = span("queries", "build")(SparkEntry.queries(op.kind)(session, dataDir))
          rows = span("exec", "drain")(df.collect())
      }
      null
    } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("perfbench.op", null)
    }
    val t1 = nowMs
    val cpuS = (processCpuNs - c0) / 1e9
    val threadCpuS = (threadCpuNs - a0) / 1e9
    val compiles = codegenCompiles - g0
    // the gate checks each type's first result; for ingest, the read after
    // the warm pass's last cycle
    if (error == null && keepFirst) firstResults.synchronized {
      if (workload == "ingest_refresh" || !firstResults.contains(op.kind)) {
        val inputs = if (df == null) Nil
          else df.inputFiles.toSeq.map(_.split('/').last.stripSuffix(".parquet")).distinct.sorted
        val schema = if (df != null) df.schema else rows.headOption.map(_.schema).orNull
        firstResults(op.kind) = (rows, schema, inputs)
      }
    }
    if (recorder != null) {
      spans += Span(opId, "op", op.kind, t0, t1)
      if (df != null) df.queryExecution.tracker.phases.foreach { case (ph, s) =>
        spans += Span(opId, "catalyst", ph, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
      opCounters += recorder.counters(opId, t0, t1, spans, cores, streamRecorder)
    }
    OpResult(p, i, op.kind, (t1 - t0) / 1e3, cpuS, threadCpuS, probeS, compiles, rows.length,
      fingerprint(rows), error, scope.steps.toMap, scope.extra.toMap)
  }

  /** A fresh directory for ingest pass `p`; the directories of earlier
    * passes go, except the last complete one, which the gate checks. */
  private def ingestDir(p: Int): Option[Path] =
    if (workload != "ingest_refresh") None
    else {
      val root = workDir.resolve("ingest")
      if (Files.isDirectory(root)) Files.list(root).iterator.asScala.toList
        .filterNot(d => lastCompleteIngest.contains(d)).foreach(deleteTree)
      val d = root.resolve(s"pass_$p")
      Files.createDirectories(d.resolve("src"))
      Some(d)
    }

  /** Timings of one operation: each span's seconds by name, plus spans
    * for the trace when one is recorded. */
  private final class Scope(opId: String) {
    val steps = mutable.LinkedHashMap[String, Double]()
    val extra = mutable.LinkedHashMap[String, Double]()
    def span[T](layer: String, name: String)(f: => T): T = {
      val s = nowMs
      try f
      finally {
        val e = nowMs
        steps(name) = (e - s) / 1e3
        if (recorder != null) spans += Span(opId, layer, name, s, e)
      }
    }
  }

  /** One ingest cycle: land the slice, run the deduplicating incremental
    * sink over everything landed so far, refresh the per-user view over
    * the sink, then read the view's top 10 the way a dashboard would: a
    * ClickHouse-dialect query through the transpiler and Spark SQL.
    * Returns the read and its rows; records the view's row count as
    * `mv_rows`. */
  private def ingestCycle(op: Op, dir: Path, scope: Scope,
      spark: SparkSession): (DataFrame, Array[Row]) = {
    import scope.span
    Files.copy(Paths.get(slicePaths(op.slice)),
      dir.resolve("src").resolve(f"slice_${op.slice}%03d.parquet"))
    val src = dir.resolve("src").toString
    val sink = dir.resolve("sink").toString
    val mv = dir.resolve("mv").toString
    val sinkFiles = parquetFiles(sink)
    span("streaming", "sink") {
      StreamingPipeline.incrementalSink(spark, src, sink, dir.resolve("ckpt").toString)(
        s => StreamingPipeline.dedupStream(s, Seq("event_id"), "ts", "1 hour"))
    }
    val mvRows = span("streaming", "mv_refresh") {
      MaterializedView.refresh(spark, mv,
        spark.read.parquet(sink).groupBy(col("user_id")).agg(
          count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"),
          max(col("ts")).as("last_ts")))
    }
    scope.extra("mv_rows") = mvRows.toDouble
    scope.extra("files_written") = parquetFiles(sink) - sinkFiles + parquetFiles(mv)
    if (streamRecorder != null) streamRecorder.awaitTerminated()
    span("streaming", "read") {
      spark.read.parquet(mv).createOrReplaceTempView("user_activity")
      val text = span("sql", "transpile")(ChTranspiler.transpile(CallBench.TopUsers))
      val df = span("sql", "front_door")(spark.sql(text))
      (df, span("exec", "drain")(df.collect()))
    }
  }

  private def parquetFiles(dir: String): Int =
    Option(new File(dir).listFiles).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  /** Traced runs only: time direct catalog calls once per pass, outside
    * every operation. */
  private def probeTables(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", "probe")
    for (t <- Tables.all) {
      val s = nowMs
      Tables(spark, dataDir, t)
      spans += Span("probe", "tables", s"apply.$t", s, nowMs)
    }
    val s = nowMs
    Tables.registerAll(spark, dataDir)
    spans += Span("probe", "tables", "register_all", s, nowMs)
    sc.setLocalProperty("perfbench.op", null)
  }

  private def writeFirstResults(): Seq[Map[String, Any]] = {
    val dir = workDir.resolve("results")
    firstResults.toSeq.map { case (kind, (rows, schema, inputs)) =>
      val path = dir.resolve(kind).toString
      if (schema != null)
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
      Map("type" -> kind, "path" -> (if (schema != null) path else null),
        "rows" -> rows.length, "inputs" -> inputs,
        "fingerprint" -> fingerprint(rows))
    }
  }

  private def opJson(r: OpResult): Map[String, Any] = Map(
    "pass" -> r.pass, "idx" -> r.idx, "type" -> r.kind, "latency_s" -> r.latencyS,
    "cpu_s" -> r.cpuS, "thread_cpu_s" -> r.threadCpuS, "probe_s" -> r.probeS,
    "codegen_compiles" -> r.codegenCompiles,
    "rows" -> r.rows, "fingerprint" -> r.fingerprint, "error" -> r.error,
    "steps" -> r.steps, "extra" -> r.extra)
}

/** Spark listener of the traced run: jobs, stages and task durations,
  * each job tagged with the operation that launched it. */
final class Recorder extends SparkListener {
  final class StageRec {
    var submit, complete, run, cpuNs, gc, inBytes, inRows, shRead, shWrite,
        spill, outBytes = 0L
    var tasks = 0
    val durations = ArrayBuffer[Long]()
  }
  final class JobRec(val id: Int, val op: String, val submit: Long, val stageIds: Seq[Int]) {
    var end = 0L
  }
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).map(_.getProperty("perfbench.op")).orNull
    jobs += new JobRec(e.jobId, op, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null) stage(e.stageId).durations += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.submit = i.submissionTime.getOrElse(0L)
    s.complete = i.completionTime.getOrElse(0L)
    s.tasks = i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      s.run = m.executorRunTime; s.cpuNs = m.executorCpuTime; s.gc = m.jvmGCTime
      s.inBytes = m.inputMetrics.bytesRead; s.inRows = m.inputMetrics.recordsRead
      s.shRead = m.shuffleReadMetrics.totalBytesRead
      s.shWrite = m.shuffleWriteMetrics.bytesWritten
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      s.outBytes = m.outputMetrics.bytesWritten
    }
  }

  /** Counters of one operation, and its job and stage spans. Jobs are
    * matched by the operation's local property; a job without one (none
    * expected) is matched by submission time. */
  def counters(opId: String, t0: Double, t1: Double, spans: ArrayBuffer[CallBench.Span],
      cores: Int, streams: StreamRecorder): Map[String, Any] = {
    org.apache.spark.perfbench.ListenerDrain(
      SparkSession.active.sparkContext)
    synchronized {
      val opSpans = spans.filter(_.op == opId)
      def within(layer: String, ms: Long) = opSpans.exists(s =>
        s.layer == layer && s.startMs <= ms && ms <= s.endMs)
      val mine = jobs.filter(j => j.op == opId || (j.op == null && j.submit >= t0 && j.submit <= t1))
      var buildJobs = 0
      val st = ArrayBuffer[StageRec]()
      for (j <- mine) {
        val ss = j.stageIds.flatMap(stages.get).filter(_.complete > 0)
        val layer =
          if (ss.exists(_.outBytes > 0)) "sources"
          else if (within("queries", j.submit) || within("sql", j.submit)) "tables"
          else "exec"
        if (within("queries", j.submit) || within("sql", j.submit)) buildJobs += 1
        spans += CallBench.Span(opId, layer, s"job.${j.id}", j.submit.toDouble,
          math.max(j.end, j.submit).toDouble)
        for (s <- ss) spans += CallBench.Span(opId, layer, "stage", s.submit.toDouble,
          s.complete.toDouble)
        st ++= ss
      }
      def median(xs: Seq[Long]): Double =
        if (xs.isEmpty) 0 else { val s = xs.sorted; s(s.size / 2).toDouble }
      val skew = st.filter(_.durations.size >= 2).map { s =>
        s.durations.max / math.max(1.0, median(s.durations.toSeq))
      }.maxOption.getOrElse(1.0)
      val scan = st.filter(_.inBytes > 0)
      val taskS = st.map(_.run).sum / 1e3
      val wall = (t1 - t0) / 1e3
      val phases = opSpans.filter(_.layer == "catalyst")
        .map(s => s.name -> (s.endMs - s.startMs) / 1e3).toMap
      Map[String, Any](
        "op" -> opId, "jobs" -> mine.size, "build_jobs" -> buildJobs,
        "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "task_s" -> taskS, "cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "gc_s" -> st.map(_.gc).sum / 1e3,
        "core_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
        "scan_stage_s" -> scan.map(s => s.complete - s.submit).sum / 1e3,
        "scan_tasks" -> scan.map(_.tasks).sum,
        "input_bytes" -> st.map(_.inBytes).sum, "input_rows" -> st.map(_.inRows).sum,
        "shuffle_read_bytes" -> st.map(_.shRead).sum,
        "shuffle_write_bytes" -> st.map(_.shWrite).sum,
        "spill_bytes" -> st.map(_.spill).sum, "stage_skew" -> skew,
        "bytes_written" -> st.map(_.outBytes).sum,
        "phases" -> phases) ++ (if (streams == null) Map.empty else streams.drain())
    }
  }
}

/** Streaming listener of the traced run: sums the progress of the
  * micro-batches that ran since the last drain. */
final class StreamRecorder extends StreamingQueryListener {
  private val progress = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private var terminated = 0
  private var seen = 0

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { progress += e.progress }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    terminated += 1; notifyAll()
  }

  /** Wait (at most 5 s) for the termination event of the query that just
    * ran, so that its progress has been delivered. */
  def awaitTerminated(): Unit = synchronized {
    val deadline = System.currentTimeMillis() + 5000
    while (terminated <= seen && System.currentTimeMillis() < deadline) wait(100)
    seen = terminated
  }

  def drain(): Map[String, Any] = synchronized {
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
    val ops = progress.flatMap(_.stateOperators)
    def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
    val out = Map[String, Any](
      "add_batch_ms" -> dur("addBatch"), "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"), "query_planning_ms" -> dur("queryPlanning"),
      "batches" -> progress.size,
      "state_rows" -> progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
      "state_bytes" -> progress.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L),
      "dropped_duplicates" -> custom("numDroppedDuplicateRows"),
      "rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum)
    progress.clear()
    out
  }
}
