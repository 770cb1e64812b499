package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed-loop operation as the benchmark saw it, in epoch ms. The
  * construction window is the part of the operation spent inside graft's
  * DataFrame-returning call; `construct` is empty for operations that do
  * not build a DataFrame first.
  */
case class OpWindow(id: Long, name: String, startMs: Double, endMs: Double,
    construct: Option[(Double, Double)])

/** Spark-side events the benchmark records through Spark's public listener
  * APIs: jobs with their stages and task metrics (SparkListener), the
  * Catalyst phases of every executed query (QueryExecutionListener), and
  * streaming progress (StreamingQueryListener). Events stay in memory; the
  * workload reads them once its timed loop has ended.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

    var tasks = 0L; var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var scanBytes = 0L; var scanRows = 0L; var shReadBytes = 0L
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.Map.empty[Int, StageAcc]
  val execs = mutable.ArrayBuffer.empty[Exec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val streaming = Option(e.properties)
      .exists(_.getProperty("sql.streaming.queryId") != null)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds, streaming)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAcc)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.scanBytes += m.inputMetrics.bytesRead
      s.scanRows += m.inputMetrics.recordsRead
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    val start = ph.get("optimization").orElse(ph.get("analysis")).map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    val durations = Seq("analysis", "optimization", "planning")
      .map(p => p -> ph.get(p).map(_.durationMs).getOrElse(0L)).toMap
    synchronized(execs += Exec(funcName, start, durations, ok))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  /** Wait until every started job has ended and the event count has been
    * stable for a moment: listener delivery is asynchronous.
    */
  def settle(maxWaitMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var last = -1
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      val (n, open) = synchronized((jobs.size + execs.size + stages.size,
        jobs.values.count(j => j.endMs < 0 && !j.streaming)))
      if (n == last && open == 0) stable += 1 else stable = 0
      last = n
      Thread.sleep(50)
    }
  }
}

object Recorder {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
      stages: Seq[Int], streaming: Boolean)
  /** One executed query. `startMs` is when its optimization began, that
    * is when it was executed: analysis runs eagerly when the DataFrame is
    * built, often during construction.
    */
  final case class Exec(funcName: String, startMs: Long,
      phases: Map[String, Long], ok: Boolean)
  final class StageAcc {
    var tasks = 0L; var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var scanBytes = 0L; var scanRows = 0L; var shReadBytes = 0L
    var shWriteBytes = 0L; var spillBytes = 0L; var peakMem = 0L
  }
}

/** Streaming progress of `Streams.ingest`: one entry per micro-batch that
  * read data, with its commit time (trigger start + trigger duration).
  */
final class StreamRecorder extends StreamingQueryListener {
  import StreamRecorder.Batch
  val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      synchronized(batches += Batch(p.batchId, p.numInputRows,
        start + d.getOrElse("triggerExecution", 0L), d))
    }
  }
  def snapshot: Seq[Batch] = synchronized(batches.toList)
}

object StreamRecorder {
  final case class Batch(id: Long, rows: Long, commitMs: Long, durations: Map[String, Long])
}

/** Attributes recorded Spark events to the benchmark's operations and
  * turns them into the per-layer metrics and spans. Only one closed-loop
  * client runs at a time, so every non-streaming job and query execution
  * belongs to the operation whose window contains its start.
  */
object Attribution {

  /** Total length of the union of intervals, clipped to [lo, hi]. */
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

  private def within(t: Double, w: (Double, Double)): Boolean = t >= w._1 && t <= w._2

  /** (jobs, construction jobs) of one operation. */
  def jobCounts(rec: Recorder, op: OpWindow): (Int, Int) = {
    val starts = rec.synchronized(rec.jobs.values.filter(!_.streaming).map(_.startMs.toDouble).toList)
      .filter(within(_, (op.startMs, op.endMs)))
    (starts.size, op.construct.map(c => starts.count(within(_, c))).getOrElse(0))
  }

  /** Per-layer totals over the given operations, plus one span line per
    * operation, construction, execution, job and stage.
    */
  def layers(rec: Recorder, ops: Seq[OpWindow], nproc: Int, runId: String,
      spans: mutable.ArrayBuffer[String]): mutable.LinkedHashMap[String, Double] = {
    val (jobs, stageAcc, execs) = rec.synchronized(
      (rec.jobs.values.filter(!_.streaming).toList, rec.stages.toMap, rec.execs.toList))
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    Seq("construct_ms", "construct_jobs", "analysis_ms", "optimization_ms",
      "planning_ms", "jobs", "stages", "tasks", "job_gap_ms", "task_ms", "cpu_ms",
      "gc_ms", "scan_bytes", "scan_rows", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes").foreach(out(_) = 0.0)
    var peakMem = 0L
    var wall = 0.0
    ops.foreach { op =>
      val w = (op.startMs, op.endMs)
      val myJobs = jobs.filter(j => within(j.startMs.toDouble, w))
      val constructJobs = op.construct.toSeq.flatMap(c => myJobs.filter(j => within(j.startMs.toDouble, c)))
      val myExecs = execs.filter(e => within(e.startMs.toDouble, w))
      // Catalyst phases of the executed query, not of queries executed
      // during construction: those are part of the construction layer
      val runExecs = myExecs.filter(e => op.construct.forall(c => !within(e.startMs.toDouble, c)))
      val dur = op.endMs - op.startMs
      wall += dur
      op.construct.foreach { c => add("construct_ms", c._2 - c._1) }
      add("construct_jobs", constructJobs.size)
      Seq("analysis", "optimization", "planning").foreach(p =>
        add(p + "_ms", runExecs.map(_.phases.getOrElse(p, 0L)).sum.toDouble))
      add("jobs", myJobs.size)
      val jobIntervals = myJobs.map(j => (j.startMs.toDouble,
        (if (j.endMs < 0) op.endMs else j.endMs.toDouble)))
      add("job_gap_ms", dur - covered(jobIntervals, op.startMs, op.endMs))
      val opStages = myJobs.flatMap(_.stages).distinct.flatMap(s => stageAcc.get(s).map(s -> _))
      add("stages", opStages.size)
      opStages.foreach { case (_, s) =>
        Seq("tasks" -> s.tasks, "task_ms" -> s.taskMs, "gc_ms" -> s.gcMs,
          "scan_bytes" -> s.scanBytes, "scan_rows" -> s.scanRows,
          "shuffle_read_bytes" -> s.shReadBytes, "shuffle_write_bytes" -> s.shWriteBytes,
          "spill_bytes" -> s.spillBytes).foreach { case (k, v) => add(k, v.toDouble) }
        add("cpu_ms", s.cpuNs / 1e6)
        peakMem = math.max(peakMem, s.peakMem)
      }
      // spans: op -> construct / exec -> job -> stage, one shared op id
      def span(kind: String, name: String, a: Double, b: Double, parent: String,
          extra: Map[String, Any] = Map.empty): Unit =
        spans += Stats.json(mutable.LinkedHashMap[String, Any]("run" -> runId,
          "op" -> op.id, "kind" -> kind, "name" -> name, "parent" -> parent,
          "start_ms" -> a, "end_ms" -> b) ++ extra)
      val children = op.construct.toSeq ++ jobIntervals
      span("op", op.name, op.startMs, op.endMs, "",
        Map("self_ms" -> (dur - covered(children, op.startMs, op.endMs))))
      op.construct.foreach { c =>
        val cj = constructJobs.map(j => (j.startMs.toDouble, (if (j.endMs < 0) c._2 else j.endMs.toDouble)))
        span("construct", op.name, c._1, c._2, "op",
          Map("jobs" -> constructJobs.size, "self_ms" -> (c._2 - c._1 - covered(cj, c._1, c._2))))
      }
      myExecs.foreach { e =>
        span("exec", e.funcName, e.startMs.toDouble,
          e.startMs.toDouble + e.phases.values.sum, "op",
          Map("phases_ms" -> e.phases, "ok" -> e.ok))
      }
      myJobs.foreach { j =>
        val inConstruct = constructJobs.exists(_.id == j.id)
        val s = j.stages.flatMap(stageAcc.get)
        span("job", s"job-${j.id}", j.startMs.toDouble, j.endMs.toDouble,
          if (inConstruct) "construct" else "op",
          Map("stages" -> j.stages, "tasks" -> s.map(_.tasks).sum,
            "task_ms" -> s.map(_.taskMs).sum))
        j.stages.foreach { sid =>
          stageAcc.get(sid).foreach { st =>
            spans += Stats.json(mutable.LinkedHashMap[String, Any]("run" -> runId,
              "op" -> op.id, "kind" -> "stage", "name" -> s"stage-$sid",
              "parent" -> s"job-${j.id}", "tasks" -> st.tasks, "task_ms" -> st.taskMs,
              "cpu_ms" -> st.cpuNs / 1e6, "scan_bytes" -> st.scanBytes,
              "shuffle_read_bytes" -> st.shReadBytes,
              "shuffle_write_bytes" -> st.shWriteBytes))
          }
        }
      }
    }
    val n = math.max(ops.size, 1).toDouble
    val perOp = mutable.LinkedHashMap.empty[String, Double]
    out.foreach { case (k, v) => perOp(k) = v / n }
    perOp("construct_share") = if (wall > 0) out("construct_ms") / wall else 0.0
    perOp("core_util") = if (wall > 0) out("task_ms") / (wall * nproc) else 0.0
    perOp("peak_exec_mem_mb") = peakMem / 1048576.0
    perOp("ops") = ops.size
    perOp("total_jobs") = out("jobs")
    perOp("total_construct_jobs") = out("construct_jobs")
    perOp
  }
}
