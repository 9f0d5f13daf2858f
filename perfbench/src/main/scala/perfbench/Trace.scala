package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the benchmark operation it belongs to; the
  * parent is the span that caused it (op → SQL execution → job). */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
    startMs: Long, endMs: Long)

/** The traced run's recorder: a SparkListener (jobs, stages, tasks, SQL
  * executions) and a QueryExecutionListener (Catalyst phase times), both the
  * benchmark's own. It keeps everything in memory; [[Trace.layers]] reads it
  * after draining the listener bus.
  *
  * Attribution: the benchmark tags the thread running each operation with
  * the local property [[Trace.OpKey]], which every job it submits carries. A
  * streaming query's jobs carry the tag of the operation that started it,
  * plus the micro-batch id Spark sets, which the `batchOp` map given to
  * [[layers]] resolves to the micro-batch operations. Catalyst phases are
  * attributed to the innermost operation whose interval holds their start. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var inRecords = 0L; var inBytes = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val execs = mutable.Map.empty[Long, (String, Long, Long)]
  private val phases = mutable.ArrayBuffer.empty[Phases]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop(OpKey).map(_.toLong).getOrElse(-1L),
      prop("streaming.sql.batchId").map(_.toLong), prop("spark.sql.execution.id").map(_.toLong),
      e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.tasks += 1; s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
      s.inRecords += m.inputMetrics.recordsRead; s.inBytes += m.inputMetrics.bytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskMs += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.description, s.time, -1L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach { case (d, t0, _) => execs(s.executionId) = (d, t0, s.time) }
    }
    case _ =>
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
    synchronized {
      phases += Phases(funcName, start, ms("analysis"), ms("optimization"), ms("planning"), durationNs / 1e6)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L)

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Per-layer metrics over `ops`, as per-operation means (ms, counts,
    * bytes) plus the ratios `slot_utilization` and `task_skew`; and the
    * spans, for writing out. `batchOp` maps (stream-pass op, micro-batch id)
    * to the micro-batch operation. */
  def layers(ops: Seq[Op], units: Seq[Op], batchOp: Map[(Long, Long), Long],
      cores: Int): (Map[String, Double], Seq[Span]) = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val opIds = ops.map(_.id).toSet
      val jobOp: Map[Int, Long] = jobs.values.map { j =>
        j.id -> j.batch.flatMap(b => batchOp.get((j.op, b))).getOrElse(j.op)
      }.toMap
      val mine = jobs.values.filter(j => opIds(jobOp(j.id))).toSeq
      val stageAggs = mine.flatMap(_.stages).distinct.flatMap(stages.get)
      def sum(f: StageAgg => Long): Double = stageAggs.map(f).sum.toDouble
      val n = math.max(units.size, 1).toDouble
      // innermost op whose interval holds t
      def opAt(t: Long): Option[Op] = ops.filter(o => o.startMs <= t && t <= o.endMs).maxByOption(_.startMs)
      val myPhases = phases.filter(p => opAt(p.startMs).exists(o => opIds(o.id)))
      val etlPhases = phases.filter(p => opAt(p.startMs).exists(o => opIds(o.id) && o.kind == "etl"))
      // an op's construct and analysis times include its nested ops', so
      // only the top-level ops are summed
      val top = ops.filter(_.parent < 0)
      val execWall = units.map(_.wallMs).sum - top.map(_.constructMs).sum
      val skews = stageAggs.filter(_.taskMs.size >= 2).map { s =>
        val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
        s.taskMs.max / math.max(med, 1.0)
      }
      val metrics = Map(
        "construct_ms" -> top.map(_.constructMs).sum / n,
        "analysis_ms" -> (top.map(_.analysisMs).sum + myPhases.map(_.analysis).sum) / n,
        "optimize_ms" -> myPhases.map(_.optimization).sum / n,
        "plan_ms" -> myPhases.map(_.planning).sum / n,
        "jobs" -> mine.size / n,
        "stages" -> stageAggs.size / n,
        "tasks" -> sum(_.tasks) / n,
        "executor_run_ms" -> sum(_.runMs) / n,
        "executor_cpu_ms" -> sum(_.cpuNs) / 1e6 / n,
        "slot_utilization" -> (if (execWall > 0) sum(_.runMs) / (execWall * cores) else 0.0),
        "task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
        "input_records" -> sum(_.inRecords) / n,
        "input_bytes" -> sum(_.inBytes) / n,
        "shuffle_write_bytes" -> sum(_.shWrite) / n,
        "shuffle_read_bytes" -> sum(_.shRead) / n,
        "spill_bytes" -> sum(_.spill) / n,
        "write_ms" -> etlPhases.filter(p => WriteCalls(p.funcName)).map(_.durationMs).sum / n,
        "readback_ms" -> etlPhases.filter(_.funcName == "count").map(_.durationMs).sum / n)
      val opSpans = ops.map(o => Span(o.id, o.parent, o.id, o.kind, o.name, o.startMs, o.endMs))
      val execSpans = mine.flatMap(_.exec).distinct.flatMap { e =>
        execs.get(e).map { case (d, t0, t1) =>
          val op = mine.find(_.exec.contains(e)).map(j => jobOp(j.id)).get
          Span(ExecBase + e, op, op, "sql", d.take(120), t0, t1)
        }
      }
      val jobSpans = mine.map { j =>
        val op = jobOp(j.id)
        Span(JobBase + j.id, j.exec.map(ExecBase + _).getOrElse(op), op, "job", s"job ${j.id}", j.start, j.end)
      }
      (metrics, opSpans ++ execSpans ++ jobSpans)
    }
  }
}

object Trace {
  private final case class Job(id: Int, op: Long, batch: Option[Long], exec: Option[Long],
      stages: Seq[Int], start: Long, var end: Long = -1L)
  private final case class Phases(funcName: String, startMs: Long, analysis: Long,
      optimization: Long, planning: Long, durationMs: Double)

  /** Local property that tags every job with the benchmark operation that submitted it. */
  val OpKey = "perfbench.op"
  private val ExecBase = 1L << 40
  private val JobBase = 1L << 41
  /** QueryExecutionListener call names of DataFrameWriter saves. */
  private val WriteCalls = Set("save", "parquet", "command", "insertInto", "saveAsTable")

  /** Per-layer metrics of the traced run, with units, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "construct_ms" -> "ms", "analysis_ms" -> "ms", "optimize_ms" -> "ms", "plan_ms" -> "ms",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms", "slot_utilization" -> "ratio",
    "task_skew" -> "ratio", "input_records" -> "count", "input_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "write_ms" -> "ms", "readback_ms" -> "ms", "register_ms" -> "ms", "output_files" -> "count",
    "output_bytes" -> "bytes", "trigger_plan_ms" -> "ms", "get_batch_ms" -> "ms",
    "add_batch_ms" -> "ms", "wal_commit_ms" -> "ms", "state_commit_ms" -> "ms",
    "state_rows" -> "count", "state_memory_bytes" -> "bytes", "rows_per_batch" -> "count",
    "gc_ms" -> "ms")

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      out.println(Run.Mapper.writeValueAsString(scala.collection.immutable.ListMap("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally out.close()
  }
}
