package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed interval of the benchmark: a unit of client work (a query, an
  * ETL cycle, a micro-batch) or a step inside one (`parent` ≥ 0). */
final case class Op(id: Long, parent: Long, kind: String, name: String, startMs: Long,
    endMs: Long, wallMs: Double, constructMs: Double, analysisMs: Double, ok: Boolean)

/** The benchmark's process: starts a session, runs one workload's untimed
  * warm pass (which checks every output against the manifest), then the
  * timed closed loop, and prints an environment/detail record line and the
  * result line. Usage is in `run.py`'s docstring. */
object Run {
  val Cores = 4
  /** Reads the manifest and writes the benchmark's JSON records. */
  val Mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, fixture: String, t0Ms: Long, manifest: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"),
      m("fixture"), m("t0-ms").toLong, m("manifest"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val manifest = Mapper.readTree(new File(a.manifest))
    val workload: Workload = a.workload match {
      case "suite_queries" => new QueryPool
      case "star_etl" => new StarEtlCycle
      case "sessionize_stream" => new SessionizeStream
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    val env0 = EnvStamp.sample()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - a.t0Ms) / 1000.0}%.1f s: $name")
    val spark = graft.Sessions.local(Cores.toString)
    phase("session started")
    val h = new Harness(spark, a, manifest.path(a.workload))
    val trace = if (a.trace) Some(new Trace(spark).register()) else None
    workload.warm(h)
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    phase("warm pass done")
    val gc0 = EnvStamp.gcMs
    val loopT0 = System.nanoTime()
    h.timing = true
    workload.timed(h)
    h.timing = false
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val gcMs = EnvStamp.gcMs - gc0
    phase("timed loop done")
    workload.verify(h)

    val units = h.units
    val lat = units.map(_.wallMs)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(lat), "ms"),
      "ops_per_s" -> (units.size / loopS, "1/s"))
    val layers: Seq[(String, (Double, String))] = trace.map { t =>
      val (m, spans) = t.layers(h.timedOps.toSeq, units, h.batchOp, Cores)
      Trace.writeSpans(s"${new File(a.manifest).getParent}/out/traces/${a.workload}-seed${a.seed}.jsonl", spans)
      t.unregister()
      val extra = workload.layers(h) ++ Map("gc_ms" -> gcMs / math.max(units.size, 1).toDouble)
      Trace.PerLayer.map { case (k, unit) => k -> (m.getOrElse(k, extra.getOrElse(k, 0.0)), unit) }
    }.getOrElse(Nil)
    val env1 = EnvStamp.sample()
    val detail = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "samples" -> units.size, "loop_s" -> loopS,
      "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }.toMap,
      "workload_metrics" -> (workload.details(h) + ("peak_rss_mb" -> EnvStamp.peakRssMb)),
      "op_ms" -> h.units.map(o => Seq(o.name, o.wallMs)),
      "warm_ops_ms" -> ListMap(h.warmOps.map(o => o.name -> o.wallMs).toSeq: _*),
      "env" -> EnvStamp.record(env0, env1, spark),
      "checks" -> h.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
    println("PERFBENCH_DETAIL " + Mapper.writeValueAsString(detail))
    val metrics = (if (a.trace) layers else e2e).map { case (k, (v, u)) =>
      k -> ListMap("value" -> v, "unit" -> u) }
    val correct = h.failed == 0
    println(Mapper.writeValueAsString(ListMap("correct" -> correct, "attempted" -> h.attempted,
      "failed" -> h.failed, "metrics" -> ListMap(metrics: _*))))
    spark.streams.active.foreach(_.stop())
    spark.stop()
    if (!correct) sys.exit(1)
  }
}

/** Operation bookkeeping shared by the workloads. */
final class Harness(val spark: SparkSession, val args: Run.Args, val conf: JsonNode) {
  val fixture = args.fixture
  var timing = false
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val timedOps = mutable.ArrayBuffer.empty[Op]
  val warmOps = mutable.ArrayBuffer.empty[Op]
  /** (stream-pass op, micro-batch id) → micro-batch op, for trace attribution. */
  var batchOp = Map.empty[(Long, Long), Long]
  private var nextId = 0L
  private var current = -1L
  private var constructNs = 0L
  private var analysisMs = 0.0

  def rng(pass: Int) = new scala.util.Random(args.seed * 1000003L + pass)

  /** Top-level timed operations: the samples of the end-to-end metrics. */
  def units: Seq[Op] = timedOps.filter(o => o.parent < 0 && o.kind != "pass").toSeq ++
    timedOps.filter(_.kind == "batch")

  /** Times `body` as one operation; its Spark jobs carry the op's id. An
    * exception counts as a failed operation: a nested op records itself as
    * failed and rethrows, so the top-level op that holds it fails too. */
  def op(kind: String, name: String)(body: => Unit): Op = {
    val id = nextId; nextId += 1
    val parent = current
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, id.toString)
    current = id
    val c0 = constructNs
    val a0 = analysisMs
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var error: Throwable = null
    val ok =
      try { body; true }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          error = e
          false
      }
    val o = Op(id, parent, kind, name, startMs, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e6, (constructNs - c0) / 1e6, analysisMs - a0, ok)
    current = parent
    sc.setLocalProperty(Trace.OpKey, if (parent < 0) null else parent.toString)
    if (timing) timedOps += o else if (parent < 0) warmOps += o
    if (parent >= 0 && !ok) throw error
    if (parent < 0) { attempted += 1; if (!ok) failed += 1 }
    o
  }

  /** Records an op measured outside `op` (a micro-batch, from its progress). */
  def recordOp(parent: Long, kind: String, name: String, startMs: Long, wallMs: Double): Op = {
    val o = Op(nextId, parent, kind, name, startMs, startMs + wallMs.toLong, wallMs, 0.0, 0.0, ok = true)
    nextId += 1
    timedOps += o
    o
  }

  /** Times the DataFrame construction inside an op (the query-building call), and
    * notes the Catalyst analysis the built DataFrame went through (Spark
    * analyzes eagerly, so the action's own query execution has none). */
  def construct(df: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val built = try df finally constructNs += System.nanoTime() - t0
    analysisMs += built.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    built
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check $name FAILED: $detail") }
    checks += ((name, ok, detail))
  }

  /** Untimed warm-up op whose output digest must equal `expected`. */
  def warmDigest(name: String, expected: String)(df: => DataFrame): Option[Digest.Value] = {
    var got: Option[Digest.Value] = None
    val o = op("warm", name) { got = Some(Digest.of(construct(df))) }
    if (o.ok) check(name, got.exists(_.toString == expected), s"expected $expected got ${got.mkString}")
    got
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def names(node: JsonNode): Seq[String] = node.fieldNames().asScala.toSeq
}

trait Workload {
  def warm(h: Harness): Unit
  def timed(h: Harness): Unit
  /** Output checks that run after the timed loop. */
  def verify(h: Harness): Unit = ()
  /** Workload-specific end-to-end numbers for the detail record. */
  def details(h: Harness): Map[String, Double] = Map.empty
  /** Per-layer metrics the workload measures itself (per end-to-end unit). */
  def layers(h: Harness): Map[String, Double] = Map.empty

  /** Runs whole seeded passes over `items` for the run's time: another pass
    * starts while a third of one (by the last pass's duration) still fits,
    * so a run overshoots its time by at most two thirds of a pass. */
  protected def passes[T](h: Harness, items: Seq[T])(f: T => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var last = 0.0
    while (pass == 0 || elapsed + last / 3 < h.args.seconds) {
      val p0 = elapsed
      h.rng(pass).shuffle(items).foreach(f)
      last = elapsed - p0
      pass += 1
    }
  }
}
