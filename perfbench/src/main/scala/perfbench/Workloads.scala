package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.etl.{StarCatalog, StarPipeline}
import graft.streaming.EventsStream

/** `suite_queries`: the manifest's fixed query pool, each query once per
  * pass in seeded order. The timed action is a noop-format write, which runs
  * the whole physical plan. */
final class QueryPool extends Workload {
  private var pool: Seq[(String, String)] = Nil

  def warm(h: Harness): Unit = {
    val pools = h.conf.path("pool")
    pool = h.names(pools).map(n => n -> pools.path(n).path("digest").asText())
    val fns = SparkEntry.queries
    pool.foreach { case (n, d) => h.warmDigest(n, d)(fns(n)(h.spark, h.fixture)) }
  }

  def timed(h: Harness): Unit = {
    val fns = SparkEntry.queries
    passes(h, pool.map(_._1)) { n =>
      h.op("query", n) { h.noop(h.construct(fns(n)(h.spark, h.fixture))) }
    }
  }
}

/** `star_etl`: one cycle = `StarPipeline.run` into a fresh output directory,
  * `StarCatalog.register` over it, then the manifest's analyst reads over
  * the registered star tables in seeded order. */
final class StarEtlCycle extends Workload {
  private var cycle = 0
  private val etlMs, registerMs, readMs, outBytes, outFiles = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def reads(h: Harness): Seq[(String, String, String)] = {
    val r = h.conf.path("reads")
    h.names(r).map(n => (n, r.path(n).path("sql").asText(), r.path(n).path("digest").asText()))
  }

  private def runEtl(h: Harness): Unit = {
    val out = s"${h.args.work}/etl/cycle-$cycle"
    cycle += 1
    var results = Seq.empty[StarPipeline.TableResult]
    val etl = h.op("etl", "StarPipeline.run") { results = StarPipeline.run(h.spark, h.fixture, out) }
    val reg = h.op("register", "StarCatalog.register") { StarCatalog.register(h.spark, out) }
    val rows = h.conf.path("table_rows")
    val got = results.map(r => r.name -> r.rows).toMap
    h.names(rows).foreach { t =>
      val want = rows.path(t).asLong()
      h.check(s"star table $t rows", got.get(t).contains(want), s"expected $want got ${got.get(t)}")
    }
    if (h.timing) {
      etlMs += etl.wallMs; registerMs += reg.wallMs
      val dir = new File(out)
      outBytes += Files.sizeOf(dir).toDouble; outFiles += Files.countFiles(dir, ".parquet").toDouble
    }
  }

  def warm(h: Harness): Unit = {
    h.op("warm", "etl cycle") { runEtl(h) }
    reads(h).foreach { case (n, sql, d) => h.warmDigest(s"read $n", d)(h.spark.sql(sql)) }
  }

  def timed(h: Harness): Unit = {
    val rs = reads(h)
    passes(h, Seq(())) { _ =>
      val prev = new File(s"${h.args.work}/etl/cycle-${cycle - 1}")
      h.op("cycle", "etl cycle") {
        runEtl(h)
        h.rng(cycle).shuffle(rs).foreach { case (n, sql, _) =>
          readMs += h.op("read", n) { h.noop(h.construct(h.spark.sql(sql))) }.wallMs
        }
      }
      Files.deleteTree(prev)
    }
  }

  override def details(h: Harness): Map[String, Double] = Map(
    "etl_s" -> Stats.median(etlMs.toSeq.zip(registerMs).map { case (a, b) => (a + b) / 1000 }),
    "star_read_p50_ms" -> Stats.median(readMs.toSeq),
    "star_output_mb" -> Stats.median(outBytes.toSeq) / 1048576.0)

  override def layers(h: Harness): Map[String, Double] = Map(
    "register_ms" -> registerMs.sum / math.max(registerMs.size, 1),
    "output_files" -> outFiles.sum / math.max(outFiles.size, 1),
    "output_bytes" -> outBytes.sum / math.max(outBytes.size, 1))
}

/** `sessionize_stream`: the events table cut into consecutive time slices
  * (seeded boundaries and in-slice row order), sessionized by
  * `EventsStream.sessionizeStreamQuery` with one file per micro-batch. The
  * compacted output of every pass must equal `sessionizeBatch` over the
  * same events, whose digest the manifest holds. */
final class SessionizeStream extends Workload {
  private var eventsDir = ""
  private var pass = 0
  private val queries = scala.collection.mutable.ArrayBuffer.empty[String]
  private val progress = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var rows = 0L
  private var passMs = 0.0

  def warm(h: Harness): Unit = {
    val slices = h.conf.path("slices").asInt()
    h.op("warm", "land slices") {
      eventsDir = Fixture.landEventSlices(h.spark, h.fixture, s"${h.args.work}/stream", slices, h.args.seed)
    }
    // one micro-batch over every slice: warms the stateful path and checks it
    val warmQuery = "sessions_warm"
    var got = ""
    val o = h.op("warm", "stream warm-up") {
      EventsStream.sessionizeStreamQuery(h.spark, eventsDir, warmQuery, maxFilesPerTrigger = slices)
        .awaitTermination()
      got = Digest.of(EventsStream.compactSessions(h.spark, warmQuery)).toString
    }
    if (o.ok) h.check("stream warm-up output", got == expected(h), s"expected ${expected(h)} got $got")
    h.spark.catalog.dropTempView(warmQuery)
  }

  /** Digest of `sessionizeBatch` over the fixture's events (the landed
    * slices hold the same events). */
  private def expected(h: Harness): String = h.conf.path("batch_digest").asText()

  def timed(h: Harness): Unit = {
    passes(h, Seq(())) { _ =>
      val name = s"sessions_p$pass"
      pass += 1
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val p = h.op("pass", name) {
        q = EventsStream.sessionizeStreamQuery(h.spark, eventsDir, name, maxFilesPerTrigger = 1)
        q.awaitTermination()
      }
      if (q != null) {
        queries += name
        passMs += p.wallMs
        val ps = q.recentProgress.toSeq
        progress ++= ps
        rows += ps.map(_.numInputRows).sum
        h.batchOp ++= ps.map { b =>
          val start = java.time.Instant.parse(b.timestamp).toEpochMilli
          val o = h.recordOp(p.id, "batch", s"$name batch ${b.batchId}", start,
            b.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0))
          (p.id, b.batchId) -> o.id
        }
      }
    }
  }

  override def verify(h: Harness): Unit = queries.foreach { name =>
    val got = Digest.of(EventsStream.compactSessions(h.spark, name)).toString
    h.check(s"stream $name output", got == expected(h), s"expected ${expected(h)} got $got")
    h.spark.catalog.dropTempView(name)
  }

  private def dur(k: String): Double =
    progress.map(p => p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)).sum

  override def details(h: Harness): Map[String, Double] = {
    val b = h.units.map(_.wallMs)
    Map("batch_p50_ms" -> Stats.median(b), "stream_rows_per_s" -> rows / (passMs / 1000),
      "batches" -> b.size.toDouble)
  }

  override def layers(h: Harness): Map[String, Double] = {
    val n = math.max(progress.size, 1).toDouble
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      progress.map(_.stateOperators.map(f).sum).sum / n
    Map("trigger_plan_ms" -> dur("queryPlanning") / n, "get_batch_ms" -> dur("getBatch") / n,
      "add_batch_ms" -> dur("addBatch") / n, "wal_commit_ms" -> dur("walCommit") / n,
      "state_commit_ms" -> state(_.commitTimeMs.toDouble),
      "state_rows" -> state(_.numRowsTotal.toDouble),
      "state_memory_bytes" -> state(_.memoryUsedBytes.toDouble),
      "rows_per_batch" -> rows / n)
  }
}
