package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Times every registered query on the benchmark fixture and records its
  * output digest: the evidence the query pools and expected digests in
  * `perfbench/manifest.json` were derived from.
  *
  * One cold pass, then three timed warm passes (noop-format writes, as in the
  * workloads), then one digest pass. Per query it records the median warm
  * latency and its DataFrame construction share.
  *
  * Usage: `python3 perfbench/run.py --survey <out.json>`. */
object Survey {
  def main(args: Array[String]): Unit = {
    val Array(fixture, outPath) = args
    val warm = 3
    val spark = graft.Sessions.local(Run.Cores.toString)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, (Double, Double)] =
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, fixture)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        Right(((t1 - t0) / 1e6, (t2 - t0) / 1e6))
      } catch { case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val passes = (0 to warm).map { p =>
      val t0 = System.nanoTime()
      val r = queries.map { case (n, fn) => n -> time(fn) }.toMap
      System.err.println(f"[survey] pass $p: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.streams.active.foreach(_.stop())
      spark.catalog.clearCache()
      r
    }
    val rows = queries.map { case (n, fn) =>
      val res = passes.map(_(n))
      val errs = res.collect { case Left(e) => e }
      val digest =
        try Digest.of(fn(spark, fixture)).toString
        catch { case scala.util.control.NonFatal(e) => s"error: ${e.getMessage}".take(300) }
      val warmRuns = res.drop(1).collect { case Right(t) => t }
      def med(xs: Seq[Double]) = if (xs.isEmpty) -1.0 else Stats.median(xs)
      n -> ListMap(
        "cold_ms" -> res.head.map(_._2).getOrElse(-1.0),
        "warm_ms" -> med(warmRuns.map(_._2)),
        "construct_ms" -> med(warmRuns.map(_._1)),
        "digest" -> digest,
        "error" -> errs.headOption)
    }
    val out = new java.io.PrintWriter(outPath, "UTF-8")
    try out.println(Run.Mapper.writeValueAsString(ListMap(rows: _*))) finally out.close()
    spark.stop()
  }
}
