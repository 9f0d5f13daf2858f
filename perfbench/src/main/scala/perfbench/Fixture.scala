package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic warehouse fixture with the schemas, row counts and value ranges
  * of the engine's sf0.1 test tables (FIXTURES.md §B): a TPC-H-like star
  * (region … lineitem), an `events` activity log, a `documents` corpus and
  * 64-d unit `embeddings`.
  *
  * Every value is a pure function of (table, row id, column salt), so the
  * generated tables are identical on every run and machine and do not
  * depend on partitioning. Run seeds vary only how the benchmark *uses*
  * the tables (operation order, stream slicing), which keeps the expected
  * output digests fixed. Each table is one parquet file with one row group,
  * like the engine's fixtures. The tables are generated once per checkout
  * (`run.py` caches them under `perfbench/out/`); they are inputs, not part
  * of a run's set-up.
  */
object Fixture {
  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val Salt = 0x5eedL

  /** Uniform double in [0, 1) keyed by `keys` and a column salt. */
  private def uOf(salt: Int, keys: Seq[Column]): Column =
    xxhash64((keys :+ lit(Salt + salt)): _*).bitwiseAND(lit(0xFFFFFFFFFFFFFL))
      .cast("double") / lit(4503599627370496.0)

  private def intOf(salt: Int, lo: Int, hi: Int, keys: Seq[Column]): Column =
    (floor(uOf(salt, keys) * (hi - lo + 1)) + lo).cast("int")

  /** Uniform double in [0, 1) keyed by the row id (plus `extra`) and a salt. */
  private def u(salt: Int, extra: Column*): Column = uOf(salt, col("id") +: extra)

  private def int(salt: Int, lo: Int, hi: Int, extra: Column*): Column =
    intOf(salt, lo, hi, col("id") +: extra)

  private def pick(salt: Int, values: Seq[String], extra: Column*): Column =
    element_at(array(values.map(lit): _*), int(salt, 1, values.size, extra: _*))

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  private def day(salt: Int, first: String, days: Int): Column =
    date_add(lit(first).cast("date"), int(salt, 0, days - 1)).cast("timestamp_ntz")

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  private def table(spark: SparkSession, name: String): DataFrame = {
    def ids(n: Long) = spark.range(0, n, 1, 1)
    name match {
      case "region" =>
        ids(5).select(col("id").cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (col("id") + 1).cast("int")).as("r_name"))
      case "nation" =>
        ids(25).select(col("id").cast("int").as("n_nationkey"),
          concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" =>
        ids(15000).select(col("id").as("c_custkey"),
          format_string("Customer#%09d", col("id")).as("c_name"),
          int(1, 0, 24).as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
          pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")).as("c_mktsegment"))
      case "supplier" =>
        ids(1000).select(col("id").as("s_suppkey"),
          format_string("Supplier#%09d", col("id")).as("s_name"),
          int(1, 0, 24).as("s_nationkey"), money(2, -999.99, 9999.99).as("s_acctbal"))
      case "part" =>
        val adj = Seq("large", "hot", "red", "cold", "old", "new", "blue", "small")
        val noun = Seq("ring", "plate", "gear", "anvil", "gizmo", "widget", "bolt", "rod")
        ids(20000).select(col("id").as("p_partkey"),
          concat_ws(" ", pick(1, adj), pick(2, noun)).as("p_name"),
          concat(lit("Brand#"), int(3, 1, 25)).as("p_brand"),
          pick(4, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
          int(5, 1, 50).as("p_size"),
          round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
      case "orders" =>
        ids(150000).select(col("id").as("o_orderkey"), int(1, 0, 14999).cast("long").as("o_custkey"),
          pick(2, Seq("F", "O", "P")).as("o_orderstatus"), money(3, 1000.0, 500000.0).as("o_totalprice"),
          day(4, "1995-01-01", 2404).as("o_orderdate"),
          pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" =>
        ids(600000).select(int(1, 0, 149999).cast("long").as("l_orderkey"),
          int(2, 0, 19999).cast("long").as("l_partkey"), int(3, 0, 999).cast("long").as("l_suppkey"),
          int(4, 1, 7).as("l_linenumber"), int(5, 1, 50).cast("double").as("l_quantity"),
          money(6, 900.0, 105000.0).as("l_extendedprice"),
          (int(7, 0, 10) / 100.0).as("l_discount"), (int(8, 0, 8) / 100.0).as("l_tax"),
          pick(9, Seq("R", "N", "A")).as("l_returnflag"), pick(10, Seq("F", "O")).as("l_linestatus"),
          day(11, "1995-01-02", 2499).as("l_shipdate"))
      case "events" =>
        // ~100k events over 30 days, in time order by event_id, ~26 s apart
        val stepUs = 25920000L
        ids(100000).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + floor(u(1) * stepUs))
            .cast("timestamp_ntz").as("ts"),
          int(2, 0, 1499).cast("long").as("user_id"),
          pick(3, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
          round(-log(lit(1.0) - u(4)) * 50.0, 2).as("value"),
          format_string("{\"k\": %d}", int(5, 0, 99)).as("props"))
      case "documents" =>
        // ~5% near-duplicates (the previous document plus " dup") and a few
        // exact copies, so the dedup operators have work to find
        val near = u(1) < 0.05
        val exact = u(2) < 0.002
        val src = when(near || exact, col("id") - 1).otherwise(col("id"))
        val nWords = intOf(3, 10, 100, Seq(src))
        val words = transform(sequence(lit(0), nWords - 1), i =>
          element_at(array(Words.map(lit): _*), intOf(4, 1, Words.size, Seq(src, i))))
        val text = when(near, concat(array_join(words, " "), lit(" dup")))
          .otherwise(array_join(words, " "))
        val lang = u(5)
        ids(5000).withColumn("text", text).select(col("id").as("doc_id"), col("text"),
          when(lang < 0.41, "en").when(lang < 0.56, "fr").when(lang < 0.71, "zh")
            .when(lang < 0.85, "de").otherwise("es").as("lang"),
          concat(lit("src"), col("id") % 20).as("source"),
          length(col("text")).cast("long").as("n_chars"))
      case "embeddings" =>
        // Gaussian components (Box-Muller over two hashed uniforms), unit norm
        val g = transform(sequence(lit(0), lit(63)), j =>
          sqrt(log(lit(1.0) - u(1, j)) * -2.0) * cos(u(2, j) * (2 * math.Pi)))
        ids(2000).withColumn("g", g)
          .withColumn("nrm", sqrt(aggregate(col("g"), lit(0.0), (a, x) => a + x * x)))
          .select(col("id").as("vec_id"),
            transform(col("g"), x => (x / col("nrm")).cast("float")).as("embedding"),
            int(3, 0, 9).as("label"))
    }
  }

  /** Writes every fixture table as `<dir>/<table>.parquet` (one file each). */
  def write(spark: SparkSession, dir: String): Unit =
    Tables.foreach(t => table(spark, t).coalesce(1).write.parquet(s"$dir/$t.parquet"))

  /** Generates the fixture into `args(0)` (written beside it, then renamed
    * into place, so an interrupted run leaves no partial fixture). */
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val tmp = new File(dir.getPath + ".tmp")
    Files.deleteTree(tmp)
    val spark = graft.Sessions.local(Run.Cores.toString)
    try write(spark, tmp.getPath) finally spark.stop()
    require(tmp.renameTo(dir), s"cannot move the fixture into $dir")
  }

  /** Cuts the `events` table into `slices` consecutive time slices and lands
    * them as parquet files `<landing>/events.parquet/slice-NNN.parquet`,
    * with file modification times in slice order (the file source's
    * arrival order). The seed jitters each inner boundary by up to a
    * quarter slice and shuffles the rows inside each slice. Slices stay
    * consecutive in time, so no event arrives behind the watermark. The
    * landed directory reads back as the same events table. Returns the
    * events directory. */
  def landEventSlices(spark: SparkSession, fixtureDir: String, landing: String,
      slices: Int, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val n = spark.read.parquet(s"$fixtureDir/events.parquet").count()
    val width = n / slices
    val bounds = (1 until slices).map(i => i * width + (rnd.nextDouble() - 0.5) * width / 2)
      .map(_.toLong)
    // slice index = number of inner boundaries at or below the event's rank;
    // event_id is the time rank (the generator numbers events in ts order)
    val sliceOf = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("event_id") >= b, 1).otherwise(0) }
    val staged = s"$landing/_staged"
    spark.read.parquet(s"$fixtureDir/events.parquet")
      .withColumn("slice", sliceOf)
      .repartition(1)
      .sortWithinPartitions(col("slice"), xxhash64(col("event_id"), lit(seed)))
      .write.partitionBy("slice").parquet(staged)
    val out = new File(s"$landing/events.parquet")
    out.mkdirs()
    val t0 = System.currentTimeMillis() - slices * 1000L
    (0 until slices).foreach { k =>
      val part = new File(s"$staged/slice=$k").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = new File(out, f"slice-$k%03d.parquet")
      require(part.renameTo(dst), s"cannot land $part")
      dst.setLastModified(t0 + k * 1000L)
    }
    Files.deleteTree(new File(staged))
    out.getPath
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(sizeOf).sum
    else f.length()

  def countFiles(f: File, suffix: String): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(countFiles(_, suffix)).sum
    else if (f.getName.endsWith(suffix)) 1L else 0L
}
