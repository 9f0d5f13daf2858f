package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The machine state a run is read against, recorded beside the metrics:
  * hypervisor steal (a co-tenant eating cores moves neither loadavg nor
  * process CPU, but slows every timing), load, cores, parallelism and heap. */
object EnvStamp {
  final case class Sample(steal: Long, load1: Double, ms: Long)

  private def read(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try Some(src.mkString) finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Cumulative steal jiffies (field 8 of the `cpu` line, USER_HZ = 100). */
  private def steal: Long = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
    .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  def sample(): Sample = Sample(steal,
    read("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0), System.currentTimeMillis())

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** Peak resident set (VmHWM) of this process, MB. */
  def peakRssMb: Double = read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def record(a: Sample, b: Sample, spark: SparkSession): Map[String, Any] = Map(
    "steal_s" -> (if (a.steal < 0 || b.steal < 0) -1.0 else (b.steal - a.steal) / 100.0),
    "load1_before" -> a.load1, "load1_after" -> b.load1,
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("-Xm")).mkString(" "))
}
