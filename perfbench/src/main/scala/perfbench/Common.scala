package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Path, Paths}

/** Command line shared by the generator and the benchmark JVM. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      scale: String, inputDir: Path, workDir: Path, spansFile: Path)

object Args {
  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("scale", "full"),
      Paths.get(need("inputs")), Paths.get(need("work")),
      Paths.get(m.getOrElse("spans", need("work") + "/spans.jsonl")))
  }
}

/** The one SparkSession set-up every workload uses: local[3], one client.
  * Three task threads on a 4-core host leave a core for the driver and the
  * JIT compiler and GC threads; with local[4] those threads competed with
  * the tasks, and an op's times followed how far the JIT had got.
  */
object Session {
  val Cores = 3

  def build(workDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Inputs.Buckets)
      // the frontier round handles skew itself (hot-host split); AQE's
      // per-stage re-planning only adds overhead there (BenchRound)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}

/** Output checks shared by the generator (expected values) and the ops. */
object Checks {
  /** Row count and an order-independent digest of (url_key, batch_id,
    * scheduled_ms): the decimal sum of one 64-bit hash per row.
    */
  def roundDigest(out: DataFrame): (Long, String) = {
    val r = out.agg(count(lit(1)),
      sum(xxhash64(col("url_key"), col("batch_id"), col("scheduled_ms")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }
}

/** Process and host readings. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** CPU seconds of the whole process: every thread, JIT compiler and GC
    * threads included.
    */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** CPU nanoseconds per live Java thread. The JVM's JIT compiler and GC
    * threads are not Java threads, so they are not in it.
    */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU seconds the Java threads used since `before` (a `threadCpu()`
    * reading); a thread started since then counts from zero.
    */
  def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Seconds the JIT compilers have spent compiling since JVM start. */
  def jitSeconds(): Double = jit.getTotalCompilationTime / 1e3

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  /** Steal time of the whole host in seconds, from /proc/stat. */
  def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      }.getOrElse(0.0)
    } finally src.close()
  }

  def loadAvg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try {
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } finally src.close()
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** JSON through json4s, which ships with Spark. */
object Json {
  def render(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def parse(s: String): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(s).values.asInstanceOf[Map[String, Any]]
}
