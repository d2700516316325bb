package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Files
import scala.collection.mutable

/** One benchmark run: set up (several times), warm up, then a closed loop
  * of timed ops with one client, each op starting when the previous one
  * returned.
  * The last stdout line is the result object; the lines before it are the
  * human-readable table.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. A set-up builds the
    * session, registers the inputs, broadcasts robots, computes the
    * hot-host set, loads the seen snapshot and runs one warm-up op.
    */
  val SetUps = 3
  /** Untimed ops between the last set-up and the timed ones. Each op of a
    * fresh JVM runs faster than the one before while the JIT compilers
    * catch up with Spark's planning code; these ops take the steepest part
    * of that slope out of the timed window.
    */
  val WarmUps = 2
  /** Timed ops per run, at least. */
  val MinOps = 3

  /** One op. `cpuS` is the CPU time of the JVM's Java threads (the
    * driver, Spark's task and service threads); `processCpuS` adds the JIT
    * compiler and GC threads, whose share falls from op to op as the JVM
    * warms up; `jitS` is the JIT compilers' time.
    */
  final case class Sample(wallS: Double, cpuS: Double, processCpuS: Double, jitS: Double,
                          stealS: Double, loadAvg: Double,
                          problems: Seq[String], passes: Map[String, Double])

  /** Runs one op and measures it; an op that throws is a failed op. */
  def measure(wl: Workload): Sample = {
    val steal0 = Host.stealSeconds()
    val threads0 = Host.threadCpu()
    val cpu0 = Host.cpuSeconds()
    val jit0 = Host.jitSeconds()
    val t0 = System.nanoTime()
    val (problems, passes) =
      try wl.op()
      catch { case e: Exception => (Seq(s"op threw: $e"), Map.empty[String, Double]) }
    val wall = (System.nanoTime() - t0) / 1e9
    Sample(wall, Host.threadCpuSince(threads0), Host.cpuSeconds() - cpu0, Host.jitSeconds() - jit0,
      Host.stealSeconds() - steal0, Host.loadAvg1(), problems, passes)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as `statistics.quantiles(method="inclusive")`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args)
    val in = new Inputs(a.inputDir)
    Files.createDirectories(a.workDir)
    // inputs are generated once per (workload, seed, scale) and cached;
    // generation time is excluded from set-up time
    val genS = if (Files.exists(in.manifestFile)) 0.0 else {
      val t0 = System.nanoTime()
      Inputs.generateCached(a, in)
      (System.nanoTime() - t0) / 1e9
    }
    val manifest = Json.parse(Files.readString(in.manifestFile))

    // ---- set-up, repeated: the first counts from JVM start, the others
    // rebuild the session from nothing in the same JVM
    var spark: SparkSession = null
    var wl: Workload = null
    val setups = mutable.ArrayBuffer[Double]()
    val setupProblems = mutable.Buffer[String]()
    for (k <- 0 until SetUps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.build(a.workDir)
      wl = Workload.setUp(a.workload, spark, in, manifest, a.workDir)
      setupProblems ++= wl.op()._1 // warm-up, checked like every op
      setups += (if (k == 0) Host.sinceJvmStart() - genS else (System.nanoTime() - t0) / 1e9)
    }

    // ---- warm-up ops: checked and counted like the timed ones
    val warmUps = Seq.fill(WarmUps)(measure(wl))

    // ---- timed ops
    val samples = mutable.ArrayBuffer[Sample]()
    var cacheHeldMb = 0.0
    val gc0 = Host.gcSeconds()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (samples.size < MinOps || System.nanoTime() < deadline) {
      samples += measure(wl)
      cacheHeldMb = math.max(cacheHeldMb, spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
    }
    val gcPerOp = (Host.gcSeconds() - gc0) / samples.size
    val walls = samples.map(_.wallS).toSeq

    // ---- traced run: one traced op, then every layer on its own
    val traceProblems = mutable.Buffer[String]()
    val layerMetrics: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val t = new Tracer(s"${a.workload}-s${a.seed}")
        spark.sparkContext.addSparkListener(t)
        val traced = t.span("op")(try wl.op()._1 catch { case e: Exception => Seq(s"traced op threw: $e") })
        traceProblems ++= traced
        // the side this workload bypasses runs on its empty inputs
        val other: Workload =
          if (a.workload == "warc-ingest")
            new Crawl(spark, in, manifest, a.workDir)
          else new Ingest(spark, in, manifest)
        val m = try wl.layers(t, traceProblems) ++ other.layers(t, traceProblems)
          catch { case e: Exception => traceProblems += s"layer sweep threw: $e"; Map.empty[String, Double] }
        t.notes("tracing.overhead_frac") = t.find("op").wallS / median(walls) - 1.0
        t.notes("problems") = traceProblems.toSeq
        Files.createDirectories(a.spansFile.getParent)
        t.write(a.spansFile)
        m ++ Map("jvm.gc_s" -> gcPerOp, "jvm.jit_s" -> median(samples.map(_.jitS).toSeq),
          "jvm.process_cpu_s" -> median(samples.map(_.processCpuS).toSeq),
          "spark.cache_held_mb" -> cacheHeldMb,
          "tracing.overhead_frac" -> t.notes("tracing.overhead_frac").asInstanceOf[Double])
      }
    spark.stop()

    // ---- report
    val checked = warmUps ++ samples
    val failedOps = checked.count(_.problems.nonEmpty) + (if (traceProblems.nonEmpty) 1 else 0)
    val attempted = checked.size + (if (a.trace) 1 else 0)
    val allProblems = setupProblems ++ checked.flatMap(_.problems) ++ traceProblems
    val rss = Host.peakRssMb()
    val e2e: Map[String, (Double, String)] = Map(
      "items_per_sec" -> (wl.items / median(walls), "items/s"),
      "op_cpu_s" -> (median(samples.map(_.cpuS).toSeq), "s"),
      "setup_s" -> (median(setups.toSeq), "s"),
      "peak_rss_mb" -> (rss, "MB"))
    writeOps(a, warmUps, samples.toSeq)
    printTable(a, wl.items, samples.toSeq, setups.toSeq, rss, failedOps, attempted,
      allProblems.toSeq, layerMetrics)
    val metrics: Map[String, Map[String, Any]] =
      if (a.trace) layerMetrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units.of(k)) }
      else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = Json.render(Map("correct" -> allProblems.isEmpty, "attempted" -> attempted,
      "failed" -> failedOps, "metrics" -> metrics))
    println(result)
    System.out.flush()
    sys.exit(0)
  }

  private def writeOps(a: Args, warmUps: Seq[Sample], samples: Seq[Sample]): Unit = {
    val lines = (warmUps.map("warm-up" -> _) ++ samples.map("timed" -> _)).zipWithIndex.map {
      case ((kind, s), i) =>
        Json.render(Map("op" -> i, "kind" -> kind, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS,
          "process_cpu_s" -> s.processCpuS, "jit_s" -> s.jitS,
          "steal_s" -> s.stealS, "loadavg_1m" -> s.loadAvg, "passes" -> s.passes,
          "problems" -> s.problems))
    }
    import scala.jdk.CollectionConverters._
    Files.write(a.workDir.resolve(s"ops-${a.workload}-s${a.seed}.jsonl"), lines.asJava)
  }

  private def printTable(a: Args, items: Long, samples: Seq[Sample], setups: Seq[Double],
                         rss: Double, failed: Int, attempted: Int, problems: Seq[String],
                         layers: Map[String, Double]): Unit = {
    def q(xs: Seq[Double]) = f"median ${median(xs)}%.4f  q1 ${quantile(xs, 0.25)}%.4f  q3 ${quantile(xs, 0.75)}%.4f"
    def rate(name: String, unit: String, pass: Option[String]) = {
      val w = pass.fold(samples.map(_.wallS))(p => samples.flatMap(_.passes.get(p)))
      println(f"  $name%-26s ${items / median(w)}%14.1f $unit   (${w.size} ops; op wall s: ${q(w)})")
    }
    println(s"perfbench ${a.workload} seed ${a.seed} scale ${a.scale} trace ${if (a.trace) 1 else 0}" +
      s" -- local[${Session.Cores}], 1 client, closed loop")
    println("end-to-end:")
    val cpuName = if (a.workload == "warc-ingest") {
      rate("verify_records_per_sec", "records/s", Some("verify_s"))
      rate("extract_records_per_sec", "records/s", Some("extract_s"))
      "ingest_cpu_s"
    } else {
      rate("urls_per_sec", "URLs/s", None)
      "round_cpu_s"
    }
    val cpu = samples.map(_.cpuS)
    println(f"  $cpuName%-26s ${median(cpu)}%14.4f s        (${q(cpu)})")
    println(f"    process CPU s/op (JIT, GC included) ${q(samples.map(_.processCpuS))}; " +
      f"JIT s/op ${q(samples.map(_.jitS))}")
    println(f"  ${"setup_s"}%-26s ${median(setups)}%14.4f s        (${setups.map(x => f"$x%.3f").mkString(", ")})")
    println(f"  ${"peak_rss_mb"}%-26s $rss%14.1f MB")
    println(f"  ${"failed_frac"}%-26s ${failed.toDouble / attempted}%14.4f ratio    ($failed of $attempted ops)")
    println(f"host noise (information only): steal s/op ${q(samples.map(_.stealS))}; " +
      f"loadavg ${q(samples.map(_.loadAvg))}")
    if (layers.nonEmpty) {
      println("per-layer:")
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-30s $v%16.6f ${Units.of(k)}") }
    }
    println(s"output check: ${if (problems.isEmpty) "PASS" else "FAIL"}")
    problems.distinct.take(20).foreach(p => println(s"  - $p"))
  }
}

/** Unit of a per-layer metric, from its name. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name.endsWith("_skew")) "ratio"
    else "count"
}
