package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced call: name, wall interval, parent span, and the counts the
  * benchmark records at its boundary.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark task metrics summed over the jobs submitted inside a span. */
final case class TaskStats(tasks: Int, taskS: Double, shuffleWriteMb: Double,
                           shuffleReadMb: Double, spillMb: Double, outputMb: Double,
                           skew: Double)

/** Spans kept in memory plus a `SparkListener` that attributes task
  * metrics to them: a job belongs to the innermost span open at its
  * submission time, a task to the job that submitted its stage. Spans
  * nest by call order on one driver thread.
  */
final class Tracer(val runId: String) extends SparkListener {
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]()
  private val tasks = new ConcurrentLinkedQueue[Tracer.Task]()
  @volatile private var flushJob = -1
  @volatile private var flushed = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (e.properties != null && e.properties.getProperty("perfbench.flush") != null)
      flushJob = e.jobId
    jobs.add((e.jobId, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == flushJob) flushed = true

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Tracer.Task(e.stageId, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Run-level verdicts, written after the spans. */
  val notes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()

  /** Record a count on the innermost open span. */
  def count(key: String, v: Double): Unit = open.head.counts(key) = v

  def find(name: String): Span = spans.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  /** Wait until the listener has seen every event posted so far: the bus
    * delivers in order, so the end of a marker job comes after them.
    */
  def flush(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    flushed = false
    sc.setLocalProperty("perfbench.flush", "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("perfbench.flush", null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Self time: the span's wall time minus the union of its children. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (kids.nonEmpty) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Task metrics of the jobs submitted while `s` (or a child) was open.
    * Skew is max/median task time of the span's heaviest stage.
    */
  def stats(s: Span): TaskStats = {
    val js = jobs.asScala.filter { case (_, t, _) => t >= s.startMs && t <= s.endMs }
    val stages = js.flatMap(_._3).toSet
    val ts = tasks.asScala.filter(t => stages.contains(t.stage)).toSeq
    val mb = 1024.0 * 1024.0
    val skew =
      if (ts.isEmpty) 0.0
      else {
        val heavy = ts.groupBy(_.stage).maxBy(_._2.map(_.durMs).sum)._2.map(_.durMs).sorted
        val median = heavy(heavy.size / 2).toDouble
        if (median > 0) heavy.last / median else 1.0
      }
    TaskStats(ts.size, ts.map(_.durMs).sum / 1e3, ts.map(_.shuffleW).sum / mb,
      ts.map(_.shuffleR).sum / mb, ts.map(_.spill).sum / mb, ts.map(_.out).sum / mb, skew)
  }

  def busyFrac(s: Span): Double =
    if (s.wallS <= 0) 0.0 else stats(s).taskS / (s.wallS * Session.Cores)

  /** All spans as JSON lines, with their self time and task metrics. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val st = stats(s)
      Json.render(Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS, "self_s" -> selfS(s),
        "counts" -> s.counts.toMap, "tasks" -> st.tasks, "task_s" -> st.taskS,
        "busy_frac" -> busyFrac(s), "task_skew" -> st.skew,
        "shuffle_write_mb" -> st.shuffleWriteMb, "shuffle_read_mb" -> st.shuffleReadMb,
        "spill_mb" -> st.spillMb, "output_mb" -> st.outputMb))
    }
    val summary = Json.render(Map("run" -> runId, "name" -> "summary", "notes" -> notes.toMap))
    java.nio.file.Files.write(path, (lines :+ summary).asJava)
  }
}

object Tracer {
  private final case class Task(stage: Int, durMs: Long, shuffleW: Long, shuffleR: Long,
                                spill: Long, out: Long)
}
