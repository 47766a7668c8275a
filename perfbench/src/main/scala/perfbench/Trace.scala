package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced section: times are epoch nanoseconds; `parent` is -1 for a
  * root; spans of one pass share `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Long, end: Long)

/** Per-job counters gathered from the listener bus. */
final class JobStats(val group: String, val start: Long) {
  @volatile var end: Long = start
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val taskNanos = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Attributes jobs, tasks, shuffle and spill to the benchmark's job groups
  * (one group per span), and planning time to whatever ran. */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val planNanos = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobStats(group, e.time * 1000000L))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { js =>
      js.tasks.incrementAndGet()
      if (!e.taskInfo.successful) js.failedTasks.incrementAndGet()
      js.taskNanos.addAndGet(e.taskInfo.duration * 1000000L)
      Option(e.taskMetrics).foreach { m =>
        js.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        js.spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planNanos.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planNanos.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
}

/** Span recorder. Off (the timed runs), `span` only runs its body and no
  * listener is registered. On, every span sets its own job group so the
  * [[Collector]] can attribute Spark's work to it; spans stay in memory
  * and are written out when the run ends. */
final class Tracer private (val on: Boolean, spark: SparkSession) {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def now(): Long = epoch0 + (System.nanoTime() - nano0)

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var runId = ""
  private var nextId = 0
  val collector: Option[Collector] = if (on) Some(new Collector) else None
  attach()

  /** Registers the collector on the listener bus and the session. */
  def attach(): Unit = collector.foreach { c =>
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }

  /** Unregisters it, so untraced passes in a traced run pay nothing. */
  def detach(): Unit = collector.foreach { c =>
    drain()
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }

  private def group(id: Int) = s"perfbench-span-$id"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      stack = id :: stack
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val t0 = now()
      try body
      finally {
        spans += Span(id, name, parent, runId, t0, now())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A root span named `pass` around one whole pass; `id` tags its spans. */
  def pass[T](id: String)(body: => T): T = { runId = id; span("pass")(body) }

  def drain(): Unit = if (on) PerfbenchBus.drain(spark.sparkContext)

  /** Spark's codegen compile timer — the one that feeds CodegenMetrics'
    * compilation-time histogram — in seconds since JVM start. */
  def codegenSeconds: Double = CodeGenerator.compileTime / 1e9

  def planSeconds: Double = { drain(); collector.fold(0.0)(_.planNanos.get / 1e9) }

  private def jobsOf(ids: Set[Int]): Seq[JobStats] =
    collector.toSeq.flatMap(_.jobs.values.asScala.filter(j =>
      ids.exists(i => j.group == group(i))))

  private def subtree(root: Span): Set[Int] = {
    var ids = Set(root.id)
    var grew = true
    while (grew) {
      val more = spans.filter(s => ids(s.parent)).map(_.id).toSet -- ids
      grew = more.nonEmpty; ids ++= more
    }
    ids
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** One span's measures: the four per-span ones, plus what the rollups
    * need. Counters cover the jobs of the span and its descendants. */
  def measures(s: Span): Map[String, Double] = {
    drain()
    val js = jobsOf(subtree(s))
    val children = spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq
    val busy = covered(js.map(j => (j.start, j.end)), s.start, s.end)
    Map(
      "self_s" -> (s.end - s.start - covered(children, s.start, s.end)) / 1e9,
      "driver_gap_s" -> (s.end - s.start - busy) / 1e9,
      "tasks" -> js.map(_.tasks.get).sum.toDouble,
      "shuffle_mb" -> js.map(_.shuffleBytes.get).sum / 1048576.0,
      "spill_mb" -> js.map(_.spillBytes.get).sum / 1048576.0,
      "jobs" -> js.size.toDouble,
      "failed_tasks" -> js.map(_.failedTasks.get).sum.toDouble,
      "busy_s" -> busy / 1e9,
      "task_s" -> js.map(_.taskNanos.get).sum / 1e9)
  }

  /** Every span's measures for one pass, summed per span name (a pass
    * that runs a span twice, once per month, reports the total). */
  def passMeasures(runId: String): Map[String, Map[String, Double]] =
    spans.filter(s => s.runId == runId && s.name != "pass").groupBy(_.name)
      .map { case (name, ss) =>
        name -> ss.map(measures).reduce((a, b) =>
          a.map { case (k, v) => k -> (v + b(k)) })
      }

  def root(runId: String): Span = spans.find(s => s.runId == runId && s.name == "pass").get

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
    "start_ns" -> s.start, "end_ns" -> s.end))
}

object Tracer {
  def apply(on: Boolean, spark: SparkSession): Tracer = new Tracer(on, spark)
}
