package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The one Spark session profile every run uses, traced or not. */
object Profile {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def conf(work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    // static conf: the engine's plans generate more classes than the
    // default 100-entry cache holds
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
  )

  /** Builds the session and runs the first trivial job; returns the
    * seconds that took. A previous session is stopped first (untimed). */
  def setup(work: Path): (SparkSession, Double) = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val t0 = System.nanoTime()
    val b = SparkSession.builder()
    conf(work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes in Spark's block store (cached and checkpointed blocks,
    * broadcast pieces). */
  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  /** Driver heap in use after a full GC, once Spark's block store is
    * empty: released checkpoints, and broadcasts a GC found unreferenced,
    * leave the store asynchronously, so the store is polled (for at most
    * 10 s) before the last GC. */
  def heapRetainedMb(spark: SparkSession): Double = {
    val deadline = System.nanoTime() + 10000000000L
    System.gc()
    while (storedBytes(spark) > 0 && System.nanoTime() < deadline) { Thread.sleep(100); System.gc() }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  /** The box the numbers were taken on, with calibration probes in the
    * manner of the engine's `graft.Bench`: a single-thread xorshift fold,
    * the same fold on every core, and an all-core memory sweep. Drift in
    * these between two runs is the box's, not the engine's. */
  def boxSignature(spark: SparkSession, work: Path): Map[String, Any] = {
    val sink = new java.util.concurrent.atomic.LongAdder
    def fold(seed: Long): Long = {
      var x = seed; var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def onAllCores(task: Int => Unit): Double = timed {
      val ts = (0 until nproc).map(i => new Thread(() => task(i)))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    sink.add(fold(1L))
    val st = math.min(timed(sink.add(fold(2L))), timed(sink.add(fold(3L))))
    val mt = math.min(onAllCores(i => sink.add(fold(11L + i))),
      onAllCores(i => sink.add(fold(31L + i))))
    val mb = 32
    val arrays = (0 until nproc).map(_ => Array.fill(mb * 131072)(1L))
    def sweep(): Double = {
      val secs = onAllCores { i =>
        val a = arrays(i); var s = 0L; var r = 0
        while (r < 4) { var j = 0; while (j < a.length) { s += a(j); j += 1 }; r += 1 }
        sink.add(s)
      }
      nproc * mb * 4 / 1024.0 / secs
    }
    sweep()
    val memGbps = math.max(sweep(), sweep())
    Map(
      "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "session_conf" -> conf(work).filterNot(_._1.endsWith(".dir")).toMap,
      "calib_st_s" -> st,
      "calib_mt_s" -> mt,
      "calib_mem_gbps" -> memGbps)
  }
}
