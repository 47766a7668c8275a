package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The metric names and units the benchmark prints; BENCHMARK.json lists
  * the same. */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_pass_s" -> "s", "pass_s" -> "s",
    "records_per_s" -> "1/s", "heap_retained_mb" -> "MB",
    "out_bytes_per_in_byte" -> "ratio")

  /** Span names: `<layer>.<span>`, the layer being the engine module that
    * owns the public call. */
  val spans: Seq[String] = Seq(
    "sources.zip_lines", "sources.symbol_list", "sources.validity",
    "sources.scheme_edges", "sources.publish",
    "operators.title_parse", "operators.validate", "operators.report",
    "operators.exact_groups", "operators.shingle_pairs", "operators.dup_clusters",
    "operators.canonical", "operators.incremental_cc", "operators.suffix_dupes",
    "operators.bpe_train",
    "sources.warc_decode", "operators.html_extract", "operators.paragraph_dedup",
    "sources.manifest_commit", "sources.manifest_upsert", "sources.manifest_read")

  val spanMeasures: Seq[(String, String)] = Seq(
    "self_s" -> "s", "driver_gap_s" -> "s", "tasks" -> "count", "shuffle_mb" -> "MB")

  val extras: Seq[(String, String)] = Seq(
    "sources.zip_lines.mb_per_s" -> "MB/s", "sources.warc_decode.mb_per_s" -> "MB/s",
    "operators.title_parse.ns_per_row" -> "ns", "operators.html_extract.ns_per_row" -> "ns",
    "expressions.text_stats.ns_per_row" -> "ns", "expressions.html_blocks.ns_per_row" -> "ns",
    "expressions.shingle_hashes.ns_per_row" -> "ns",
    "operators.shingle_pairs.spill_mb" -> "MB", "operators.suffix_dupes.spill_mb" -> "MB",
    "operators.shingle_pairs.planted_recall" -> "ratio",
    "sources.manifest_commit.files" -> "count",
    "sources.manifest_upsert.bytes_rewritten_per_updated_byte" -> "ratio",
    "operators.dup_clusters.distributed_s" -> "s",
    "operators.incremental_cc.distributed_s" -> "s",
    "operators.bpe_train.distributed_s" -> "s")

  val rollups: Seq[(String, String)] = Seq(
    "run.jobs" -> "count", "run.tasks" -> "count", "run.slot_util" -> "ratio",
    "run.driver_gap_s" -> "s", "run.shuffle_mb" -> "MB", "run.spill_mb" -> "MB",
    "run.gc_s" -> "s", "run.failed_tasks" -> "count", "run.plan_s" -> "s",
    "run.codegen_s" -> "s", "run.trace_overhead_pct" -> "%")

  val perLayer: Seq[(String, String)] =
    spans.flatMap(s => spanMeasures.map { case (m, u) => s"$s.$m" -> u }) ++ extras ++ rollups
}

object Main {
  /** Session builds per run; the reported set-up time is their median. */
  val SetupReps = 5
  /** Warm passes a timed run makes at least, however short `--seconds`. */
  val MinWarm = 2
  /** Untimed passes after the cold one last at least this long, and make at
    * least one: pass times keep falling for a few seconds after the cold
    * pass while JIT and codegen finish. */
  val SettleSeconds = 6

  /** Progress on stderr, stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench: [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  final case class Tally(var attempted: Long = 0, var failed: Long = 0,
      errors: ArrayBuffer[String] = ArrayBuffer.empty) {
    def add(steps: Int, errs: Seq[String]): Unit = {
      attempted += steps
      failed += math.min(steps, errs.size)
      errs.foreach(e => if (errors.size < 20) errors += e)
      errs.foreach(e => System.err.println(s"perfbench: check failed: $e"))
    }
  }

  /** One pass into a fresh `out`; returns its seconds. Checks run after the
    * clock stops and are tallied. */
  private def runPass(spark: SparkSession, wl: Workload, out: Path, t: Tracer,
      runId: String, tally: Tally): Double = {
    Disk.delete(out)
    Files.createDirectories(out)
    val checks = new Checks(wl.steps)
    var threw: Option[String] = None
    val t0 = System.nanoTime()
    try t.pass(runId)(wl.pass(spark, out, t, checks))
    catch { case e: Throwable => threw = Some(s"pass threw: $e"); e.printStackTrace() }
    val secs = (System.nanoTime() - t0) / 1e9
    tally.add(wl.steps.size, threw.toSeq ++ checks.run())
    log(f"pass $runId: $secs%.3f s, checked")
    secs
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload.byName.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))()
    val (in, out) = (a.work.resolve("in"), a.work.resolve("out"))

    val setups = (1 to SetupReps).map(_ => Profile.setup(a.work))
    val spark = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    val g0 = System.nanoTime()
    wl.generate(spark, in, a.seed)
    val generateS = (System.nanoTime() - g0) / 1e9
    log(f"set up ${setups.map(_._2).map(x => f"$x%.3f").mkString(" ")} s; generated in $generateS%.3f s")

    val tally = Tally()
    val (metrics, detail) =
      if (a.trace) traced(spark, wl, a, out, tally) else timed(spark, wl, a, out, tally, setupS)
    log(s"measured; the block store holds ${Profile.storedBytes(spark)} bytes")
    val box = Profile.boxSignature(spark, a.work)
    spark.stop()
    log("calibrated and stopped")

    val units = (if (a.trace) Catalog.perLayer else Catalog.endToEnd).toMap
    println(Json.render(Map(
      "workload" -> wl.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "input" -> (wl.inputSizes ++ Map("records" -> wl.records, "bytes" -> wl.inputBytes)),
      "setup_samples_s" -> setups.map(_._2), "generate_s" -> generateS,
      "error_rate" -> tally.failed.toDouble / math.max(1L, tally.attempted),
      "errors" -> tally.errors, "box" -> box) ++ detail))
    println(Json.render(Map(
      "correct" -> (tally.failed == 0), "attempted" -> tally.attempted, "failed" -> tally.failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) })))
  }

  private def settle(spark: SparkSession, wl: Workload, out: Path, off: Tracer, tally: Tally): Unit = {
    val end = System.nanoTime() + SettleSeconds * 1000000000L
    var n = 0
    while (n == 0 || System.nanoTime() < end) { runPass(spark, wl, out, off, s"settle-$n", tally); n += 1 }
  }

  private def timed(spark: SparkSession, wl: Workload, a: Args, out: Path, tally: Tally,
      setupS: Double): (Map[String, Double], Map[String, Any]) = {
    val off = Tracer(on = false, spark)
    val first = runPass(spark, wl, out, off, "cold", tally)
    settle(spark, wl, out, off, tally)
    val warm = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (warm.size < MinWarm || System.nanoTime() < deadline)
      warm += runPass(spark, wl, out, off, s"warm-${warm.size}", tally)
    val passS = Stats.median(warm.toSeq)
    val outBytes = Disk.bytes(out)
    spark.catalog.clearCache()
    val heap = Profile.heapRetainedMb(spark)
    (Map(
      "setup_s" -> setupS,
      "first_pass_s" -> first,
      "pass_s" -> passS,
      "records_per_s" -> wl.records / passS,
      "heap_retained_mb" -> heap,
      "out_bytes_per_in_byte" -> outBytes.toDouble / wl.inputBytes),
      Map("first_pass_s" -> first, "warm_pass_samples_s" -> warm.toSeq,
        "out_bytes" -> outBytes))
  }

  /** The traced run: a cold traced pass (planning and codegen are charged
    * there), untimed settling passes, a traced warm pass for the per-span
    * measures between two untraced ones with no listener registered, then
    * the workload's extras. */
  private def traced(spark: SparkSession, wl: Workload, a: Args, out: Path,
      tally: Tally): (Map[String, Double], Map[String, Any]) = {
    val on = Tracer(on = true, spark)
    val (plan0, cg0) = (on.planSeconds, on.codegenSeconds)
    runPass(spark, wl, out, on, "cold", tally)
    val (planCold, cgCold) = (on.planSeconds - plan0, on.codegenSeconds - cg0)

    val off = Tracer(on = false, spark)
    on.detach()
    settle(spark, wl, out, off, tally)
    // the traced warm pass sits between two untraced ones, so warm-up drift
    // cancels out of the overhead
    val before = runPass(spark, wl, out, off, "untraced-0", tally)
    on.attach()
    val gc0 = Profile.gcSeconds()
    val tracedS = runPass(spark, wl, out, on, "traced", tally)
    val gcS = Profile.gcSeconds() - gc0
    val lastOut = Disk.bytes(out)
    on.detach()
    val untraced = (before + runPass(spark, wl, out, off, "untraced-1", tally)) / 2
    val spans = on.passMeasures("traced")
    val spanMetrics = for ((s, ms) <- spans; (m, _) <- Catalog.spanMeasures) yield s"$s.$m" -> ms(m)
    val root = on.measures(on.root("traced"))

    val checks = new Checks(wl.extraSteps)
    var threw: Option[String] = None
    val extra = try wl.extras(spark, out, checks, spans)
      catch { case e: Throwable => threw = Some(s"extras threw: $e"); e.printStackTrace(); Map.empty[String, Double] }
    tally.add(wl.extraSteps.size, threw.toSeq ++ checks.run())

    val rollups = Map(
      "run.jobs" -> root("jobs"), "run.tasks" -> root("tasks"),
      "run.slot_util" -> root("task_s") / math.max(1e-9, Profile.nproc * root("busy_s")),
      "run.driver_gap_s" -> root("driver_gap_s"), "run.shuffle_mb" -> root("shuffle_mb"),
      "run.spill_mb" -> root("spill_mb"), "run.gc_s" -> gcS,
      "run.failed_tasks" -> root("failed_tasks"), "run.plan_s" -> planCold,
      "run.codegen_s" -> cgCold,
      "run.trace_overhead_pct" -> (tracedS / untraced - 1) * 100)
    val measured = spanMetrics ++ extra ++ rollups
    val metrics = Catalog.perLayer.map { case (k, _) => k -> measured.getOrElse(k, 0.0) }.toMap

    val spansFile = a.work.getParent.resolve(s"spans-${wl.name}-${a.seed}.json")
    Disk.write(spansFile, Json.render(on.spansJson).getBytes("UTF-8"))
    (metrics, Map("untraced_pass_s" -> untraced, "traced_pass_s" -> tracedS,
      "out_bytes" -> lastOut, "spans_file" -> spansFile.toString))
  }
}
