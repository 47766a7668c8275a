package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode}

case class StreamEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

case class SessionUpdate(user_id: Long, n_events: Long, started_ms: Long,
    last_ms: Long, closed: Boolean)

private case class SessionState(nEvents: Long, startedMs: Long, lastMs: Long)

case class FunnelUpdate(user_id: Long, stage: Int, at_us: Long)
private[streaming] case class FunnelProgress(stage: Int, deadlineUs: Long)

/** StatefulProcessor form of the funnel fold (transformWithState). */
private[streaming] class FunnelProcessor(stages: Seq[String], windowUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamEvent, FunnelUpdate] {
  import org.apache.spark.sql.{Encoders, streaming => ss}
  @transient private var state: ss.ValueState[FunnelProgress] = _

  override def init(outputMode: OutputMode, timeMode: ss.TimeMode): Unit =
    state = getHandle.getValueState[FunnelProgress]("funnel",
      Encoders.product[FunnelProgress], ss.TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[StreamEvent],
      timerValues: ss.TimerValues): Iterator[FunnelUpdate] = {
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var st = Option(state.get()).getOrElse(FunnelProgress(0, Long.MaxValue))
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelUpdate]
    sorted.foreach { e =>
      if (st.stage < stages.length && e.event_type == stages(st.stage)) {
        val t = micros(e.ts)
        if (st.stage == 0 || t <= st.deadlineUs) {
          st = FunnelProgress(st.stage + 1, t + windowUs)
          out += FunnelUpdate(user, st.stage, t)
        }
      }
    }
    state.update(st)
    out.iterator
  }
}

/** Structured Streaming tier (SURVEY §2.11 — extension beyond the batch-only
  * reference): event-time windowed aggregation with watermarks, plus a
  * custom-state sessionizer via mapGroupsWithState (the stateful analog of
  * the batch q18_sessionize windows).
  *
  * SCALE: state is keyed by user_id (hash-partitioned across executors),
  * watermark bounds state size, `Trigger.AvailableNow` turns the same code
  * into an incremental batch job over a landing directory.
  */
object EventsStream {

  /** File-source stream over parquet events, `ts` normalized to
    * TimestampType for event-time semantics whichever way the parquet
    * encodes it: TIMESTAMP(NANOS) (read as epoch-ns long under the
    * nanosAsLong legacy flag → timestamp_micros) or TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ → cast under the pinned UTC session tz). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(dir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Tumbling event-time window counts with a 1-hour watermark. */
  def windowedCounts(events: DataFrame, window_ : String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("v"))

  /** Custom-state sessionization: 30-min inactivity gap closes a session.
    * Emits one update per user per trigger. */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionUpdate] = {
    import spark.implicits._
    val gapMs = 30 * 60 * 1000L
    events.as[StreamEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[StreamEvent], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, -1L, -1L))
          var closed = false
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (st.startedMs < 0) st = SessionState(1L, t, t)
            else if (t - st.lastMs > gapMs) { closed = true; st = SessionState(1L, t, t) }
            else st = st.copy(nEvents = st.nEvents + 1, lastMs = t)
          }
          state.update(st)
          SessionUpdate(user, st.nEvents, st.startedMs, st.lastMs, closed)
      }
  }

  /** Incremental title-list ingestion — the Spark-idiomatic form of the
    * reference's timer-triggered re-run (SURVEY §2.11, etl_function.py):
    * a file-source stream over a landing directory of title-list text files,
    * parsed with the SAME CpcTitleParser columns, appended to a parquet
    * table. Run with Trigger.AvailableNow for a scheduled batch that only
    * processes files landed since the last checkpoint. */
  def incrementalTitles(spark: SparkSession, landingDir: String): DataFrame = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", 16)
      .text(landingDir)
      .withColumnRenamed("value", "line")
    graft.operators.CpcTitleParser.parseLines(lines)
  }

  /** [[incrementalTitles]] driven to completion as a BATCH result — the
    * oracle-checkable face of the streaming tier (q78). Each element of
    * `batches` is landed as one text file in a fresh temp landing dir and
    * the stream is then run with Trigger.AvailableNow against ONE shared
    * checkpoint, appending every micro-batch (tagged with its batch id) to
    * a parquet output. The checkpoint is what makes this a test of
    * INCREMENTAL semantics rather than a re-parse: run N sees files landed
    * after run N-1 only — a re-processed file would surface as duplicated
    * rows and a shifted batch_id, failing the oracle hash compare.
    * Deterministic: one landed file per run (< maxFilesPerTrigger) means
    * run i is exactly micro-batch i. */
  def incrementalIngestDemo(spark: SparkSession, batches: Seq[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-incr")
    val landing = root.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    batches.zipWithIndex.foreach { case (lines, i) =>
      java.nio.file.Files.write(landing.resolve(f"titles_$i%03d.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
      val q = incrementalTitles(spark, landing.toString).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(out)
  }

  /** Streaming CPC delta pipeline — the streaming twin of CpcPipeline.run
    * (all-or-nothing gate, main.py:89-121, applied PER DELTA): incremental
    * title ingestion over a landing dir; each micro-batch is validated
    * against the dimension tables inside foreachBatch; a clean batch
    * publishes to the partitioned snapshot table, a dirty batch lands —
    * IN FULL (valid and invalid rows, with warnings and batch_id) — in a
    * quarantine table, so history is never corrupted and a rejected delta
    * can be repaired and replayed from quarantine without re-landing the
    * source file. Run with Trigger.AvailableNow as the scheduled monthly
    * job.
    *
    * Delivery: foreachBatch is at-least-once (a crash between the sink
    * write and the checkpoint commit replays the batch), so both sinks
    * write a batch_id-derived partition with DYNAMIC partition overwrite —
    * a replayed batch rewrites its own partition instead of appending
    * duplicates, making the pipeline idempotent (effectively-once).
    * The checkpoint OWNS the output dir (standard Structured Streaming
    * contract): batch ids are only meaningful relative to their
    * checkpoint, so resetting the checkpoint against an existing outDir —
    * or pointing two pipelines at one outDir — would overwrite prior
    * batch_id partitions; use a fresh outDir with a fresh checkpoint.
    *
    * SCALE: dims are validated per-batch via the same broadcast-join
    * validator as batch; state is only the file-source checkpoint. */
  def incrementalValidatedPublish(spark: SparkSession, landingDir: String,
      symbolList: DataFrame, validity: DataFrame, edges: DataFrame,
      outDir: String, version: String, checkpointDir: String): Unit = {
    import graft.operators.{CpcPipeline, CpcValidator}
    val q = incrementalTitles(spark, landingDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val validated = CpcValidator.validate(batch.toDF(), symbolList, validity, edges)
            .cache()
          val rep = CpcPipeline.report(validated)
          if (rep.invalid == 0)
            batch.withColumn("cpc_schema_date", lit(version))
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("cpc_schema_date", "batch_id")
              .parquet(s"$outDir/cpc_schema_snapshots")
          else
            validated.withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(s"$outDir/quarantine")
          validated.unpersist()
          ()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming keyed upsert publish (CDC shape): each micro-batch of
    * parsed titles MERGEs into a CURRENT-STATE table keyed by symbol and
    * partitioned by section — later deltas overwrite a symbol's row
    * instead of appending history. Committed through
    * [[graft.sources.ManifestCommit]]: each micro-batch's merge rewrites
    * only the sections the delta touches and publishes a new manifest
    * version (single-file atomic claim), a crash mid-batch leaves only an
    * unreferenced txn dir, and replaying a batch converges because the
    * upsert is idempotent — no batch_id bookkeeping needed. Read the
    * table back with [[graft.sources.ManifestCommit.readManifested]]. */
  def incrementalUpsertTitles(spark: SparkSession, landingDir: String,
      outDir: String, checkpointDir: String): Unit = {
    val target = s"$outDir/titles_current"
    val q = incrementalTitles(spark, landingDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val delta = batch.withColumn("section", substring(col("symbol"), 1, 1))
          upsertOrCreate(spark, target, delta, Seq("symbol"), "section")
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The manifest sink both keyed streaming writers share: the first
    * batch creates the table (replaceAll commit), later ones upsert. */
  private def upsertOrCreate(spark: SparkSession, target: String,
      delta: DataFrame, keyCols: Seq[String], partitionCol: String): Unit = {
    import graft.sources.ManifestCommit
    if (ManifestCommit.currentSnapshot(spark, target).isDefined)
      ManifestCommit.upsertManifested(spark, target, delta, keyCols,
        Seq(partitionCol))
    else
      ManifestCommit.overwriteViaManifest(spark, target, Seq(partitionCol),
        replaceAll = true) { txn =>
        delta.write.partitionBy(partitionCol).parquet(txn)
      }
    ()
  }

  /** Streaming exact dedup: drop events with a duplicate (user_id, props)
    * within the watermark horizon — the streaming twin of batch
    * Dedup.exactGroups, state bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "props")

  /** Stream-stream interval join: purchases enriched with the clicks of the
    * same user in the preceding hour. Both sides watermarked so join state
    * is bounded; the time-bound predicate makes the state store evictable. */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val p = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val c = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("cid"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("cts") <= col("pts") && col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("pid"), col("cid"), col("pts"), col("cts"))
  }

  /** Streaming trending terms: watermarked tumbling-window counts of the
    * whitespace terms in the event payload column, with the per-window
    * top-k cut applied PER EMITTED BATCH in `foreachBatch` — the honest
    * streaming shape for rank queries: the windowed count aggregation is
    * incremental (watermark-bounded state, map-side partials), while the
    * rank itself is not incrementally maintainable without replaying the
    * window, so it runs on the final, watermark-closed rows the
    * aggregation emits in append mode. Results land keyed by
    * (window, rank) in an idempotent in-memory table per test-harness
    * batch — a real deployment points the same function at a keyed
    * upsert sink ([[incrementalUpsertTitles]] pattern).
    *
    * SCALE: state is (window x term) counters bounded by the watermark
    * horizon; the top-k per batch is a WindowGroupLimit-prunable rank
    * over only the rows that batch emitted, never the history. */
  private[graft] def trendingTerms(spark: SparkSession, events: DataFrame, textCol: String,
      window_ : String, k: Int): Seq[(java.sql.Timestamp, String, Long, Int)] = {
    val counts = events
      .withWatermark("ts", "1 hour")
      .select(col("ts"), explode(split(col(textCol), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(window(col("ts"), window_), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("term"), col("n"))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(java.sql.Timestamp, String, Long, Int)]
    val q = counts.writeStream
      .outputMode(OutputMode.Append()) // only watermark-CLOSED windows emit
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("ws").orderBy(col("n").desc, col("term"))
        val ranked = batch.withColumn("rank", row_number().over(w))
          .where(col("rank") <= k)
          .collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3)))
        out.synchronized { out ++= ranked }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    out.toSeq
  }

  /** [[trendingTerms]] with a PRODUCTION sink: each closed window's top-k
    * is foreachBatch-MERGED into a keyed, manifest-committed parquet table
    * instead of accumulating in a driver buffer — the only shape that can
    * run unattended (the driver-Seq form above is the spec/demo harness;
    * its buffer grows with stream lifetime). Read the table back with
    * [[graft.sources.ManifestCommit.readManifested]]: a raw parquet read
    * of `target` would also see the superseded txn generations. Same CDC
    * pattern as [[incrementalUpsertTitles]]: the upsert is keyed by
    * (ws, rank) and partitioned by window date, so delivery is idempotent
    * by construction — an at-least-once foreachBatch replay (crash between
    * sink write and checkpoint commit) or a full from-scratch replay
    * re-merges the same keys with the same values and CONVERGES, no
    * batch_id bookkeeping. Run with Trigger.AvailableNow as the scheduled
    * incremental job.
    *
    * SCALE: the windowed-count state is watermark-bounded as before; the
    * per-batch rank runs over only the rows that batch emitted (closed
    * windows), never history; the upsert rewrites only the window-date
    * partitions the batch touched. */
  def trendingTermsToTable(spark: SparkSession, events: DataFrame,
      textCol: String, window_ : String, k: Int, target: String,
      checkpointDir: String): Unit = {
    val counts = events
      .withWatermark("ts", "1 hour")
      .select(col("ts"), explode(split(col(textCol), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(window(col("ts"), window_), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("term"), col("n"))
    val q = counts.writeStream
      .outputMode(OutputMode.Append()) // only watermark-CLOSED windows emit
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("ws").orderBy(col("n").desc, col("term"))
          val ranked = batch.withColumn("rank", row_number().over(w))
            .where(col("rank") <= k)
            .withColumn("ws_date", date_format(col("ws"), "yyyy-MM-dd"))
          upsertOrCreate(spark, target, ranked, Seq("ws", "rank"), "ws_date")
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming first-touch funnel — the stateful-stream twin of
    * [[graft.operators.EventOps.funnelStages]]: per-user state is the
    * stage reached plus the current conversion deadline, advanced by
    * `flatMapGroupsWithState` as events arrive in event-time order;
    * every advancement emits an update row (append mode). With events
    * delivered time-ordered (a replayed log, or a watermark-sorted
    * upstream), the final per-user stage equals the batch operator's —
    * spec-asserted against the static table.
    *
    * SCALE: state per user is TWO numbers (stage, deadline) — no event
    * buffering; groups are hash-partitioned by user across executors;
    * NoTimeout keeps funnels open indefinitely (pass a timeout to expire
    * abandoned funnels and bound state at web scale). */
  def streamingFunnel(spark: SparkSession, events: DataFrame,
      stages: Seq[String], windowUs: Long): Dataset[FunnelUpdate] = {
    import spark.implicits._
    events.as[StreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[StreamEvent],
         state: GroupState[FunnelProgress]) =>
          def micros(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(FunnelProgress(0, Long.MaxValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelUpdate]
          sorted.foreach { e =>
            if (st.stage < stages.length && e.event_type == stages(st.stage)) {
              val t = micros(e.ts)
              if (st.stage == 0 || t <= st.deadlineUs) {
                st = FunnelProgress(st.stage + 1, t + windowUs)
                out += FunnelUpdate(user, st.stage, t)
              }
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The [[streamingFunnel]] semantics on Spark 4's transformWithState
    * API (StatefulProcessor + typed ValueState): state is the same two
    * numbers, but held in a named, schema'd, TTL-capable state variable
    * the state store can evolve/introspect — the API the
    * mapGroupsWithState paths migrate to. Requires the RocksDB state
    * store provider (transformWithState's backing store); the spec sets
    * it for its own query only. Output and semantics are identical to
    * [[streamingFunnel]] — spec-asserted against it AND the batch twin. */
  def streamingFunnelTws(spark: SparkSession, events: DataFrame,
      stages: Seq[String], windowUs: Long): Dataset[FunnelUpdate] = {
    import spark.implicits._
    events.as[StreamEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stages, windowUs),
        TimeMode.None(), OutputMode.Append())
  }

  /** Run a stream to completion against static input via the memory sink;
    * returns the collected result table (local smoke/test harness). */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** [[runToMemory]] under `Trigger.AvailableNow` — the scheduled-batch
    * trigger production incremental jobs run with: the query processes
    * everything available at start and terminates on its own. */
  def runToMemoryAvailableNow(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Streaming per-day distinct-user estimation via the q413 portable
    * HyperLogLog — streaming CARDINALITY with BOUNDED state: the
    * streaming aggregation keeps only (day-window, bucket) → max(rho)
    * registers (256 rows per day, regardless of user volume), where an
    * exact streaming distinct would hold every user id in state. The
    * register relation runs to completion in COMPLETE mode (q303's
    * static-input contract), and the exact harmonic fold + linear-
    * counting branch (q413's algebra — integer 2^(53−M) sums) applies
    * BATCH-side to the sunk registers. */
  def streamingDailyDistinct(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val h = graft.expressions.PortableHash.md5Hash60(col("user_id"))
    val reg = readEvents(spark, dir)
      .select(col("ts"), h.as("h"))
      .select(col("ts"), col("h").bitwiseAND(lit(255L)).as("bucket"),
        when(shiftright(col("h"), 8) === 0, lit(53))
          .otherwise(lit(53) - length(bin(shiftright(col("h"), 8))))
          .as("rho"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("bucket"))
      .agg(max("rho").as("m"))
    val name = "hlldaily_" + Integer.toHexString(dir.hashCode)
    val sunk = runToMemoryAvailableNow(spark, reg, name,
      OutputMode.Complete())
    val fold = sunk
      .select(expr("unix_micros(w.start) div 86400000000").as("day"),
        col("m"))
      .groupBy("day").agg(
        (sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - m)").cast(dec))
          + (lit(256).cast(dec) - count(lit(1)).cast(dec))
            * lit(9007199254740992L).cast(dec)).as("z"),
        (lit(256) - count(lit(1))).cast("long").as("v"))
    val eRaw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(9007199254740992.0) / col("z").cast("double")
    val lc = round(log(lit(256.0) / col("v").cast("double")) * 1.0e8) /
      1.0e8 * 256.0
    fold.select(col("day"),
      (round(when(col("v") > 0 && eRaw <= 640.0, lc).otherwise(eRaw)
        * 10000.0) / 10000.0).as("est"))
  }

  /** Sliding-window counts (1 h window / 15 min slide) driven to
    * completion in COMPLETE mode — the streaming twin of the q282 batch
    * window. No watermark: on static input the final state table holds
    * EVERY window, so the memory-sink table equals the batch result
    * exactly (with a watermark, append mode would hold back the windows
    * the final watermark never passes — the equivalence would be
    * silently partial). AvailableNow + complete is the replay-the-
    * history shape; production would add the watermark and accept
    * append-mode finality semantics. */
  def slidingWindowCounts(spark: SparkSession, dir: String): DataFrame = {
    val counts = readEvents(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).cast("long").as("n"))
    val name = "sliding_" + Integer.toHexString(dir.hashCode)
    runToMemoryAvailableNow(spark, counts, name, OutputMode.Complete())
      .select(unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n"))
  }

  /** Streaming near-dup ADMISSION CONTROL — the production sink of
    * [[graft.operators.Dedup.incrementalNearDup]]: each micro-batch of
    * crawled documents is deduped against everything ACCEPTED so far
    * (and within itself), and only the survivors append to the accepted
    * table. The batch operator's contract carries over unchanged —
    * history×incoming and incoming×incoming band joins (never
    * history×history, so per-batch candidate work is batch-proportional),
    * exact-Jaccard verification, conservative smaller-id within-batch
    * rule.
    *
    * Delivery: foreachBatch is at-least-once, so admission is made
    * idempotent BY ID — a batch's rows first anti-join against the
    * accepted table, which makes a replayed batch (crash between the
    * append and the checkpoint commit, or a full fresh-checkpoint replay)
    * a no-op regardless of each row's dedup outcome. At scale the
    * history's band rows would be a materialized table maintained per
    * batch (the incrementalNearDup scaladoc's ManifestCommit note); here
    * they derive from the accepted table for self-containment. */
  def streamingNearDupIngest(spark: SparkSession, docs: DataFrame,
      threshold: Double, target: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): Unit = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val path = new org.apache.hadoop.fs.Path(target)
          val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val history =
            if (fs.exists(path)) Some(spark.read.parquet(target)) else None
          val fresh = history.fold(batch.toDF())(h =>
            batch.join(h.select(col(idCol)), Seq(idCol), "left_anti"))
          val hist = history
            .map(_.select(col(idCol), col(textCol)))
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              fresh.select(col(idCol), col(textCol)).schema))
          val kept = graft.operators.Dedup.incrementalNearDup(
            hist, fresh, threshold, idCol, textCol, n, bands, rowsPerBand)
          kept.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(target)
          ()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming maintenance of the duplicate-cluster sidecar: each
    * micro-batch of near-dup PAIRS (id_a, id_b) — e.g. the admission
    * stream's verified hits — is folded into the durable (id, cluster)
    * table via [[graft.operators.Incremental.incrementalComponents]]
    * (quotient-graph CC + broadcast remap + partition-pruned upsert), so
    * the live cluster labels are always exactly what a batch CC over
    * every pair ever seen would produce, without one ever running.
    * Idempotence is the operator's own replay contract: a re-delivered
    * batch maps both endpoints of every edge to one label, the quotient
    * is empty, and nothing changes — at-least-once foreachBatch replays
    * and fresh-checkpoint replays are no-ops (spec-asserted). */
  def streamingComponentsIngest(spark: SparkSession, pairs: DataFrame,
      statePath: String, checkpointDir: String): Unit = {
    val q = pairs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.operators.Incremental.incrementalComponents(
            spark, statePath, batch.toDF())
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming SEMANTIC-dedup admission control — [[streamingNearDupIngest]]
    * in embedding space, mirroring the q132 batch contract: each
    * micro-batch of vectors is assigned to a k-means cluster of a
    * REFERENCE partitioner (`centroids`, fit offline once —
    * [[graft.operators.Clustering.fitCentroids]] — the IVF "train on a
    * historical corpus, serve forever" shape), then compared with the
    * exact rounded cosine ONLY against same-cluster vectors: everything
    * ACCEPTED so far plus its own batch (conservative smaller-id rule).
    * Survivors append (id, cluster, v, batch_id) to the accepted table;
    * storing the assignment makes the history side of every future
    * batch a read, not a recompute.
    *
    * A duplicate pair split across two reference clusters is missed by
    * construction — the SemDeDup paper's accepted boundary loss, same
    * as the batch operator. Per-batch candidate work is
    * batch×(admitted-in-cluster) + batch×batch within clusters — never
    * admitted×admitted. Idempotence: at-least-once foreachBatch replays
    * are no-ops via the id anti-join against the accepted table (the
    * q136 discipline). */
  def streamingSemDedupIngest(spark: SparkSession, vecs: DataFrame,
      threshold: Double, centroids: Array[Array[Double]],
      target: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val q = vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val path = new org.apache.hadoop.fs.Path(target)
          val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val history =
            if (fs.exists(path)) Some(spark.read.parquet(target)) else None
          val fresh0 = history.fold(batch.toDF())(h =>
            batch.join(h.select(col("did").as(idCol)), Seq(idCol), "left_anti"))
          // the reference assignment: same quantization + argmin kernel
          // as Clustering.kMeansAssign, centroids as codegen literals
          val qcol = transform(col(vecCol),
            x => round(x.cast("double") * 10000.0).cast("long"))
          val fresh = fresh0.select(col(idCol).cast("long").as("did"),
              col(vecCol).cast("array<double>").as("v"),
              graft.expressions.VectorFunctions.nearest_centroid(qcol, centroids)
                .getField("cid").as("cluster"))
            .localCheckpoint() // read by both reject joins + the append
          val rcos = (round(graft.operators.Similarity.cosine(
            col("a.v"), col("b.v")) * 1000000.0) / 1000000.0)
          val rejBatch = fresh.as("a").join(fresh.as("b"),
              col("a.cluster") === col("b.cluster") &&
                col("b.did") < col("a.did"))
            .where(rcos >= threshold).select(col("a.did")).distinct()
          val rejected = history match {
            case None => rejBatch
            case Some(h) =>
              val hv = h.select(col("did"), col("v"), col("cluster"))
              fresh.as("a").join(hv.as("b"),
                  col("a.cluster") === col("b.cluster"))
                .where(rcos >= threshold).select(col("a.did"))
                .union(rejBatch).distinct()
          }
          fresh.join(rejected, Seq("did"), "left_anti")
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(target)
          ()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming WebDataset ingestion — the multimodal LANDING-ZONE
    * pattern: training shards arrive as tar files; each scheduled
    * `Trigger.AvailableNow` run picks up only the shards landed since
    * the last run ([[graft.sources.TarShards.membersStream]]'s
    * file-source checkpoint), reassembles samples from the json/txt
    * member pairs executor-side, and appends them — tagged with the
    * micro-batch id — to the ingested table. Exactly-once per shard:
    * a re-processed shard would duplicate its samples AND shift
    * batch ids, which the q478 oracle hash turns into a loud failure.
    *
    * Each `waves(i)` is exported as tar shards ([[graft.sources.TarShards
    * .exportTarShards]]) and landed under a wave-unique prefix (the file
    * tracker keys by path); one AvailableNow run per wave against ONE
    * shared checkpoint. batch_id = the wave index parsed from the landed
    * file's `waveN-` prefix, NOT the micro-batch id — AvailableNow may
    * split a run into several micro-batches, and the boundary the
    * oracle pins is which landing wave a shard arrived in (the same
    * fix as [[warcIngestDemo]]). The temp root is deleted before
    * returning. */
  def tarShardIngestDemo(spark: SparkSession, waves: Seq[DataFrame],
      nShards: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-tar-ingest")
    val landing = root.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    waves.zipWithIndex.foreach { case (docs, i) =>
      val stage = root.resolve(s"stage_$i").toString
      graft.sources.TarShards.exportTarShards(docs, stage, nShards, salt)
      // an empty wave exports no shards and never creates the stage dir
      Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
        .foreach { f =>
          java.nio.file.Files.move(f.toPath,
            landing.resolve(s"wave$i-${f.getName}"))
        }
      val q = graft.sources.TarShards.membersStream(spark, landing.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: Dataset[graft.sources.TarMember], _: Long) =>
            // a shard without the waveN- prefix has no wave identity:
            // fail loudly (the warcIngestDemo discipline) instead of
            // silently landing null batch_ids
            val waveStr =
              regexp_extract(col("file"), "wave(\\d+)-[^/]*$", 1)
            val mem = batch.toDF()
              .withColumn("batch_id",
                when(waveStr === "", raise_error(concat(
                  lit("landed tar shard has no wave prefix: "),
                  col("file"))))
                  .otherwise(waveStr).cast("long"))
            val txt = mem.where(col("member").endsWith(".txt"))
              .select(regexp_extract(col("member"), "^(\\d+)\\.", 1)
                .cast("long").as("doc_id"),
                decode(col("content"), "UTF-8").as("text"),
                col("batch_id"))
            val meta = mem.where(col("member").endsWith(".json"))
              .select(from_json(decode(col("content"), "UTF-8"),
                org.apache.spark.sql.types.StructType.fromDDL(
                  "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"))
                .as("m"))
              .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"),
                col("m.source").as("source"), col("m.n_chars").as("n_chars"))
            txt.join(meta, Seq("doc_id"))
              .write.mode("append").parquet(out)
            ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val result = spark.read.parquet(out).localCheckpoint()
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(); ()
    }
    rmTree(root.toFile)
    result
  }

  /** Streaming WARC ingestion — [[tarShardIngestDemo]]'s landing-zone
    * pattern on the web-crawl format: each wave is exported as WARC
    * shards ([[graft.sources.WarcSource.exportWarc]]), landed under a
    * wave-unique prefix, and one `Trigger.AvailableNow` run per wave
    * against ONE shared checkpoint ingests exactly the newly-landed
    * shards. Response records are unwrapped to (doc_id from the target
    * URI, HTTP body) rows executor-side and appended with the WAVE id
    * parsed from the landed file's `waveN-` prefix — NOT the micro-batch
    * id: AvailableNow may split a run into several micro-batches
    * (maxFilesPerTrigger and friends), and the boundary the caller pins
    * is which LANDING WAVE a shard arrived in, which the filename
    * carries unambiguously. The temp landing/checkpoint root is deleted
    * before returning (the result is localCheckpoint-materialized
    * first). */
  def warcIngestDemo(spark: SparkSession, waves: Seq[DataFrame],
      nShards: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-warc-ingest")
    val landing = root.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    waves.zipWithIndex.foreach { case (docs, i) =>
      val stage = root.resolve(s"stage_$i").toString
      graft.sources.WarcSource.exportWarc(docs, stage, nShards, salt)
      Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".warc")).sortBy(_.getName)
        .foreach { f =>
          java.nio.file.Files.move(f.toPath,
            landing.resolve(s"wave$i-${f.getName}"))
        }
      val q = graft.sources.WarcSource.recordsStream(spark, landing.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: Dataset[graft.sources.WarcRecord], _: Long) =>
            import batch.sparkSession.implicits._
            batch.filter(_.warcType == "response")
              .map { r =>
                val (_, body) = graft.sources.WarcSource.httpParts(r.payload)
                val wave = "wave(\\d+)-[^/]*$".r
                  .findFirstMatchIn(r.file).map(_.group(1).toLong)
                  .getOrElse(throw new java.io.IOException(
                    s"landed WARC file has no wave prefix: ${r.file}"))
                (r.targetUri.split("/doc/")(1).toLong,
                  new String(body, java.nio.charset.StandardCharsets.UTF_8),
                  wave)
              }
              .toDF("doc_id", "body", "batch_id")
              .withColumn("n_bytes", length(col("body")).cast("long"))
              .write.mode("append").parquet(out)
            ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val result = spark.read.parquet(out).localCheckpoint()
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(); ()
    }
    rmTree(root.toFile)
    result
  }
}
