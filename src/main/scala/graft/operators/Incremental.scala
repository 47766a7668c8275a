package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-maintenance primitives: mergeable aggregate states and
  * snapshot diffing — the operators that keep 100 TB derived tables fresh
  * by touching only deltas.
  */
object Incremental {

  /** Mergeable per-key aggregate STATE (count + per-column sums) — the
    * partial-aggregation algebra Spark uses inside a shuffle, promoted to
    * a table primitive: state(base ∪ delta) == merge(state(base),
    * state(delta)), so a monthly delta updates a corpus-wide aggregate
    * with one delta-sized job instead of a full recompute. Derived
    * metrics (avg = sum/count) come from [[finish]], never stored. */
  def aggState(df: DataFrame, keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    // per-column non-null counts ride along so finish() can derive true
    // SQL-AVG semantics (sum / count of NON-NULL values, not row count)
    val aggs = count(lit(1)).as("n") +:
      sumCols.flatMap(c => Seq(sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"cnt_$c")))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two states with identical schemas (n + sum_* columns). */
  def mergeStates(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val sums = a.columns.filterNot(keys.contains).toSeq
    a.unionByName(b).groupBy(keys.map(col): _*)
      .agg(sum(col(sums.head)).as(sums.head),
        sums.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Final metrics off a state: per-column sum and mean (mean = sum over
    * the column's NON-NULL count, matching SQL AVG). */
  def finish(state: DataFrame, keys: Seq[String]): DataFrame = {
    val sums = state.columns.filter(_.startsWith("sum_")).toSeq
    state.select((keys.map(col) :+ col("n")) ++
      sums.flatMap { c =>
        val base = c.stripPrefix("sum_")
        Seq(col(c), (col(c) / col(s"cnt_$base")).as(s"avg_$base"))
      }: _*)
  }

  /** Snapshot diff (CDC): classify every key of two table versions as
    * insert / delete / update, dropping unchanged rows. Comparison is
    * null-safe over all shared non-key columns.
    *
    * SCALE: one full-outer hash join on the key — both sides shuffle
    * once; at real scale run it per partition (date) like the upsert.
    * Emits the NEW row's values (null for deletes). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = oldDf.columns.filterNot(keys.contains)
      .intersect(newDf.columns.filterNot(keys.contains)).toSeq
    val o = oldDf.select((keys ++ valueCols).map(col): _*).as("o")
    val n = newDf.select((keys ++ valueCols).map(col): _*).as("n")
    val keyCond = keys.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _)
    // key-only tables have no value columns: rows are never "updated",
    // but insert/delete classification still applies
    val same = valueCols.map(c => col(s"o.$c") <=> col(s"n.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val oldKey = col(s"o.${keys.head}"); val newKey = col(s"n.${keys.head}")
    o.join(n, keyCond, "full_outer")
      .withColumn("change",
        when(oldKey.isNull, "insert")
          .when(newKey.isNull, "delete")
          .when(!same, "update"))
      .where(col("change").isNotNull)
      .select(keys.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k)) ++
        Seq(col("change")) ++ valueCols.map(c => col(s"n.$c").as(c)): _*)
  }

  /** SCD Type-2 apply (Kimball slowly-changing dimension): fold a new
    * staged snapshot into a VERSIONED dimension. Each key's history is
    * a chain of rows with (valid_from, valid_to, is_current): an
    * unseen key opens a row; a key whose attributes changed closes the
    * current row at `batchId` and opens the new version; a key absent
    * from the snapshot closes its current row (a delete); unchanged
    * keys pass through untouched. Built on [[snapshotDiff]] (current
    * slice vs staged), so change classification is null-safe and
    * key-only-safe. Re-running the same batch is idempotent: the diff
    * is empty the second time.
    *
    * SCALE: one full-outer key join (the diff) + two key-keyed semi /
    * anti joins + unions — no windows, no driver state; history rows
    * stream through untouched, so cost is proportional to the CURRENT
    * slice + the batch, not the accumulated history depth. */
  def scd2Apply(dim: DataFrame, staged: DataFrame, keys: Seq[String],
      batchId: Long, fromCol: String = "valid_from",
      toCol: String = "valid_to", curCol: String = "is_current"): DataFrame = {
    val attrs = dim.columns.filterNot(c => keys.contains(c) ||
      c == fromCol || c == toCol || c == curCol).toSeq
    val current = dim.where(col(curCol))
    val history = dim.where(!col(curCol))
    val diff = snapshotDiff(
      current.select((keys ++ attrs).map(col): _*),
      staged.select((keys ++ attrs).map(col): _*), keys)
      .localCheckpoint() // feeds the close gate AND the open rows
    val changedKeys = diff.where(col("change").isin("update", "delete"))
      .select(keys.map(col): _*)
    val closed = current.join(changedKeys, keys, "left_semi")
      .withColumn(toCol, lit(batchId))
      .withColumn(curCol, lit(false))
    val untouched = current.join(changedKeys, keys, "left_anti")
    val opened = diff.where(col("change").isin("insert", "update"))
      .select((keys ++ attrs).map(col): _*)
      .withColumn(fromCol, lit(batchId))
      .withColumn(toCol, lit(null).cast("long"))
      .withColumn(curCol, lit(true))
    history.unionByName(closed).unionByName(untouched).unionByName(opened)
  }

  /** Incremental connected-components label maintenance — the missing
    * piece between the batch cluster builder ([[Dedup.duplicateClusters]])
    * and the incremental ADMISSION operators ([[Dedup.incrementalDedup]],
    * [[Dedup.incrementalNearDup]]): a durable (id, cluster) sidecar that
    * absorbs each new batch of near-dup pairs WITHOUT re-running
    * connected components over the accumulated pair history. Labels stay
    * canonical (cluster = smallest member id of the component), so the
    * sidecar is at every moment exactly what a batch CC over the union
    * of all batches would produce — the register row's oracle.
    *
    * Per batch:
    *   1. map the batch edges' endpoints through the existing labels
    *      (unseen node → itself);
    *   2. build the QUOTIENT graph over those labels (one edge per pair
    *      of distinct touched components) and resolve its components with
    *      [[Dedup.duplicateClusters]] under the same count gate
    *      (`maxDriverQuotient`, [[IterUtils.gatedCollect]]): at or under
    *      it the quotient is collected and resolved by the driver
    *      union-find, above it by the distributed CC — the quotient EDGE
    *      set is bounded by the batch's distinct label-pair count
    *      (≤ batch edges), but a dense merge pattern can carry
    *      quadratically more edges than the remap rows it produces, so
    *      above the gate only the remap ever reaches the driver;
    *   3. the resulting old→new label remap (changes only) is
    *      model-sized and broadcast: new nodes insert with their
    *      remapped label, and history rows of merged components relabel
    *      via one broadcast join;
    *   4. the delta lands through the partition-pruned keyed upsert
    *      committed via the MANIFEST ([[graft.sources.ManifestCommit
    *      .upsertManifested]]) into an id-bucketed table, so the WRITE
    *      touches only buckets holding changed rows AND publication is a
    *      single atomic manifest rename: a maintenance batch that crashes
    *      anywhere — mid-relabel, mid-write, between buckets — leaves the
    *      previous snapshot fully visible and the half-written txn dir
    *      unreferenced (directory-swap durability would expose a
    *      half-relabeled history on object stores without atomic rename).
    *      The FIRST batch publishes the same way, so the sidecar either
    *      exists fully formed (manifest present) or not at all.
    *
    * Every batch adds one manifest GENERATION and [[graft.sources
    * .ManifestCommit.readManifested]] plans one scan per live
    * generation. The manifest maps each BUCKET to one txn, so the live
    * generation count is structurally capped at `buckets` — planning
    * fan-out plateaus there rather than growing forever — but a stream
    * of batches still pins the plateau (`buckets` scans on every read)
    * and keeps that many txn generations live. Once the live count
    * exceeds min(`maxGenerations`, `buckets`/2) — the cap makes a
    * threshold at or above `buckets` unreachable, so it is clamped to
    * stay meaningful for ANY bucket count — the state compacts back to
    * one generation ([[graft.sources.ManifestCommit
    * .compactManifestedDerived]], a bucket-partitioned rewrite
    * amortized over the batches between triggers). Readers are never
    * disturbed: compaction is itself one atomic manifest publish.
    *
    * Canonical-min invariant: a history label is the min id of its old
    * component and a fresh node's label is itself, so the quotient CC's
    * min over merged labels IS the global min member id — no rescan of
    * members is ever needed to keep labels canonical.
    *
    * SCALE: quotient CC + remap are batch/touched-component-sized; the
    * relabel pass is one column-pruned scan of the label table against a
    * broadcast remap (the one history-proportional cost — the scan, not
    * the CC), and the write is touched-partition-only. Replays converge:
    * a re-run batch maps both endpoints of every edge to one label, the
    * quotient is empty, and no rows change. */
  def incrementalComponents(spark: org.apache.spark.sql.SparkSession,
      statePath: String, newPairs: DataFrame, buckets: Int = 16,
      maxRounds: Int = 25, maxGenerations: Int = 16,
      maxDriverQuotient: Long = IterUtils.MaxDriverRows): Unit = {
    // existence == a published manifest version; a crashed first batch's
    // partial txn dir (no manifest) reads as "uninitialized", never as
    // truncated history
    val history: Option[DataFrame] = graft.sources.ManifestCommit
      .currentSnapshot(spark, statePath)
      .map(_ => readComponents(spark, statePath))
    // LAZY checkpoint: `mapped`'s eager checkpoint below is the first
    // action and its node-set distinct scans every edge partition, so it
    // doubles as the materializer — one job fewer per batch; the quotient
    // joins then read the frozen blocks
    val edges = newPairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .localCheckpoint(eager = false) // feeds the node set and both quotient joins
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct()
    // node -> current label; `fresh` marks ids the sidecar has never seen
    val mapped = (history match {
      case None => nodes.select(col("id"), col("id").as("lbl"),
        lit(true).as("fresh"))
      case Some(h) => nodes
        .join(h.select(col("id"), col("cluster")), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("lbl"),
          col("cluster").isNull.as("fresh"))
    }).localCheckpoint() // read by both quotient sides + the insert pass
    val quotient = edges
      .join(mapped.select(col("id").as("u"), col("lbl").as("la")), Seq("u"))
      .join(mapped.select(col("id").as("v"), col("lbl").as("lb")), Seq("v"))
      .select(least(col("la"), col("lb")).as("id_a"),
        greatest(col("la"), col("lb")).as("id_b"))
      .where(col("id_a") =!= col("id_b")).distinct()
    // old->new label changes only — bounded by the batch's touched
    // components, hence broadcastable by construction. The quotient EDGE
    // set is NOT similarly bounded (m touched components can carry up to
    // m(m-1)/2 distinct label pairs against at most m-1 remap rows, and a
    // fresh-heavy first batch's quotient is the whole deduped batch edge
    // set), so it resolves through duplicateClusters' count gate: the
    // gate's lazy checkpoint + count materializes the two label joins
    // once, and at or under `maxDriverQuotient` edges the driver
    // union-find — one path-compressed pass instead of a per-batch
    // pointer-jumping cascade of ~12 tiny jobs (measured at sf0.1:
    // ~0.4 s and ~14 jobs per maintenance batch) — resolves it; above
    // the gate the distributed CC does, and only the remap reaches the
    // driver. Either way the labels are canonical-min: the quotient CC's
    // min over merged labels is the min member id.
    val remap = Dedup.duplicateClusters(quotient, maxRounds,
        maxDriverEdges = maxDriverQuotient)
      .where(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("old_lbl"), col("cluster").as("new_lbl"))
    val inserts = mapped.where(col("fresh"))
      .join(broadcast(remap), col("lbl") === col("old_lbl"), "left")
      .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("cluster"))
    val relabeled = history.fold(inserts.limit(0)) { h =>
      h.join(broadcast(remap), h("cluster") === col("old_lbl"))
        .select(h("id"), col("new_lbl").as("cluster"))
    }
    // lazy checkpoint: the emptiness probe is a full count (never
    // short-circuits) and doubles as the materializing action — the
    // probe must not re-run the join chain, and the write below reads
    // the materialized blocks
    val updates = inserts.unionByName(relabeled)
      .withColumn("bucket", pmod(col("id"), lit(buckets.toLong)).cast("int"))
      .localCheckpoint(eager = false)
    // an all-self-pair / empty first batch must NOT initialize the state:
    // an entry-less manifest would make every later read's txn-union empty
    // — leave the sidecar uninitialized until there is a row to hold
    if (updates.count() != 0L) {
      if (history.isEmpty)
        graft.sources.ManifestCommit.overwriteViaManifest(spark, statePath,
          Seq("bucket"), replaceAll = true) { txn =>
          updates.write.partitionBy("bucket").parquet(txn)
        }
      else {
        val snap = graft.sources.ManifestCommit.upsertManifested(spark,
          statePath, updates, Seq("id"), Seq("bucket"))
        // clamp below the structural cap (generations <= buckets), or a
        // threshold >= buckets would silently never fire
        val trigger = math.max(1, math.min(maxGenerations, buckets / 2))
        if (snap.entries.values.toSet.size > trigger) {
          graft.sources.ManifestCommit.compactManifestedDerived(spark,
            statePath, Seq("bucket"))
          // retention rides the same trigger: every batch adds a manifest
          // version + txn dir, and snapshotAt lists the whole _manifests
          // dir per read — without a vacuum the listing cost of a
          // long-running stream grows O(batches). Manifest pruning is
          // immediate (keeps the newest 10 versions time-travel-readable);
          // txn-dir deletion stays behind vacuum's 24h min-age, so a
          // concurrent reader of a just-retired version never loses files
          // mid-scan.
          graft.sources.ManifestCommit.vacuum(spark, statePath)
          ()
        }
      }
    }
    IterUtils.unpersistCheckpoint(edges)
    IterUtils.unpersistCheckpoint(mapped)
    IterUtils.unpersistCheckpoint(updates)
  }

  /** Reads the incremental-components sidecar at its current manifest
    * version — the read twin of [[incrementalComponents]]'s commit
    * protocol (a plain directory read would also pick up unreferenced
    * crashed-txn files). */
  def readComponents(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    graft.sources.ManifestCommit.readManifested(spark, statePath)

  /** Persisted Bloom-filter sidecar: the accepted-table's membership
    * filter written as a versioned (idx, word) parquet table so the NEXT
    * ingest run LOADS the filter instead of rebuilding it from the full
    * history — filter maintenance is then OR-merge of the new batch's
    * words ([[Sketches.bloomMerge]]) plus one model-sized write, cost
    * proportional to the batch forever. The on-disk form is plain
    * parquet (engine-portable, versioned like the manifest tables), and
    * the filter is only ever a GATE — admission stays exact via the
    * anti-join verify, so a lost/stale sidecar can cost performance,
    * never correctness.
    *
    * SCALE: the words table is m/64 rows (2,048 longs at m=2^17 —
    * model-sized); save coalesces to one file, load collects the same
    * bounded rowset. */
  def saveBloomWords(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Long, words: Array[Long]): Unit = {
    import spark.implicits._
    words.toSeq.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("idx", "word").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/v$version")
  }

  def loadBloomWords(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Long): Array[Long] =
    spark.read.parquet(s"$root/v$version").orderBy("idx")
      .collect().map(_.getLong(1))

  /** The (idx, word) sidecar layout is register-agnostic — the same
    * versioned parquet carries ANY fixed-width integer register table.
    * Named aliases for the HLL maintenance flow (q451): registers
    * merge by element-wise MAX (associative like the bloom OR), so the
    * loaded sidecar absorbs each batch without rescanning history. */
  def saveRegisters(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Long, regs: Array[Long]): Unit =
    saveBloomWords(spark, root, version, regs)

  def loadRegisters(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Long): Array[Long] =
    loadBloomWords(spark, root, version)
}
