package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
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
    *   1. the batch's edge relation (long ids, self-pairs dropped) goes
    *      through the count gate ([[IterUtils.gatedCollect]]) at
    *      `maxDriverQuotient` edges. The batch's edge count bounds its
    *      quotient graph's (one quotient edge per distinct pair of
    *      touched components), so this gate is never looser than one on
    *      the quotient. `maxDriverQuotient = 0` forces the distributed
    *      path for every non-empty batch;
    *   2. at or under the gate the batch resolves ON THE DRIVER: one
    *      bounded lookup fetches the touched ids' current labels (the
    *      label table joined against a broadcast of the touched-id set,
    *      then collected — `id` is the table's key, so at most
    *      |touched| ≤ 2 × gate rows come back); the label map (unseen id
    *      → itself), the quotient graph over those labels and its
    *      union-by-min ([[IterUtils.unionByMin]]) run in memory, and so
    *      do the old→new label REMAP (changed labels only) and the
    *      INSERTS (fresh ids with their final label). Above the gate the
    *      same steps run distributed: the endpoints map through the
    *      labels in one join (materialized once, read by both quotient
    *      sides and the insert pass), and the quotient resolves with
    *      [[Dedup.duplicateClusters]] under the same gate — a dense merge
    *      pattern can carry quadratically more quotient edges than the
    *      remap rows it produces, so there only the remap reaches the
    *      driver;
    *   3. the remap is model-sized and broadcast: history rows of merged
    *      components relabel via one broadcast join, which runs inside
    *      the write;
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
    *      exists fully formed (manifest present) or not at all; its
    *      driver-built inserts are ONE partition, so it writes one file
    *      per bucket.
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
    * members is ever needed to keep labels canonical. It also makes the
    * driver path's emptiness test count-free: a batch changes the
    * sidecar iff it has a fresh id or a remap row, because with no fresh
    * id every remap key is a history label, and that label's own
    * (min-id) row carries it — so a non-empty remap always relabels at
    * least one row. The distributed path counts its materialized update
    * rows instead.
    *
    * SCALE: under the gate the CC work is batch-sized and on the driver,
    * and the only collects are the gate's (≤ `maxDriverQuotient` edges)
    * and the label lookup's (≤ 2 × `maxDriverQuotient` rows). Above it
    * the quotient CC + remap are touched-component-sized. On both paths
    * the history-proportional costs are column-pruned scans of the label
    * table — the label lookup and the relabel against a broadcast remap
    * (skipped when nothing is remapped) — and the write is
    * touched-partition-only. Replays converge: a re-run batch maps both
    * endpoints of every edge to one label, the quotient is empty, and no
    * rows change. */
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
    val edges = newPairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    // (id, cluster) rows to upsert — None when the batch changes nothing
    // — and the checkpoints they read, released after the write
    val (changes, held) = IterUtils.gatedCollect(edges, maxDriverQuotient) match {
      case Right(rows) => driverChanges(spark, history, rows)
      case Left(ck) => distributedChanges(history, ck, maxRounds, maxDriverQuotient)
    }
    // an all-self-pair / empty first batch must NOT initialize the state:
    // an entry-less manifest would make every later read's txn-union empty
    // — leave the sidecar uninitialized until there is a row to hold
    changes.foreach { rows =>
      val updates = rows
        .withColumn("bucket", pmod(col("id"), lit(buckets.toLong)).cast("int"))
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
    held.foreach(IterUtils.unpersistCheckpoint)
  }

  /** [[incrementalComponents]] at or under the gate: the collected batch
    * `edges` (u, v) resolve against the touched ids' current labels on
    * the driver. Returns the inserts plus the broadcast relabel of the
    * history — lazily checkpointed, so the upsert's two reads of it (its
    * touched-bucket set and its merge) relabel the history once — and
    * that checkpoint; None when neither a fresh id nor a changed label
    * exists (the canonical-min emptiness rule). */
  private def driverChanges(spark: org.apache.spark.sql.SparkSession,
      history: Option[DataFrame],
      edges: Array[Row]): (Option[DataFrame], Seq[DataFrame]) = {
    val es = edges.map(r => (r.getLong(0), r.getLong(1)))
    val touched = es.flatMap(e => Array(e._1, e._2)).distinct
    // the bounded lookup: `id` is the label table's key, so at most
    // |touched| rows come back. A map-side semi-join against a broadcast
    // variable — one job, where a broadcast-hinted join of a driver-built
    // relation pays a second job to broadcast it
    val current: Map[Long, Long] = history.fold(Map.empty[Long, Long]) { h =>
      val ids = spark.sparkContext.broadcast(touched.toSet)
      try h.select(col("id"), col("cluster")).rdd
        .filter(r => ids.value.contains(r.getLong(0)))
        .map(r => (r.getLong(0), r.getLong(1))).collect().toMap
      finally ids.destroy()
    }
    def label(id: Long): Long = current.getOrElse(id, id)
    val roots = IterUtils.unionByMin(
      es.map { case (u, v) => (label(u), label(v)) }.filter(e => e._1 != e._2)).toMap
    val remap = roots.filter { case (l, r) => l != r }
    val inserts = touched.filterNot(current.contains)
      .map(id => Row(id, roots.getOrElse(id, id)))
    if (inserts.isEmpty && remap.isEmpty) return (None, Nil)
    // ONE partition, so a first batch writes one file per bucket
    val insertDf = spark.createDataFrame(
      spark.sparkContext.parallelize(inserts.toSeq, 1),
      IterUtils.longSchema("id", "cluster"))
    history match {
      case Some(h) if remap.nonEmpty =>
        val remapDf = spark.createDataFrame(java.util.Arrays.asList(
            remap.toSeq.map { case (o, n) => Row(o, n) }: _*),
          IterUtils.longSchema("old_lbl", "new_lbl"))
        val updates = insertDf
          .unionByName(h.join(broadcast(remapDf), h("cluster") === col("old_lbl"))
            .select(h("id"), col("new_lbl").as("cluster")))
          .localCheckpoint(eager = false)
        (Some(updates), Seq(updates))
      case _ => (Some(insertDf), Nil)
    }
  }

  /** [[incrementalComponents]] above the gate, over the gate's
    * materialized `edges` checkpoint: the label join, the quotient and
    * [[Dedup.duplicateClusters]] run distributed. Returns the update rows
    * (None when their count is 0) and the checkpoints they read. */
  private def distributedChanges(history: Option[DataFrame],
      edges: DataFrame, maxRounds: Int,
      maxDriverQuotient: Long): (Option[DataFrame], Seq[DataFrame]) = {
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
    // m(m-1)/2 distinct label pairs against at most m-1 remap rows), so
    // it resolves through duplicateClusters' count gate: above
    // `maxDriverQuotient` edges the distributed CC resolves it and only
    // the remap reaches the driver. Either way the labels are
    // canonical-min: the quotient CC's min over merged labels is the min
    // member id.
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
    // probe must not re-run the join chain, and the write reads the
    // materialized blocks
    val updates = inserts.unionByName(relabeled).localCheckpoint(eager = false)
    (Some(updates).filter(_.count() != 0L), Seq(edges, mapped, updates))
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
