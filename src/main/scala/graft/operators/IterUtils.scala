package graft.operators

import org.apache.spark.sql.Dataset

/** Helpers for iterative driver loops over eagerly localCheckpoint'd
  * DataFrames (connected components, PageRank, BPE training), and the
  * count gate that routes a small relation to a driver replica instead.
  *
  * Each round of such a loop checkpoints its new iterate; the previous
  * round's blocks are dead the moment the new one is materialized, but
  * nothing frees them until the ContextCleaner notices the RDD is
  * unreferenced — GC-timing-dependent, so a 100-iteration production run
  * can hold O(rounds) block sets hostage. These helpers release the blocks
  * deterministically.
  */
private[graft] object IterUtils {

  /** Drop the persisted blocks behind an eagerly `localCheckpoint()`'d
    * frame. Only call this on frames produced DIRECTLY by
    * `df.localCheckpoint()` (whose analyzed plan is the single
    * `LogicalRDD` leaf holding the persisted RDD), and only once every
    * downstream consumer has either materialized its own checkpoint or
    * finished its action — after this the frame can no longer be
    * recomputed. Non-blocking: the executors free blocks asynchronously.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  // -------------------------------------------------------------------
  // The COUNT GATE shared by every iterative family with a driver
  // replica (duplicateClusters; incrementalComponents, which gates its
  // batch edges and, above that gate, its quotient through
  // duplicateClusters; the k-core peel, Brandes betweenness, PageRank
  // and label propagation in GraphOps; BPE training; TextRank). At or
  // under the gate the small relation is collected once and the loop
  // runs in memory, replicating the distributed program's arithmetic;
  // above it the distributed loop runs, so at corpus scale the gate
  // simply never fires. The helpers below are what those replicas
  // share: the union-by-min CC, driver-built long frames, and the Spark
  // semantics they copy by hand (string sort order, Round(x, 0), dense
  // id interning).
  // -------------------------------------------------------------------

  /** Default row cap of every count gate: 2^20 rows, i.e. 16 MB of long
    * pairs — driver-safe at any corpus scale. */
  val MaxDriverRows: Long = 1L << 20

  /** Lazily checkpoints `ds` and counts it — the gate and the
    * materializing action in one job. At or under `maxRows` the rows
    * are collected from the frozen blocks (the plan never re-runs) and
    * the checkpoint is released: `Right(rows)`. Above it the
    * materialized checkpoint is handed back, `Left(ck)`; the caller
    * owns it and either continues its distributed loop on it or
    * releases it ([[collectIfSmall]]). */
  def gatedCollect[T](ds: Dataset[T],
      maxRows: Long): Either[Dataset[T], Array[T]] = {
    val ck = ds.localCheckpoint(eager = false)
    if (ck.count() > maxRows) Left(ck)
    else {
      val rows = ck.collect()
      unpersistCheckpoint(ck)
      Right(rows)
    }
  }

  /** [[gatedCollect]] for callers whose distributed loop restarts from
    * the raw plan: above the gate the checkpoint is released and the
    * result is `None`. */
  def collectIfSmall[T](ds: Dataset[T], maxRows: Long): Option[Array[T]] =
    gatedCollect(ds, maxRows) match {
      case Right(rows) => Some(rows)
      case Left(ck) => unpersistCheckpoint(ck); None
    }

  /** Connected components of a driver-side long edge list: one
    * path-compressed union-find whose merges keep the SMALLER root, so
    * every endpoint maps to the min id of its component — the fixpoint
    * of min-label propagation, i.e. the canonical-min labels the
    * distributed CC loops produce. Returns (endpoint, root) for every
    * distinct endpoint, in first-seen order. */
  def unionByMin(edges: Iterable[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.toArray.map(x => (x, find(x)))
  }

  /** Non-null long columns for a frame the driver builds from `Row`s.
    * `createDataFrame(rows, schema)` converts through the schema; a
    * `Seq[(Long, Long)].toDF` instead derives a product encoder through
    * Scala runtime reflection on every call. */
  def longSchema(names: String*): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    StructType(names.map(StructField(_, LongType, nullable = false)))
  }

  /** Spark's string SortOrder on the driver: byte-wise UTF-8 (code-point
    * order) — NOT String.compareTo's UTF-16 code-unit order, which
    * diverges for supplementary characters. */
  def utf8Compare(a: String, b: String): Int = {
    import org.apache.spark.unsafe.types.UTF8String
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  }

  /** Spark's Round(x, 0) on a double, exactly: decimal HALF_UP over the
    * canonical Double.toString representation (Catalyst RoundBase's
    * DoubleType branch). */
  def sparkRound(x: Double): Double =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** Dense ids for a driver replica: `apply` maps each distinct value to
  * 0, 1, 2, ... in first-seen order; `ids(i)` maps back. */
private[operators] final class IdInterner {
  private val idx = scala.collection.mutable.HashMap.empty[Any, Int]
  val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
  def apply(v: Any): Int = idx.getOrElseUpdate(v, { ids += v; ids.size - 1 })
}

/** Periodic checkpoint discipline for CHAIN-shaped fixed-round loops —
  * loops whose iterate is referenced exactly ONCE per round (PageRank,
  * Katz, TextRank), so the un-checkpointed lineage grows LINEARLY in
  * rounds, never doubles. Such loops don't need a materialization job
  * per round: plan depth and the failure domain are the only reasons to
  * cut the chain, so one checkpoint every `every` rounds (and on the
  * final round, so the caller may release the loop-invariant relations)
  * bounds both while deleting the per-round job launch + block-store
  * write/read of the eager-per-round form. NOT for loops that read the
  * iterate twice per round (label propagation's restore join, BFS's
  * visited union, eigenvector's normalization) — there the per-round
  * checkpoint is what stops the plan doubling. */
private[graft] final class ChainCheckpointer(every: Int = 8) {
  private var live: Dataset[_] = null

  /** Feed the round-`i` iterate; returns what the next round should
    * build on — materialized on schedule (or when `last`), the raw
    * lazy chain otherwise. Superseded periodic checkpoints are released
    * the moment their successor is materialized. */
  def round[T](df: Dataset[T], i: Int, last: Boolean): Dataset[T] =
    if (i % every == 0 || last) {
      val ck = df.localCheckpoint()
      if (live != null) IterUtils.unpersistCheckpoint(live)
      live = ck
      ck
    } else df

  /** Release the surviving periodic checkpoint, if any — for callers
    * whose OWN downstream checkpoint is the final materializer (so the
    * loop never ran a `last = true` round). Only call once every
    * consumer of the chain has materialized. */
  def release(): Unit = {
    if (live != null) IterUtils.unpersistCheckpoint(live)
    live = null
  }
}
