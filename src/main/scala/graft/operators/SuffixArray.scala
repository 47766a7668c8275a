package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed truncated suffix array by prefix doubling (Manber &
  * Myers 1990), word-granular — the exact-substring index behind
  * "Deduplicating Training Data Makes Language Models Better" (Lee et
  * al. 2022, arXiv:2107.06499): after ⌈log₂ D⌉ rounds every corpus
  * position carries the dense rank of its depth-D word prefix, so
  * positions sharing a rank share an exact D-word window — duplicate
  * detection with NO hashing (collision-free, unlike MinHash/rolling
  * hashes) and NO D-word string materialization.
  *
  * Why prefix doubling at cluster scale: the naive alternative shuffles
  * every D-word window (D × corpus tokens of STRING payload, the q109
  * rolling-hash shape but exact) — this instead shuffles ⌈log₂ D⌉
  * rounds of fixed-width (rank, rank) LONG pairs, each round one hash
  * exchange on `doc` with an in-partition slide to (doc, off+k) — no
  * join, no driver round trip — plus one range-partitioned dense rank.
  * Rank width is independent of D: doubling the window depth adds ONE
  * round, not another corpus copy.
  *
  * The dense rank rides the [[DistributedRank]] two-phase discipline
  * (range partition + sort, bounded per-partition boundary collect,
  * broadcast offsets, map-side assignment) and — the round-17
  * composition contract — reads its partition index from the RDD's OWN
  * `mapPartitionsWithIndex` split, never `TaskContext.getPartitionId()`,
  * so results are invariant under downstream union/coalesce.
  *
  * Suffix semantics: suffixes are PER DOCUMENT (no cross-document
  * run-on, the corpus-concatenation separators of the paper made
  * implicit); a suffix shorter than the comparison horizon extends with
  * a sentinel that sorts before every real word, so equal ranks mean
  * "equal depth-D prefixes, including equal early termination".
  *
  * DEPTH COST MODEL (measured at sf1, DESIGN.md round 18): depth is
  * power-of-two by the doubling contract; Lee et al.'s ≥50-token
  * production setting maps to depth=64. Cost grows in ROUNDS =
  * log₂(depth), not in depth itself: shuffle volume 256→439 MB
  * (×1.71) and ~9-10 extra jobs per extra round from depth 8→64 on the
  * sf1 corpus (measured while the shift still ran a range exchange and
  * a boundary collect of its own, two jobs per round more than now),
  * zero spill at every depth (rows never widen). Deeper
  * windows simultaneously shrink downstream duplicate-span mass, so
  * end-to-end [[exactSubstrDedup]] cost moves sub-linearly in rounds.
  */
object SuffixArray {

  /** (doc, off, word) token positions, 0-based offsets. The same
    * whitespace tokenization every oracle twin uses
    * (`string_split(text, ' ')`). */
  def tokens(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc"),
        posexplode(split(col(textCol), " ")).as(Seq("off", "word")))
      .select(col("doc"), col("off").cast("long").as("off"), col("word"))

  /** Dense rank of the depth-`depth` word prefix of every suffix:
    * returns (doc, off, rank) where rank ∈ [1, #distinct prefixes] and
    * equal ranks ⟺ identical depth-bounded prefixes. Early-exits the
    * doubling once every rank is unique (the full suffix order is then
    * resolved — deeper rounds cannot split further). */
  def rankPrefixes(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", depth: Int = 8,
      partitions: Int = 0): DataFrame =
    rankPrefixesFromToks(
      tokens(docs, idCol, textCol).localCheckpoint(eager = false),
      depth, partitions)

  /** Scale-adaptive partition sizing for the doubling loop's range
    * exchanges when `partitions` is not given explicitly. The count is
    * EXPLICIT in every repartitionByRange, so AQE coalescing never sees
    * it — it must be derived from the measured position count, not the
    * session's shuffle-partition constant:
    *
    *   max(ceil(nPos / RowsPerRangePart),            // memory/size term
    *       min(defaultParallelism, ceil(nPos / MinRowsPerRangePart)))
    *
    * The size term keeps partitions at ~4M rows (~100-160 MB of
    * (doc, off, word/rank) rows) — a 25T-token corpus gets the millions
    * of partitions its bytes need regardless of core count. The floor
    * term spreads small corpora over the cores WITHOUT slicing below
    * ~32k rows/task, where scheduling outweighs the sort (measured both
    * ways at sf0.1: 32 partitions = 8k-row slivers, and 1 partition
    * strangles every downstream consumer that inherits the layout —
    * both slower than ~9). Ranks are partition-count-invariant by the
    * boundary stitch, spec-pinned, so only speed rides on this. */
  private val RowsPerRangePart = 4L * 1024 * 1024
  private val MinRowsPerRangePart = 32L * 1024

  /** [[rankPrefixes]] over an ALREADY-CHECKPOINTED token table — the
    * seam that lets [[duplicateWindows]] / [[exactSubstrDedup]] reuse
    * ONE materialized (doc, off, word) relation for the doubling rounds,
    * the completeness filter, and the text-reconstruction join, instead
    * of re-running the corpus split+posexplode per consumer (the token
    * table was already held in checkpoint storage for the rounds, so
    * sharing it adds no storage — it only deletes whole corpus passes). */
  private[graft] def rankPrefixesFromToks(toks: DataFrame, depth: Int,
      partitions: Int): DataFrame = {
    require(depth >= 1 && (depth & (depth - 1)) == 0,
      s"depth=$depth must be a power of two (prefix doubling)")
    val spark = toks.sparkSession
    // the token count is a full scan, so it doubles as the checkpoint's
    // materializing action (callers pass a LAZY checkpoint)
    val nPos = toks.count()
    if (nPos == 0L) // empty corpus: the word round's stitch has no stats row
      return toks.select(col("doc"), col("off"), lit(0L).as("rank")).limit(0)
    // scale-adaptive partition count: from the measured position count,
    // unless the caller pinned one (see RowsPerRangePart)
    val nParts = if (partitions > 0) partitions
      else math.max(
        (nPos + RowsPerRangePart - 1) / RowsPerRangePart,
        math.min(spark.sparkContext.defaultParallelism.toLong,
          math.max(1L,
            (nPos + MinRowsPerRangePart - 1) / MinRowsPerRangePart))).toInt
    // round 0: rank = dense rank of the word itself, by the SAME two-phase
    // range-partition + boundary-stitch discipline as every doubling round
    // — one corpus range exchange where the old RDD cascade paid a vocab
    // distinct exchange, a sortBy sample pass, a zipWithIndex count job
    // and a corpus-wide join back on `word`. The stitch's group count is
    // the all-distinct early-exit signal, so the word round also sheds
    // its separate max(rank) probe job.
    val (r0, groups0, ckpt0) = denseRankWordsCounted(toks, nParts)
    var ranked = r0
    // `live` = the ranged checkpoint the current `ranked` maps over; each
    // round releases the superseded one DETERMINISTICALLY the moment its
    // successor is materialized (ContextCleaner timing held O(rounds)
    // position-table-sized block sets otherwise)
    var live = ckpt0
    var k = 1L
    var distinct = groups0 == nPos
    while (k < depth && !distinct) {
      // pair each position's rank with the rank k positions ahead in the
      // SAME document; -1 = past the end, sorting before every real rank.
      // `df` needs NO checkpoint of its own: it is a pure map-side rank
      // assignment over the (r1, r2)-ranged relation that
      // denseRankPairsCounted already materialized in checkpoint storage,
      // so every downstream pass (the next round's shift exchange, or the
      // caller's joins) replays only that cheap map over
      // cached blocks — checkpointing it again cost one extra job per
      // round and doubled the stored bytes.
      val shifted = shiftRanks(ranked, k.toInt, nParts)
      val (df, groups, dCkpt) = denseRankPairsCounted(shifted, nParts)
      // the slide reads `live` lazily; the stats collect has now
      // materialized dCkpt, so the previous round's checkpoint is dead
      IterUtils.unpersistCheckpoint(live)
      live = dCkpt
      ranked = df
      distinct = groups == nPos
      k *= 2
    }
    // `live` stays persisted: the returned frame is a map over it
    ranked
  }

  /** Dense rank of the WORD at every position — round 0 of the doubling.
    * Range partition by (word, doc, off) — equal words may span partition
    * boundaries (which spreads a hot word where a hash join on `word`
    * could not) and the driver stitch merges the split runs — then the
    * same bounded (first, last, #groups) collect, stitch, and map-side
    * assignment as [[denseRankPairsCounted]]. Returns (doc, off, rank) as
    * a pure map over the ranged checkpoint, the TOTAL group count (the
    * all-distinct early-exit signal, zero extra jobs), and the backing
    * checkpoint for deterministic release. */
  private[graft] def denseRankWordsCounted(toks: DataFrame,
      nParts: Int): (DataFrame, Long, DataFrame) = {
    val spark = toks.sparkSession
    // lazy checkpoint, materialized by the stats pass (a full scan)
    val ranged = toks
      .repartitionByRange(nParts, col("word"), col("doc"), col("off"))
      .sortWithinPartitions(col("word"), col("doc"), col("off"))
      .localCheckpoint(eager = false)
    val cols = ranged.columns
    val (iDoc, iOff, iWord) =
      (cols.indexOf("doc"), cols.indexOf("off"), cols.indexOf("word"))
    val stats = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var first: String = null
      var last: String = null
      var any = false
      var groups = 0L
      it.foreach { r =>
        val key = r.getString(iWord)
        if (!any) { first = key; any = true; groups = 1L; last = key }
        else if (key != last) { groups += 1; last = key }
      }
      if (!any) Iterator.empty
      else Iterator((pid, first: AnyRef, last: AnyRef, groups))
    }.collect()
    val (bases, cum) = stitchBases(stats)
    val bc = spark.sparkContext.broadcast(bases)
    val outSchema = StructType(Seq(
      StructField("doc", LongType, nullable = false),
      StructField("off", LongType, nullable = false),
      StructField("rank", LongType, nullable = false)))
    val out = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      val base = bc.value.getOrElse(pid, 0L)
      var local = 0L
      var last: String = null
      var any = false
      it.map { r =>
        val key = r.getString(iWord)
        if (!any || key != last) { local += 1; any = true }
        last = key
        Row(r.getLong(iDoc), r.getLong(iOff), base + local)
      }
    }
    (spark.createDataFrame(out, outSchema), cum, ranged)
  }

  /** Driver stitch shared by the word round and the pair rounds: a group
    * spanning a partition boundary is counted in both partitions — the
    * later partition's base drops by one so its first local group
    * resolves to the SAME global rank. Input must be stats in partition
    * order; returns (per-partition bases, total group count). */
  private def stitchBases(statsUnsorted: Array[(Int, AnyRef, AnyRef, Long)])
      : (Map[Int, Long], Long) = {
    val stats = statsUnsorted.sortBy(_._1)
    var cum = 0L
    var prevLast: AnyRef = null
    val bases = scala.collection.mutable.Map.empty[Int, Long]
    stats.foreach { case (pid, first, last, groups) =>
      val continues = prevLast != null && first == prevLast
      bases(pid) = if (continues) cum - 1 else cum
      cum += groups - (if (continues) 1 else 0)
      prevLast = last
    }
    (bases.toMap, cum)
  }

  /** (doc, off, r1, r2) where r2 is the rank at (doc, off + k), or -1
    * past the document end — WITHOUT the self-join the textbook round
    * would run (whose both sides shuffle the whole position table).
    * One hash exchange on `doc` puts every document whole into one
    * partition, and the in-partition sort on (doc, off) lays it out in
    * offset order. Offsets are DENSE per document, so the row k positions
    * ahead carries offset off+k whenever it shares the doc: a map-side
    * slide with a (k+1)-row buffer pairs every position with no driver
    * round trip — no range sampling, no boundary collect, no
    * cross-partition continuation. Trade-off: one task sorts a whole
    * document, so a partition is at least its longest document; Spark's
    * sorter spills, and the slide itself holds only k+1 rows. The result
    * is lazy: it reads `ranked`'s backing checkpoint, which must stay
    * persisted until the consumer has materialized its own. */
  private[graft] def shiftRanks(ranked: DataFrame, k: Int,
      nParts: Int): DataFrame = {
    val ranged = ranked.repartition(nParts, col("doc"))
      .sortWithinPartitions(col("doc"), col("off"))
    val cols = ranged.columns
    val (iDoc, iOff, iRank) =
      (cols.indexOf("doc"), cols.indexOf("off"), cols.indexOf("rank"))
    val outSchema = StructType(Seq(
      StructField("doc", LongType, nullable = false),
      StructField("off", LongType, nullable = false),
      StructField("r1", LongType, nullable = false),
      StructField("r2", LongType, nullable = false)))
    val kk = k
    val out = ranged.rdd.mapPartitions { it =>
      val rows = it.map(r => (r.getLong(iDoc), r.getLong(iOff), r.getLong(iRank)))
      val buf = scala.collection.mutable.Queue.empty[(Long, Long, Long)]
      new Iterator[Row] {
        def hasNext: Boolean = buf.nonEmpty || rows.hasNext
        def next(): Row = {
          while (rows.hasNext && buf.size < kk + 1) buf.enqueue(rows.next())
          val (doc, off, r1) = buf.dequeue()
          // dense offsets: the row kk ahead is (doc, off+kk) iff it exists
          // and shares the doc — rows between are same-doc
          val r2 = if (buf.size >= kk && buf(kk - 1)._1 == doc) buf(kk - 1)._3
            else -1L
          Row(doc, off, r1, r2)
        }
      }
    }
    ranked.sparkSession.createDataFrame(out, outSchema)
  }

  /** Distributed dense rank over the total order (r1, r2): range
    * partition + in-partition sort, ONE bounded collect of per-partition
    * (first key, last key, group count), a driver stitch for runs that
    * span partition boundaries, and a map-side assignment pass keyed by
    * the RDD's own split index. Input: (doc, off, r1, r2); output:
    * (doc, off, rank). */
  private[graft] def denseRankPairs(df: DataFrame, nParts: Int): DataFrame =
    denseRankPairsCounted(df, nParts)._1

  /** [[denseRankPairs]] plus the TOTAL group count the driver stitch
    * derives anyway — the early-exit signal (all ranks distinct) with
    * zero additional jobs — plus the ranged backing checkpoint for
    * deterministic release by the caller. */
  private[graft] def denseRankPairsCounted(df: DataFrame,
      nParts: Int): (DataFrame, Long, DataFrame) = {
    val spark = df.sparkSession
    // lazy checkpoint, materialized by the stats pass (a full scan of
    // every partition) — both passes still see identical sampled ranges
    // from the frozen blocks, one job cheaper
    val ranged = df.repartitionByRange(nParts, col("r1"), col("r2"))
      .sortWithinPartitions(col("r1"), col("r2"))
      .localCheckpoint(eager = false)
    val cols = ranged.columns
    val (iDoc, iOff, iR1, iR2) = (cols.indexOf("doc"), cols.indexOf("off"),
      cols.indexOf("r1"), cols.indexOf("r2"))
    // pass 1: bounded — one (first, last, #groups) triple per partition
    val stats = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var first: (Long, Long) = null
      var last: (Long, Long) = null
      var groups = 0L
      it.foreach { r =>
        val key = (r.getLong(iR1), r.getLong(iR2))
        if (first == null) first = key
        if (key != last) groups += 1
        last = key
      }
      if (first == null) Iterator.empty
      else Iterator((pid, first: AnyRef, last: AnyRef, groups))
    }.collect()
    val (bases, cum) = stitchBases(stats)
    val bc = spark.sparkContext.broadcast(bases)
    val outSchema = StructType(Seq(
      StructField("doc", LongType, nullable = false),
      StructField("off", LongType, nullable = false),
      StructField("rank", LongType, nullable = false)))
    // pass 2: the split index the RDD's own compute receives — invariant
    // under downstream union/coalesce (the q472 lesson)
    val out = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      val base = bc.value.getOrElse(pid, 0L)
      var local = 0L
      var last: (Long, Long) = null
      it.map { r =>
        val key = (r.getLong(iR1), r.getLong(iR2))
        if (key != last) local += 1
        last = key
        Row(r.getLong(iDoc), r.getLong(iOff), base + local)
      }
    }
    (spark.createDataFrame(out, outSchema), cum, ranged)
  }

  /** Every exact duplicated `depth`-word window in the corpus:
    * (gram, cnt) for rank groups of complete windows with cnt ≥ 2. The
    * gram TEXT is reconstructed only for each group's representative
    * (min (doc, off)) — a result-sized join back to the token table,
    * never a corpus-wide string materialization. */
  def duplicateWindows(docs: DataFrame, depth: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      partitions: Int = 0): DataFrame = {
    val toks = tokens(docs, idCol, textCol).localCheckpoint(eager = false)
    val ranks = rankPrefixesFromToks(toks, depth, partitions)
    val lens = toks.groupBy("doc").agg(count(lit(1)).as("len"))
    val complete = ranks.join(lens, "doc")
      .where(col("off") + depth <= col("len"))
    val groups = complete.groupBy("rank")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc"), col("off"))).as("rep"))
      .where(col("cnt") >= 2)
      .select(col("rank"), col("cnt"),
        col("rep.doc").as("doc"), col("rep.off").as("off"))
    // fresh aliases: toks' attributes also live inside groups' lineage
    // (through lens), so an unaliased self-join would be ambiguous
    val tok2 = toks.select(col("doc").as("t_doc"),
      col("off").as("t_off"), col("word"))
    groups.join(tok2,
        col("t_doc") === col("doc") &&
          col("t_off") >= col("off") &&
          col("t_off") < col("off") + depth)
      .groupBy(col("rank"), col("cnt"))
      .agg(array_join(transform(array_sort(
        collect_list(struct(col("t_off").as("o"), col("word").as("w")))),
        e => e("w")), " ").as("gram"))
      .select(col("gram"), col("cnt"))
  }

  /** ExactSubstr deduplication (Lee et al. 2022 §4.1) on the suffix-
    * array index: every occurrence but the FIRST (smallest (doc, off))
    * of any exact `depth`-word window duplicated anywhere in the corpus
    * is excised, overlapping cuts merged per document — identical
    * output, by construction, to the rolling-hash
    * [[TrainingPrep.removeDuplicateSpans]] recipe at the same window
    * (equal ranks ⟺ equal windows, no hash in the loop), but the
    * candidate discovery shuffles fixed-width rank pairs instead of a
    * corpus of window strings. Returns (doc_id, clean_text, removed)
    * for every document. */
  def exactSubstrDedup(docs: DataFrame, depth: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      partitions: Int = 0): DataFrame = {
    val toks = tokens(docs, idCol, textCol).localCheckpoint(eager = false)
    val ranks = rankPrefixesFromToks(toks, depth, partitions)
    val lens = toks.groupBy("doc").agg(count(lit(1)).as("len"))
    val complete = ranks.join(lens, "doc")
      .where(col("off") + depth <= col("len"))
    val dups = complete.groupBy("rank")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc"), col("off"))).as("keep"))
      .where(col("cnt") >= 2)
    val spans = complete.join(dups, "rank")
      .where(!(col("doc") === col("keep.doc") &&
        col("off") === col("keep.off")))
      .select(col("doc").as("doc_id"), col("off").cast("int").as("s"),
        (col("off") + depth - 1).cast("int").as("e"))
    val base = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("w"))
    TrainingPrep.exciseSpans(base, spans)
  }
}
