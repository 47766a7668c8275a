package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training + segmentation
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units" — the public BPE algorithm every modern LLM tokenizer
  * descends from).
  *
  * SCALE SHAPE: training never iterates over the CORPUS. One corpus pass
  * builds the distinct-(word, count) table — vocab-sized, orders of
  * magnitude smaller than 100 TB of text — and every merge round runs on
  * that table: adjacent-pair counting is an explode + map-side-combined
  * sum, the argmax is a 1-row TakeOrdered, and the merge application is a
  * typed map over vocab rows (genuinely sequential per-word logic — the
  * §2.10 typed-transform tier, not a per-row SQL UDF). Word rows are
  * localCheckpoint'd each round so lineage stays flat across hundreds of
  * merges. Tie-breaks are total (count desc, then pair lexicographic), so
  * the learned merge table is deterministic — same corpus, same merges,
  * on any cluster layout.
  *
  * Segmentation broadcasts the learned merge ranks (bounded by
  * `numMerges`, driver-sized by construction) and applies them
  * greedily-by-rank per word inside `mapPartitions` — scan-speed, no
  * shuffle, exactly the shape a 100 TB tokenize pass needs.
  */
object Bpe {

  /** End-of-word sentinel appended to each word's final symbol so merges
    * never cross word boundaries (the standard `</w>` marker). */
  val EndOfWord = "</w>"

  private[operators] def toSymbols(word: String): Array[String] = {
    val cs = word.toCharArray.map(_.toString)
    if (cs.isEmpty) cs else { cs(cs.length - 1) += EndOfWord; cs }
  }

  /** One merge rule: `rank` is application order, (left, right) the
    * adjacent symbol pair it fuses. */
  case class Merge(rank: Int, left: String, right: String, pair_count: Long)

  private[operators] case class WordRow(symbols: Array[String], count: Long)

  /** Applies one (left, right) merge to a symbol sequence, left to right —
    * the sequential inner loop of BPE (a merged symbol can immediately
    * participate in the next match site, so this cannot be a zip/filter). */
  private[operators] def mergeOnce(sym: Array[String], left: String,
      right: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](sym.length)
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == left && sym(i + 1) == right) {
        out += left + right; i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** COUNT-GATED driver merge loop ([[IterUtils.gatedCollect]]): BPE
    * training never iterates the corpus — every round runs on the
    * vocab-sized (symbols, count) table — so at or under
    * `maxDriverWords` distinct words the whole merge loop runs in memory
    * on the collected table: exact long pair counts, the same (count
    * desc, left, right) argmax with the tie-break in UTF-8 byte order
    * ([[IterUtils.utf8Compare]]), the same [[mergeOnce]] application
    * and `minPairCount` stop. A web-scale vocabulary stays on the
    * distributed loop unchanged. */
  private def trainDriver(rows: Array[WordRow], numMerges: Int,
      minPairCount: Long): Seq[Merge] = {
    val syms = rows.map(_.symbols)
    val counts = rows.map(_.count)
    val merges = Seq.newBuilder[Merge]
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < syms.length) {
        val s = syms(i); val c = counts(i)
        var j = 0
        while (j + 1 < s.length) {
          val k = (s(j), s(j + 1))
          pc(k) = pc.getOrElse(k, 0L) + c
          j += 1
        }
        i += 1
      }
      var bestL: String = null; var bestR: String = null; var bestC = 0L
      pc.foreach { case ((l, rr), v) =>
        val better = bestL == null || v > bestC || (v == bestC && {
          val cl = IterUtils.utf8Compare(l, bestL)
          cl < 0 || (cl == 0 && IterUtils.utf8Compare(rr, bestR) < 0)
        })
        if (better) { bestL = l; bestR = rr; bestC = v }
      }
      if (bestL == null || bestC < minPairCount) done = true
      else {
        merges += Merge(r, bestL, bestR, bestC)
        var i2 = 0
        while (i2 < syms.length) {
          syms(i2) = mergeOnce(syms(i2), bestL, bestR); i2 += 1
        }
        r += 1
      }
    }
    merges.result()
  }

  /** Learns `numMerges` merge rules from the corpus. Rounds that find no
    * pair with count >= `minPairCount` stop early. */
  def train(docs: DataFrame, numMerges: Int, minPairCount: Long = 2L,
      textCol: String = "text",
      maxDriverWords: Long = IterUtils.MaxDriverRows): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words: Dataset[WordRow] = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("count"))
      .as[(String, Long)]
      .map { case (w, c) => WordRow(toSymbols(w), c) }
    // COUNT GATE: at or under it the loop runs on the driver; above it
    // the distributed loop below continues on the gate's
    // already-materialized checkpoint
    IterUtils.gatedCollect(words, maxDriverWords) match {
      case Right(rows) => return trainDriver(rows, numMerges, minPairCount)
      case Left(ck) => words = ck
    }
    val merges = Seq.newBuilder[Merge]
    var r = 0
    var done = false
    // the previous round's word table: its blocks stay live until the
    // LAZY checkpoint derived from it has been materialized by the next
    // round's pair-count job, then they are released deterministically
    var prevWords: Option[Dataset[WordRow]] = None
    while (r < numMerges && !done) {
      // adjacent pairs weighted by word count; map-side combine keeps the
      // shuffle at |distinct pairs|, not |pair occurrences|. This action
      // ALSO materializes the lazy `words` checkpoint from the previous
      // round — one job per round where eager checkpointing paid two.
      val best = words.toDF("symbols", "count")
        .select(col("count"), col("symbols"),
          posexplode(expr("slice(symbols, 1, size(symbols) - 1)")))
        .select(col("count"), col("col").as("left"),
          element_at(col("symbols"), col("pos") + 2).as("right"))
        .groupBy("left", "right").agg(sum("count").as("pc"))
        .orderBy(col("pc").desc, col("left"), col("right"))
        .limit(1).collect()
      // `words` is now materialized — the superseded round's blocks can
      // be released (hundreds of merges would otherwise hold O(rounds)
      // vocab-sized block sets hostage to ContextCleaner/GC timing)
      prevWords.foreach(IterUtils.unpersistCheckpoint(_))
      prevWords = None
      if (best.isEmpty || best(0).getAs[Long]("pc") < minPairCount) done = true
      else {
        val (l, rr, pc) = (best(0).getAs[String]("left"),
          best(0).getAs[String]("right"), best(0).getAs[Long]("pc"))
        merges += Merge(r, l, rr, pc)
        // lazy checkpoint: the merge apply rides the NEXT round's
        // pair-count job instead of running a dedicated materialization
        // job per round; `words` must outlive it until then
        val next = words.map(w => WordRow(mergeOnce(w.symbols, l, rr), w.count))
          .localCheckpoint(eager = false)
        prevWords = Some(words)
        words = next
        r += 1
      }
    }
    // the learned rules are driver-side; the word table is done with
    prevWords.foreach(IterUtils.unpersistCheckpoint(_))
    IterUtils.unpersistCheckpoint(words)
    merges.result()
  }

  /** Segments each document with a learned merge table: words re-derive
    * their symbol split by replaying merges in rank order (the standard
    * apply rule), then the per-doc subword stream is emitted in order.
    * The merge table is broadcast (bounded by numMerges); the pass is
    * shuffle-free. */
  /** Hard cap on [[segment]]'s per-partition word→symbols cache. Word
    * frequency is Zipfian, so the hot words that make the cache pay for
    * itself all land within a small prefix of distinct words — past the
    * cap, long-tail words (which would each be seen ~once per partition
    * anyway) are segmented directly instead of growing the map without
    * bound on a web-scale partition's unbounded vocabulary. */
  private val SegmentCacheCap = 1 << 16

  def segment(docs: DataFrame, merges: Seq[Merge], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        // per-partition word cache: corpora repeat words heavily, and the
        // merge replay is the hot loop. Size-capped (insert-until-full):
        // executor memory must not scale with a partition's distinct-word
        // count.
        val cache = scala.collection.mutable.HashMap.empty[String, Array[String]]
        def segmentWord(w: String): Array[String] = {
          var sym = toSymbols(w)
          var i = 0
          while (i < ms.length) {
            // skip replay once the word is a single symbol
            if (sym.length > 1) sym = mergeOnce(sym, ms(i)._1, ms(i)._2)
            i += 1
          }
          sym
        }
        it.map { case (id, text) =>
          val toks = text.split(" ").filter(_.nonEmpty).flatMap { w =>
            cache.get(w) match {
              case Some(sym) => sym
              case None =>
                val sym = segmentWord(w)
                if (cache.size < SegmentCacheCap) cache.update(w, sym)
                sym
            }
          }
          (id, toks)
        }
      }
      .toDF(idCol, "subwords")
  }

  /** Learned-vocab token count per document — the statistic a budgeted
    * pretraining mix actually needs (whitespace counts under-estimate
    * rare-word corpora). */
  def tokenCounts(docs: DataFrame, merges: Seq[Merge], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    segment(docs, merges, idCol, textCol)
      .select(col(idCol), size(col("subwords")).cast("long").as("n_subwords"))
}
