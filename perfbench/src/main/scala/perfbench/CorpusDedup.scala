package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import graft.operators.{Bpe, Dedup, Incremental, SuffixArray}
import graft.expressions.{ShingleHashes, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, greatest}

/** Near-duplicate detection over a seeded Zipf corpus with planted exact
  * and near-duplicate groups and shared passages: the shuffle-heavy and
  * count-gated iterative operators, no zip or WARC decode. */
final class CorpusDedup extends Workload {
  import CorpusDedup._

  val name = "corpus_dedup"
  val steps = Seq("exact_groups", "shingle_pairs", "dup_clusters", "canonical",
    "incremental_cc", "suffix_dupes", "bpe_train")
  override val extraSteps = Seq("dup_clusters_distributed",
    "incremental_cc_distributed", "bpe_train_distributed")

  val Docs = 600
  val Threshold = 0.5
  val Depth = 8
  val Merges = 30
  val Batches = 3
  /** Members of each planted group, exact or near. */
  val GroupSize = 3
  /** The incremental state's bucket count: one per core at this size. */
  val StateBuckets = Profile.nproc

  private var docs: IndexedSeq[Doc] = IndexedSeq.empty
  private var corpusDir: Path = _
  private var corpusBytes = 0L
  // ground truth
  private var exactMulti: Set[(Long, Long)] = Set.empty // (keep_id, n_copies)
  private var distinctTexts = 0L
  private var pairs: Set[(Long, Long)] = Set.empty
  private var clusters: Map[Long, Long] = Map.empty // doc -> min id of its cluster
  private var keepers: Set[Long] = Set.empty
  private var removed: Map[Long, Long] = Map.empty // doc -> tokens excised, when > 0
  private var merges: Seq[(String, String, Long)] = Nil
  private var plantedGroups = 0

  /** Pairs of the last checked pass, for the traced run's recall. */
  private var lastPairs: Set[(Long, Long)] = Set.empty

  def records: Long = docs.size.toLong
  def inputBytes: Long = corpusBytes
  def inputSizes: Map[String, Any] = Map("docs" -> docs.size, "parquet_bytes" -> corpusBytes,
    "tokens" -> docs.map(_.words.length.toLong).sum, "planted_groups" -> plantedGroups,
    "planted_pairs" -> pairs.size, "arrival_batches" -> Batches)

  def generate(spark: SparkSession, in: Path, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    val vocab = new Vocab(r, 4000, 1.05)
    val passages = IndexedSeq.fill(40)(vocab.sentence(r, 12 + r.nextInt(9)))
    def base(): Array[String] = {
      val w = vocab.sentence(r, 60 + r.nextInt(100))
      if (r.nextInt(100) < 15) {
        val at = r.nextInt(w.length)
        w.take(at) ++ passages(r.nextInt(passages.size)) ++ w.drop(at)
      } else w
    }
    val nExact = Docs / 60
    val nNear = Docs / 50
    val groups = mutable.ArrayBuffer.empty[IndexedSeq[Array[String]]]
    (0 until nExact).foreach { _ =>
      val b = base(); groups += IndexedSeq.fill(GroupSize)(b)
    }
    (0 until nNear).foreach { _ =>
      val b = base()
      groups += (b +: IndexedSeq.fill(GroupSize - 1) {
        val v = b.clone()
        (1 to 1 + r.nextInt(3)).foreach { _ =>
          val i = r.nextInt(v.length)
          var w = vocab.draw(r)
          while (w == v(i)) w = vocab.draw(r)
          v(i) = w
        }
        v
      })
    }
    val planted = groups.map(_.size).sum
    val texts = groups.flatten ++ IndexedSeq.fill(Docs - planted)(base())
    // ids are a seeded permutation so group members are scattered
    val ids = {
      val a = (1L to texts.size.toLong).toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    docs = texts.indices.map(i => Doc(ids(i), texts(i), r.nextInt(Batches)))
    plantedGroups = groups.size
    truth(docs, groups.indices.map { g =>
      val start = groups.take(g).map(_.size).sum
      (start until start + groups(g).size).map(docs(_))
    })

    corpusDir = in.resolve("corpus")
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.text.length.toLong, d.batch)).toDF(
      "doc_id", "text", "n_chars", "batch")
      .repartition(Profile.nproc).write.parquet(corpusDir.toString)
    corpusBytes = Disk.bytes(corpusDir)
  }

  private def shingles(w: Array[String]): Set[String] =
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet

  /** Ground truth from the generated texts by plain driver-side algorithms:
    * exact groups by text, Jaccard inside the planted groups, union-find
    * components, the suffix windows, and textbook BPE. */
  private def truth(all: IndexedSeq[Doc], planted: IndexedSeq[IndexedSeq[Doc]]): Unit = {
    val byText = all.groupBy(_.text)
    distinctTexts = byText.size.toLong
    exactMulti = byText.values.filter(_.size > 1).map(g => (g.map(_.id).min, g.size.toLong)).toSet
    pairs = planted.flatMap { g =>
      val sh = g.map(d => d.id -> shingles(d.words))
      for (i <- sh.indices; j <- i + 1 until sh.size
           if { val (a, b) = (sh(i)._2, sh(j)._2)
                (a & b).size.toDouble / (a | b).size >= Threshold })
        yield (math.min(sh(i)._1, sh(j)._1), math.max(sh(i)._1, sh(j)._1))
    }.toSet
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    clusters = pairs.flatMap { case (a, b) => Seq(a, b) }.map(x => x -> find(x)).toMap
    val len = all.map(d => d.id -> d.text.length.toLong).toMap
    keepers = clusters.groupBy(_._2).values.map(m =>
      m.keys.maxBy(id => (len(id), -id))).toSet

    // every occurrence of a repeated Depth-word window but the first
    // (smallest doc, offset) is excised
    val first = mutable.HashMap.empty[String, (Long, Int)]
    val sorted = all.sortBy(_.id)
    sorted.foreach { d =>
      (0 to d.words.length - Depth).foreach { off =>
        val k = d.words.slice(off, off + Depth).mkString(" ")
        if (!first.contains(k)) first(k) = (d.id, off)
      }
    }
    removed = sorted.flatMap { d =>
      val cut = new Array[Boolean](d.words.length)
      (0 to d.words.length - Depth).foreach { off =>
        if (first(d.words.slice(off, off + Depth).mkString(" ")) != ((d.id, off)))
          (off until off + Depth).foreach(cut(_) = true)
      }
      val n = cut.count(identity).toLong
      if (n > 0) Some(d.id -> n) else None
    }.toMap

    merges = bpe(all)
  }

  /** Textbook BPE (Sennrich et al.): end-of-word marker on the last
    * character, count-weighted adjacent pairs, ties by (left, right). */
  private def bpe(all: IndexedSeq[Doc]): Seq[(String, String, Long)] = {
    val counts = mutable.HashMap.empty[String, Long]
    all.foreach(_.words.foreach(w => if (w.nonEmpty) counts(w) = counts.getOrElse(w, 0L) + 1))
    val words = counts.toArray.map { case (w, c) =>
      val s = w.map(_.toString).toArray; s(s.length - 1) += Bpe.EndOfWord; (s, c)
    }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (out.size < Merges && !done) {
      val pc = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (s, c) =>
        s.indices.dropRight(1).foreach(i => pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + c)
      }
      if (pc.isEmpty) done = true
      else {
        val ((l, r), c) = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < 2) done = true
        else {
          out += ((l, r, c))
          words.indices.foreach { i =>
            val s = words(i)._1
            val b = mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < s.length) {
              if (j + 1 < s.length && s(j) == l && s(j + 1) == r) { b += l + r; j += 2 }
              else { b += s(j); j += 1 }
            }
            words(i) = (b.toArray, words(i)._2)
          }
        }
      }
    }
    out.toSeq
  }

  private def read(spark: SparkSession): DataFrame = spark.read.parquet(corpusDir.toString)

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def clusterMap(df: DataFrame, idCol: String): Map[Long, Long] =
    df.select(idCol, "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  /** Pairs split into arrival batches: a pair arrives with its later doc.
    * The batch column is joined on once; the caller releases the result. */
  private def arrivals(spark: SparkSession, found: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val batch = read(spark).select(col("doc_id"), col("batch"))
    val withBatch = found
      .join(batch.withColumnRenamed("doc_id", "id_a").withColumnRenamed("batch", "ba"), "id_a")
      .join(batch.withColumnRenamed("doc_id", "id_b").withColumnRenamed("batch", "bb"), "id_b")
      .select(col("id_a"), col("id_b"), greatest(col("ba"), col("bb")).as("batch"))
      .localCheckpoint()
    (withBatch, (0 until Batches).map(b => withBatch.where(col("batch") === b).select("id_a", "id_b")))
  }

  private def mergeSeq(ms: Seq[Bpe.Merge]): Seq[(String, String, Long)] =
    ms.map(m => (m.left, m.right, m.pair_count))

  def pass(spark: SparkSession, out: Path, t: Tracer, checks: Checks): Unit = {
    val docsDf = read(spark)
    val exact = t.span("operators.exact_groups") { Dedup.exactGroups(docsDf).collect() }
    checks.add("exact_groups") {
      Checks.eq("distinct texts", exact.length.toLong, distinctTexts).orElse(
        Checks.sameSet("multi-copy groups", exact.filter(_.getLong(1) > 1)
          .map(r => (r.getLong(0), r.getLong(1))).toSeq, exactMulti))
    }
    val found = t.span("operators.shingle_pairs") {
      Dedup.shingleJaccardPairs(docsDf, Threshold).localCheckpoint()
    }
    checks.add("shingle_pairs") {
      lastPairs = pairSet(found); Checks.sameSet("pairs", lastPairs, pairs)
    }
    val cl = t.span("operators.dup_clusters") { Dedup.duplicateClusters(found).localCheckpoint() }
    checks.add("dup_clusters") { Checks.eq("clusters", clusterMap(cl, "doc_id"), clusters) }
    val canon = t.span("operators.canonical") {
      Dedup.canonicalizeClusters(cl, docsDf).localCheckpoint()
    }
    checks.add("canonical") {
      Checks.sameSet("keepers", canon.where(col("keep")).select("doc_id").collect()
        .map(_.getLong(0)).toSeq, keepers)
    }
    val state = out.resolve("components").toString
    val (arrived, batches) = arrivals(spark, found)
    t.span("operators.incremental_cc") {
      batches.foreach(b => Incremental.incrementalComponents(spark, state, b, StateBuckets))
    }
    checks.add("incremental_cc") {
      Checks.eq("components", clusterMap(Incremental.readComponents(spark, state), "id"), clusters)
    }
    val sfx = t.span("operators.suffix_dupes") {
      SuffixArray.exactSubstrDedup(docsDf, Depth).localCheckpoint()
    }
    checks.add("suffix_dupes") {
      Checks.eq("excised tokens per doc", sfx.where(col("removed") > 0)
        .select("doc_id", "removed").collect().map(r => (r.getLong(0), r.getLong(1))).toMap, removed)
    }
    val ms = t.span("operators.bpe_train") { Bpe.train(docsDf, Merges) }
    checks.add("bpe_train") { Checks.eq("merges", mergeSeq(ms), merges) }
    checks.cleanup(Seq(found, cl, canon, arrived, sfx).foreach(Frames.release))
  }

  def extras(spark: SparkSession, out: Path, checks: Checks,
      spans: Map[String, Map[String, Double]]): Map[String, Double] = {
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val docsDf = read(spark)
    // the other side of each count gate: the same call with the gate at 0
    val found = Dedup.shingleJaccardPairs(docsDf, Threshold).localCheckpoint()
    val (cl, clS) = timed(Dedup.duplicateClusters(found, maxDriverEdges = 0).localCheckpoint())
    checks.add("dup_clusters_distributed") {
      Checks.eq("clusters", clusterMap(cl, "doc_id"), clusters)
    }
    val state = out.resolve("components_distributed").toString
    val (withBatch, batches) = arrivals(spark, found)
    val (_, ccS) = timed(batches.foreach(b =>
      Incremental.incrementalComponents(spark, state, b, StateBuckets, maxDriverQuotient = 0)))
    checks.add("incremental_cc_distributed") {
      Checks.eq("components", clusterMap(Incremental.readComponents(spark, state), "id"), clusters)
    }
    val (ms, bpeS) = timed(Bpe.train(docsDf, Merges, maxDriverWords = 0))
    checks.add("bpe_train_distributed") { Checks.eq("merges", mergeSeq(ms), merges) }
    checks.cleanup(Seq(found, cl, withBatch).foreach(Frames.release))

    val text = docsDf.select("text").cache()
    val kernels = Map(
      "expressions.text_stats.ns_per_row" -> Frames.kernelNsPerRow(text, TextStats.text_stats(col("text"))),
      "expressions.shingle_hashes.ns_per_row" ->
        Frames.kernelNsPerRow(text, ShingleHashes.shingle_hashes(col("text"), 3)))
    text.unpersist()
    def spill(s: String) = spans.get(s).map(_("spill_mb")).getOrElse(0.0)
    kernels ++ Map(
      "operators.dup_clusters.distributed_s" -> clS,
      "operators.incremental_cc.distributed_s" -> ccS,
      "operators.bpe_train.distributed_s" -> bpeS,
      "operators.shingle_pairs.spill_mb" -> spill("operators.shingle_pairs"),
      "operators.suffix_dupes.spill_mb" -> spill("operators.suffix_dupes"),
      "operators.shingle_pairs.planted_recall" ->
        (lastPairs & pairs).size.toDouble / math.max(1, pairs.size))
  }
}

object CorpusDedup {
  final case class Doc(id: Long, words: Array[String], batch: Int) {
    lazy val text: String = words.mkString(" ")
  }
}
