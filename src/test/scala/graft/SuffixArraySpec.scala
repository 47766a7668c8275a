package graft

import graft.operators.SuffixArray
import org.apache.spark.sql.functions._

/** Truncated suffix array (prefix doubling): exact rank semantics vs a
  * brute-force suffix sort, duplicate-window parity with naive n-gram
  * counting on real data, partition-count invariance, and the round-17
  * union-composition contract for the dense-rank pass. */
class SuffixArraySpec extends GraftSpec {
  import spark.implicits._

  private def bruteRanks(docs: Seq[(Long, String)], depth: Int)
      : Map[(Long, Long), Long] = {
    val suff = docs.flatMap { case (id, text) =>
      val w = text.split(" ", -1)
      w.indices.map(i => ((id, i.toLong), w.slice(i, i + depth).toSeq))
    }
    val order = suff.map(_._2).distinct.sorted(
      Ordering.Implicits.seqOrdering[Seq, String])
    val rank = order.zipWithIndex.map { case (p, i) => (p, i + 1L) }.toMap
    suff.map { case (k, p) => (k, rank(p)) }.toMap
  }

  private val fixture = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the hat"),
    (3L, "a cat sat on the mat and the cat sat on the mat again"),
    (4L, "unique words only here"),
    (5L, "the cat") // shorter than depth: sentinel-extended suffixes
  )

  // one document longer than all the others together, documents shorter
  // than the shift k, and (at 16 partitions) more partitions than
  // documents: the shift holds each document whole in one partition
  private val skewed = (10L, (0 until 64).map(i => "abc".charAt(i * i % 7 % 3).toString)
      .mkString(" ")) +: Seq(
    (11L, "a"), (12L, "b a"), (13L, "a b c"), (14L, "c"), (15L, "b c a b"))

  test("rankPrefixes == brute-force dense rank of depth-bounded suffixes") {
    for ((fx, parts) <- Seq((fixture, 4), (skewed, 16)); depth <- Seq(1, 4, 8)) {
      val got = SuffixArray.rankPrefixes(fx.toDF("doc_id", "text"), depth = depth,
          partitions = parts)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val want = bruteRanks(fx, depth)
      assert(got == want, s"depth=$depth partitions=$parts rank table must match brute force")
    }
  }

  test("equal ranks iff equal windows on real data (duplicateWindows == naive n-gram count)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val got = SuffixArray.duplicateWindows(docs, depth = 4, partitions = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val naive = docs.collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .flatMap { case (_, t) =>
        val w = t.split(" ", -1)
        (0 to w.length - 4).map(i => w.slice(i, i + 4).mkString(" "))
      }
      .groupBy(identity).map { case (g, o) => (g, o.length.toLong) }
      .filter(_._2 >= 2).toSet
    assert(got.nonEmpty && got == naive)
  }

  test("partition-count invariance: 3 vs 32 partitions produce identical ranks") {
    val docs = fixture.toDF("doc_id", "text")
    def run(p: Int) = SuffixArray.rankPrefixes(docs, depth = 8, partitions = p)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    assert(run(3) == run(32))
  }

  test("denseRankPairs survives running as a union's second child (q472 contract)") {
    val df = (0 until 97).map(i =>
        (i.toLong, i.toLong, ((i * 13) % 7).toLong, ((i * 29) % 5).toLong))
      .toDF("doc", "off", "r1", "r2").localCheckpoint()
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc", "off", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = SuffixArray.denseRankPairs(df, 32)
    val alone = rows(a)
    // brute expectation: dense rank of (r1, r2)
    val order = (0 until 97).map(i => (((i * 13) % 7).toLong, ((i * 29) % 5).toLong))
      .distinct.sorted
    val rk = order.zipWithIndex.map { case (k, i) => (k, i + 1L) }.toMap
    val want = (0 until 97).map(i =>
      (i.toLong, i.toLong, rk((((i * 13) % 7).toLong, ((i * 29) % 5).toLong)))).toSet
    assert(alone == want)
    val b = SuffixArray.denseRankPairs(df, 32)
    val u = a.withColumn("src", lit(1))
      .unionByName(b.withColumn("src", lit(2)))
    assert(rows(u.where(col("src") === 2).drop("src")) == alone,
      "dense rank must survive as a union's second child")
    assert(rows(b.coalesce(1)) == alone)
  }

  test("exactSubstrDedup == the rolling-hash removeDuplicateSpans recipe on real data") {
    // two independent discovery engines (SA rank groups vs hashed gram
    // strings) must excise the exact same spans, token for token
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val sa = rows(SuffixArray.exactSubstrDedup(docs, depth = 8, partitions = 8))
    val rh = rows(graft.operators.TrainingPrep
      .removeDuplicateSpans(docs, windowTokens = 8))
    assert(sa == rh)
    assert(sa.exists(_._3 > 0), "fixture must actually excise something")
  }

  test("empty corpus: rank table is empty, dedup returns no rows, no NPE") {
    val empty = fixture.toDF("doc_id", "text").limit(0)
    assert(SuffixArray.rankPrefixes(empty, depth = 8, partitions = 4).count() == 0L)
    assert(SuffixArray.exactSubstrDedup(empty, depth = 8).count() == 0L)
  }

  test("early exit: an all-unique corpus resolves at the word round (depth irrelevant)") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = SuffixArray.rankPrefixes(docs, depth = 8, partitions = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == bruteRanks(Seq((1L, "alpha beta gamma delta")), 8))
    assert(got.values.toSet.size == 4, "all suffixes distinct")
  }
}
