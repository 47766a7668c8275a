package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau 2004): per-document
  * PageRank over the adjacent-token co-occurrence graph, every document
  * iterated SIMULTANEOUSLY — the per-doc graphs are disjoint keys of one
  * (doc_id, word) relation, so N documents cost the same join-aggregate
  * program as one.
  *
  * Determinism: ranks live in integer millionths. Each round a node
  * emits floor(rank/deg) to every neighbor (exact integer division),
  * the sums are exact decimal integers, and the damped update
  * round((1-d)·10⁶ + d·Σ) multiplies an exact integer by the literal
  * 0.85 — one correctly-rounded double op, identical across engines.
  * The float-PageRank variant would compound agg-order ulps per round;
  * this one is bit-stable under any partitioning.
  */
object TextRank {

  private val dec = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Top-`topK` keywords per document after `rounds` damped iterations
    * (d = 0.85). Edges: distinct unordered adjacent-token pairs; nodes
    * with no edges (single-token docs) are absent by construction.
    *
    * SCALE: tokenize+pair is one scan-speed projection; every round is
    * ONE (doc_id, word)-keyed join + one map-side-combined sum over the
    * symmetrized edge relation (checkpointed once, loop-invariant);
    * rank state is (doc_id, word)-sized and eagerly checkpointed with
    * the superseded round released ([[GraphOps.pageRank]] discipline).
    * The final cut is a per-doc WindowGroupLimit top-K. */
  def keywords(docs: DataFrame, rounds: Int, topK: Int,
      maxDriverPairs: Long = IterUtils.MaxDriverRows): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val pairs = toks.select(col("doc_id"),
      explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> struct(a, b))")).as("p"))
      .select(col("doc_id"),
        least(col("p.a"), col("p.b")).as("wa"),
        greatest(col("p.a"), col("p.b")).as("wb"))
      .where(col("wa") =!= col("wb")).distinct()
    // COUNT-GATED driver fast path ([[IterUtils.collectIfSmall]]): ranks
    // live in integer millionths — floor division, exact integer sums,
    // one correctly-rounded double op per node per round — so the driver
    // loop is BIT-IDENTICAL to the distributed one, not merely within
    // margin. Above the gate the distributed loop runs unchanged.
    driverKeywords(pairs, rounds, topK, maxDriverPairs) match {
      case Some(df) => return df
      case None => ()
    }
    val sym = pairs.select(col("doc_id"), col("wa").as("u"), col("wb").as("v"))
      .union(pairs.select(col("doc_id"), col("wb").as("u"), col("wa").as("v")))
      .localCheckpoint()
    val deg = sym.groupBy("doc_id", "u").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    var rank = deg.select(col("doc_id"), col("u").as("w"),
      lit(1000000L).as("r"))
    // chain-shaped (rank read once per round, [[ChainCheckpointer]]):
    // rounds stay lazy; the eager `out` checkpoint below is the final
    // materializer, so the loop only cuts the chain periodically
    val ck = new ChainCheckpointer()
    for (i <- 1 to rounds) {
      val contrib = sym
        .join(deg, Seq("doc_id", "u"))
        .join(rank.select(col("doc_id"), col("w").as("u"), col("r")),
          Seq("doc_id", "u"))
        .groupBy(col("doc_id"), col("v").as("w"))
        .agg(sum(expr("r div deg").cast(dec)).as("c")) // exact int division
      rank = ck.round(contrib.select(col("doc_id"), col("w"),
        round(lit(150000.0) +
          lit(0.85) * col("c").cast("double")).cast("long").as("r")),
        i, last = false)
    }
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("r").desc, col("w"))
    val out = rank.withColumn("pos", row_number().over(byDoc))
      .where(col("pos") <= topK)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("w"),
        (col("r").cast("double") / 1000000.0).as("score"))
      .localCheckpoint()
    Seq(sym, deg).foreach(IterUtils.unpersistCheckpoint)
    ck.release()
    out
  }

  /** Driver replica of the [[keywords]] loop over the collected
    * (doc_id, wa, wb) distinct-pair relation: same integer-millionth
    * arithmetic per round, same (r desc, w UTF8-asc) top-K cut. */
  private def driverKeywords(pairs: DataFrame, rounds: Int, topK: Int,
      maxDriverPairs: Long): Option[DataFrame] = {
    val rows = IterUtils.collectIfSmall(pairs, maxDriverPairs) match {
      case None => return None
      case Some(rs) => rs
    }
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      return None // Spark's null-key join semantics: stay distributed
    // per-(doc, word) interning
    val idx = scala.collection.mutable.HashMap.empty[(Any, String), Int]
    val docOf = scala.collection.mutable.ArrayBuffer.empty[Any]
    val wordOf = scala.collection.mutable.ArrayBuffer.empty[String]
    def intern(d: Any, w: String): Int =
      idx.getOrElseUpdate((d, w), {
        docOf += d; wordOf += w; docOf.size - 1
      })
    val ea = new Array[Int](rows.length * 2)
    val eb = new Array[Int](rows.length * 2)
    var i = 0
    while (i < rows.length) {
      val d = rows(i).get(0)
      val a = intern(d, rows(i).getString(1))
      val b = intern(d, rows(i).getString(2))
      ea(2 * i) = a; eb(2 * i) = b // both directions = the sym union
      ea(2 * i + 1) = b; eb(2 * i + 1) = a
      i += 1
    }
    val nn = docOf.size
    val deg = new Array[Long](nn)
    i = 0; while (i < ea.length) { deg(ea(i)) += 1L; i += 1 }
    var rank = Array.fill(nn)(1000000L)
    for (_ <- 1 to rounds) {
      val c = new Array[BigInt](nn)
      i = 0
      while (i < ea.length) {
        val contrib = rank(ea(i)) / deg(ea(i)) // exact `r div deg`
        val t = eb(i)
        c(t) = (if (c(t) == null) BigInt(contrib) else c(t) + contrib)
        i += 1
      }
      val next = new Array[Long](nn)
      var v = 0
      while (v < nn) {
        // every node has >= 1 incident edge, so c(v) is never null
        next(v) = IterUtils.sparkRound(150000.0 +
          0.85 * BigDecimal(c(v)).toDouble).toLong
        v += 1
      }
      rank = next
    }
    // per-doc (r desc, w UTF8-asc) top-K
    val byDoc = scala.collection.mutable.LinkedHashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Int]]
    var v = 0
    while (v < nn) {
      byDoc.getOrElseUpdate(docOf(v),
        scala.collection.mutable.ArrayBuffer.empty[Int]) += v
      v += 1
    }
    val spark = pairs.sparkSession
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", pairs.schema("doc_id").dataType, nullable = true),
      StructField("pos", LongType, nullable = true),
      StructField("w", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    byDoc.foreach { case (d, vs) =>
      val sorted = vs.sortWith { (x, y) =>
        if (rank(x) != rank(y)) rank(x) > rank(y)
        else IterUtils.utf8Compare(wordOf(x), wordOf(y)) < 0
      }
      var p = 0
      while (p < sorted.length && p < topK) {
        val node = sorted(p)
        out.add(org.apache.spark.sql.Row(
          d, (p + 1).toLong, wordOf(node), rank(node).toDouble / 1000000.0))
        p += 1
      }
    }
    Some(spark.createDataFrame(out, schema))
  }
}
