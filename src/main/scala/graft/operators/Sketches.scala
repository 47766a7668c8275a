package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distinct-count sketching (custom UDAF surface).
  *
  * `approx_count_distinct` (q33) is the production HLL path, but its
  * register layout is engine-specific, so it can never hash-match a DuckDB
  * oracle. KMV (k-minimum-values, Bar-Yossef et al. 2002) is the
  * deterministic alternative: over a fixed hash the k smallest distinct
  * hash values — and therefore the estimate — are a pure FUNCTION of the
  * input set, independent of partitioning, merge order, or engine. With
  * the engine-portable 60-bit truncated-md5 hash (same construction q62
  * uses) the whole sketch is reproducible in SQL on any engine.
  *
  * SCALE: the buffer is k longs, reduce/merge are O(k) trims, partial
  * aggregation applies — each map task ships one k-entry buffer per group,
  * never the group's values.
  */
object Sketches {

  /** KMV estimator: exact count when fewer than k distinct hashes exist,
    * else (k-1) * 2^60 / h_k with h_k the k-th smallest distinct hash
    * (hash domain [0, 2^60) — the uniform-order-statistic estimator). */
  def kmvDistinct(k: Int): Aggregator[Long, Seq[Long], Double] =
    new Aggregator[Long, Seq[Long], Double] {
      private def trim(s: Seq[Long]): Seq[Long] = s.distinct.sorted.take(k)
      override def zero: Seq[Long] = Seq.empty
      // buffer invariant: sorted ascending, distinct, size <= k. The
      // overwhelmingly common case (full buffer, h above the k-th
      // minimum) is a single comparison — no sort, no allocation; an
      // accepted hash pays one O(k) insert copy.
      override def reduce(buf: Seq[Long], h: Long): Seq[Long] = {
        if (buf.size == k && h >= buf.last) buf
        else {
          val i = buf.indexWhere(_ >= h)
          if (i == -1) buf :+ h // buf.size < k here
          else if (buf(i) == h) buf
          else ((buf.take(i) :+ h) ++ buf.drop(i)).take(k)
        }
      }
      override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = trim(a ++ b)
      override def finish(buf: Seq[Long]): Double =
        if (buf.size < k) buf.size.toDouble
        else (k - 1).toDouble * 1152921504606846976.0 / buf.last
      override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
      override def outputEncoder: Encoder[Double] = ExpressionEncoder[Double]()
    }

  /** KMV set algebra (Beyer et al. 2007 §3): distinct-count estimates for
    * the UNION and INTERSECTION of two key sets from their k-minimum-value
    * sketches — no exact pairing of the sets required. With the
    * engine-portable 60-bit md5 hash the whole computation is a pure
    * function of the two sets, so the DuckDB oracle reproduces every
    * intermediate: τ (the k-th smallest union hash), the union estimate
    * (k-1)·2^60/τ, and ρ (union k-mins present in BOTH sets) giving
    * est(∩) = ρ/k · est(∪). Degenerate case: fewer than k distinct union
    * hashes means the "sketch" IS the set — both estimates are exact.
    *
    * SCALE: each side is one distinct-hash aggregation; the k-min is a
    * TakeOrdered (never a full sort); memberships are k-row broadcast
    * semi-joins. Returns ONE row: (est_union, est_intersect, rho, kk). */
  def kmvSetAlgebra(a: DataFrame, b: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 1, s"k must exceed 1: $k")
    def hs(df: DataFrame) = df.select(graft.expressions.PortableHash
      .md5Hash60(col(keyCol).cast("string")).as("h")).distinct()
    val ha = hs(a).localCheckpoint() // union AND membership probes
    val hb = hs(b).localCheckpoint()
    val kmin = ha.unionByName(hb).distinct().orderBy("h").limit(k)
      .localCheckpoint() // stats AND the two membership probes
    val stats = kmin.agg(max(col("h")).as("tau"), count(lit(1)).as("kk"))
    val rho = kmin.join(ha, Seq("h"), "left_semi")
      .join(hb, Seq("h"), "left_semi").agg(count(lit(1)).as("rho"))
    val estU = when(col("kk") < k, col("kk").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0) / col("tau").cast("double"))
    // intersection scales by the REALIZED sketch size kk (= min(k, |∪|)):
    // at kk == k this is the textbook ρ/k, and in the degenerate exact
    // case it reduces to ρ itself
    // kk == 0 (both inputs empty) must yield 0, not 0.0/0.0 = NaN
    val estI = when(col("kk") === 0, lit(0.0))
      .otherwise(col("rho").cast("double") / col("kk").cast("double") * estU)
    stats.crossJoin(rho)
      .select(round(estU, 4).as("est_union"),
        round(estI, 4).as("est_intersect"),
        col("rho"), col("kk"))
  }

  /** Count-min row/bucket pairs for one key value: row j hashes the key
    * with salt `cm$j:` through the engine-portable 60-bit truncated md5
    * (the q62/q111 construction), so the DuckDB oracle reproduces every
    * bucket index — and because the counters are SUMS, the whole sketch
    * is order- and partition-independent. */
  private def cmBuckets(key: Column, width: Int, depth: Int): Column =
    array((0 until depth).map { j =>
      pmod(graft.expressions.PortableHash.md5Hash60(
        concat(lit(s"cm$j:"), key.cast("string"))), lit(width.toLong))
    }: _*)

  /** Count-min sketch build (Cormode & Muthukrishnan 2005): the counter
    * RELATION (j, b, c) — depth x width cells, one count per (row,
    * bucket). Point estimates overcount (collisions only add), never
    * undercount: est(k) = min_j counter[j][h_j(k)] >= true count.
    *
    * SCALE: one scan of `df` emits `depth` (j, b) pairs per row into a
    * map-side-combinable groupBy whose result is bounded by depth*width
    * cells regardless of corpus size — the bounded-memory way to track
    * heavy-hitter frequencies when the exact vocabulary would not fit.
    * The sketch stays a RELATION (joinable, unionable — summing two
    * sketches' cells merges corpora); collect the w*d cells only if a
    * literal-probe form is wanted (the [[bloomMightContain]] shape). */
  def countMinCounters(df: DataFrame, key: Column,
      width: Int = 1024, depth: Int = 4): DataFrame = {
    require(width > 0 && depth > 0, s"width=$width depth=$depth must be positive")
    df.select(posexplode(cmBuckets(key, width, depth)).as(Seq("j", "b")))
      .groupBy("j", "b").agg(count(lit(1)).as("c"))
  }

  /** Point estimates for `keys` against a built counter relation:
    * min over the depth rows of each key's bucket counts (absent cells
    * are zero — the key was never seen). `keys` should be small-ish
    * (heavy-hitter candidates, a query set); the join is (j, b)-keyed
    * against the depth*width-bounded counter table, which AQE broadcasts. */
  def countMinEstimate(counters: DataFrame, keys: DataFrame, keyCol: String,
      width: Int = 1024, depth: Int = 4): DataFrame =
    keys.select(col(keyCol), posexplode(cmBuckets(col(keyCol), width, depth))
        .as(Seq("j", "b")))
      .join(counters, Seq("j", "b"), "left")
      .groupBy(keyCol).agg(min(coalesce(col("c"), lit(0L))).as("est"))

  /** Double-hashed bit positions for a Bloom filter (Kirsch & Mitzenmacher
    * 2006: pos_i = h1 + i*h2 mod m needs only two base hashes for any k).
    * Both hashes are reduced mod m BEFORE the multiply-add: the combined
    * value then tops out near k·m, far from Long.MaxValue, so ANSI mode
    * (Spark 4's default) can't see an overflow. Build and probe share this
    * function, so the two sides always agree. */
  private def bloomPositions(key: Column, numBits: Int, numHashes: Int): Seq[Column] = {
    val m = lit(numBits.toLong)
    val h1 = pmod(xxhash64(key), m)
    val h2 = pmod(xxhash64(lit("bloom2"), key), m)
    (0 until numHashes).map(i => pmod(h1 + lit(i.toLong) * h2, m))
  }

  /** Distributed Bloom-filter build over `df`'s `key` values: the m-bit
    * filter as packed little-endian words (bit p lives at word p>>6, bit
    * p&63).
    *
    * SCALE: one scan of `df` sets k positions per row; the groupBy on the
    * word index is map-side combined by `bit_or`, so the shuffle carries at
    * most m/64 rows PER MAP TASK and the driver collect is bounded by m/64
    * longs — the size of the filter itself, which any Bloom design must
    * materialize wherever it is probed. Size m to the corpus: false-positive
    * rate is (1-e^(-kn/m))^k, so m ≈ 10·n bits with k=5 gives ~1% — for
    * 10^12 corpus keys that is ~1.2 TB, at which point build per-executor
    * region filters instead; at the common 10^9-key history the filter is
    * ~1.2 GB and this single-filter form holds. */
  def bloomBuild(df: DataFrame, key: Column, numBits: Int, numHashes: Int = 5): Array[Long] = {
    require(numBits > 0 && numBits % 64 == 0, s"numBits must be a positive multiple of 64: $numBits")
    val words = new Array[Long](numBits / 64)
    df.select(explode(array(bloomPositions(key, numBits, numHashes): _*)).as("p"))
      .groupBy(shiftrightunsigned(col("p"), 6).as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L), (col("p") % 64).cast("int"))).as("bits"))
      .collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** [[bloomBuild]]'s word layout computed per PARQUET FILE in one
    * distributed column-pruned pass (`input_file_name` groups): output
    * (file, w, bits) is sparse — absent words are zero. Feeds the
    * manifest's `.bloom` sidecar (a commit's `bloomCols`, see
    * [[graft.sources.ManifestCommit.overwriteViaManifest]]): point-lookup
    * file skipping where min/max zone maps cannot cut (high-cardinality
    * values interleaved across files).
    *
    * SCALE: the groupBy is map-side combined on (file, word) — a task
    * reading one file emits at most m/64 rows, and the collect is
    * bounded by files-in-txn × m/64, never by data. */
  def bloomWordsByFile(df: DataFrame, key: Column, numBits: Int,
      numHashes: Int = 5): DataFrame = {
    require(numBits > 0 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64: $numBits")
    df.select(input_file_name().as("file"),
        explode(array(bloomPositions(key, numBits, numHashes): _*)).as("p"))
      .groupBy(col("file"), shiftrightunsigned(col("p"), 6).as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        (col("p") % 64).cast("int"))).as("bits"))
  }

  /** The k probe positions of ONE literal key, evaluated through the
    * same Catalyst expressions the build uses (one local row, no job) —
    * sidecar READERS must go through this so build and probe can never
    * disagree, least of all on xxhash64's type sensitivity: pass a
    * literal of the built column's exact type (Long for a BIGINT
    * column, etc.). */
  def bloomProbePositions(spark: org.apache.spark.sql.SparkSession,
      value: Any, numBits: Int, numHashes: Int = 5): Seq[Long] =
    spark.range(1)
      .select(array(bloomPositions(lit(value), numBits, numHashes): _*).as("p"))
      .head.getSeq[Long](0)

  /** Union of two filters built with the SAME (m, k) parameters: the
    * bitwise OR. Exact, not approximate: each key contributes a fixed bit
    * pattern, so build(A ∪ B) == merge(build(A), build(B)) word for word
    * (spec-asserted) — an ingest pipeline ORs in each admitted batch's
    * words instead of ever rebuilding over the full history. */
  def bloomMerge(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length,
      s"filters disagree on size: ${a.length} vs ${b.length} words")
    Array.tabulate(a.length)(i => a(i) | b(i))
  }

  /** Membership probe against a built filter: true iff all k bits are set
    * (i.e. the key MIGHT be in the build set; false means definitely not).
    * Pure column arithmetic over the words as an array literal — the
    * literal rides codegen as one reference object (never unrolled into
    * source, so no Janino size cliff), and the probe runs at scan speed
    * with no shuffle, no UDF. */
  def bloomMightContain(words: Array[Long], key: Column, numHashes: Int = 5): Column = {
    val wlit = typedlit(words.toSeq)
    bloomPositions(key, words.length * 64, numHashes).map { pos =>
      (element_at(wlit, (shiftrightunsigned(pos, 6) + 1L).cast("int"))
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int")))) =!= 0L
    }.reduce(_ && _)
  }

  /** Quantile estimates from a MERGEABLE equi-width histogram — the
    * streaming/distributed alternative to the exact rank-selection of
    * q32: bin counts are sums (associative, partition-order-free, and
    * trivially mergeable across shards/days), so the sketch costs one
    * map-side-combined pass and `bins` longs of state, where the exact
    * quantile costs a full shuffle-and-rank. Estimates interpolate
    * linearly inside the covering bin (NIST's definition of the
    * histogram-estimator); max error is bounded by the bin width.
    *
    * Determinism: bin assignment, the covering-bin argmin, and the
    * interpolation are all +,−,×,÷,floor over exact integer counts and
    * the two-value (min, max) bounds row — IEEE-exact everywhere, so
    * any engine lands on identical bits.
    *
    * SCALE: one pass to a bins-sized table; the bounds row and the
    * probe list re-enter as broadcasts. The cumulative window is
    * bins-sized by construction. */
  def histogramQuantiles(df: DataFrame, valueCol: Column, bins: Int,
      probs: Seq[Double]): DataFrame = {
    val v = df.select(valueCol.cast("double").as("v"))
    val mm = v.agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
      count(lit(1)).as("n"))
    val bw = (col("mx") - col("mn")) / lit(bins.toDouble)
    val binned = v.join(broadcast(mm))
      .select(least(floor((col("v") - col("mn")) / bw), lit((bins - 1).toLong))
        .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    // domain-bounded window: `bins` rows
    val wv = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // bins-sized cumulative window (see scaladoc)
    val cum = binned.withColumn("cum", sum(col("cnt")).over(wv))
      .join(broadcast(mm))
      .select(col("bin"), col("cnt"), col("cum"), col("mn"), col("mx"),
        col("n"), explode(array(probs.map(lit): _*)).as("p"))
    val target = col("p") * col("n").cast("double")
    val byP = org.apache.spark.sql.expressions.Window
      .partitionBy("p").orderBy("bin")
    cum.where(col("cum").cast("double") >= target)
      .withColumn("rn", row_number().over(byP))
      .where(col("rn") === 1)
      .select(col("p"),
        (round((col("mn") + bw * col("bin").cast("double") +
          bw * ((target - (col("cum") - col("cnt")).cast("double")) /
            col("cnt").cast("double"))) * 1000000.0) / 1000000.0)
          .as("quantile_est"),
        col("bin"), col("cnt").as("bin_count"))
      .orderBy("p")
  }
}
