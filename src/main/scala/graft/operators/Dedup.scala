package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines: exact,
  * shingle-Jaccard (exact near-dup), MinHash-LSH (approximate near-dup at
  * scale), and SimHash (hamming-distance near-dup).
  *
  * SCALE design:
  *  - exact: one hash-partitioned groupBy on the text (or fingerprint) key —
  *    the canonical map-side-combinable shuffle; at 100 TB group on
  *    md5(text) (16 bytes) rather than the text itself to shrink shuffle IO.
  *  - shingleJaccardPairs: EXACT near-dup via prefix filtering (Bayardo et
  *    al., "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.
  *    PPJoin): candidates only need to share a shingle in the
  *    rarest-first prefix of each doc's shingle list, which excludes hot
  *    stop-phrase shingles from the self-join almost everywhere — the
  *    inverted-index join stays linear-ish instead of df² on hot keys.
  *    Verification then recomputes exact Jaccard from the FULL sets, so
  *    results are identical to the naive all-shared-shingles join.
  *  - minHashLshPairs: the sketch scale path. Per-doc signature (k
  *    minhashes) via one groupBy; candidates only where a band collides
  *    (banded LSH), then exact-Jaccard verification on the candidates via a
  *    shuffle join on doc id (never a corpus-wide broadcast). Shuffles are
  *    O(docs·bands), never O(docs²).
  *  - simHash: 64-bit signature per doc; near-dups = hamming ≤ r, candidates
  *    via block-combination keys (Manku et al., WWW'07 §3): split the
  *    signature into `nBlocks` blocks and key each doc by every
  *    (nBlocks - maxDist)-subset of blocks — hd ≤ maxDist forces at least
  *    one subset with zero flipped bits, and each key carries ~32+ bits of
  *    signature, so buckets stay fine-grained at billions of docs (the old
  *    4×16-bit pigeonhole capped at 65k buckets/block).
  */
object Dedup {

  /** Word n-gram shingles (distinct), e.g. n=3. Empty array when the doc has
    * fewer than n tokens (never a descending `sequence`).
    *
    * NOTE: higher-order functions (transform/aggregate) are interpreted, not
    * codegen'd — this Column form is the declarative spec; the hot paths
    * below run [[graft.expressions.ShingleHashes]], a codegen'd expression
    * with identical shingle semantics that emits 64-bit hashes directly. */
  def shingles(text: Column, n: Int = 3): Column = {
    val ws = split(text, " ")
    val idx = sequence(lit(1), size(ws) - (n - 1)) // 1-based start positions
    val grams = transform(idx, i =>
      concat_ws(" ", (0 until n).map(o => element_at(ws, i + o)): _*))
    array_distinct(when(size(ws) >= n, grams).otherwise(array()))
  }

  /** JVM-native shingle generation (identical semantics to [[shingles]]:
    * space-split, n-gram join with single spaces, order-preserving
    * distinct). */
  private[graft] def shingleSeq(text: String, n: Int): IndexedSeq[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) IndexedSeq.empty
    else (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).distinct
  }

  /** Exact duplicate groups: one row per distinct text, the smallest doc_id
    * as the canonical keeper. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(textCol)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop(textCol)

  /** Incremental exact dedup: the rows of `incoming` that are new against
    * `existing` — the shape every periodically-refreshed corpus needs
    * (dedup the day's crawl against everything already ingested, not the
    * whole corpus against itself). Matching is by canonical-form
    * fingerprint ([[TextAnalysis.fingerprint]]: md5 of lowercased,
    * whitespace-collapsed text); within the batch the smallest-id copy of
    * each fingerprint wins, and anything whose fingerprint already exists
    * in `existing` is dropped.
    *
    * SCALE: one fingerprint-keyed shuffle per side — the within-batch
    * winner is a fp-partitioned window (keyed, never one-partition) and
    * the history check a left-anti join that AQE broadcasts only when the
    * existing side measures small. At 100 TB don't re-fingerprint the
    * corpus per batch: `existing` can be just the fingerprint column, so
    * maintain a (fp) table via [[graft.sources.ManifestCommit
    * .upsertManifested]] and pass `readManifested(...)` here — the scan
    * then reads one slim column family instead of the text. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fpCol = TextAnalysis.fingerprint(col(textCol))
    val seen = existing.select(fpCol.as("__fp")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy(col(idCol))
    incoming.withColumn("__fp", fpCol)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .join(seen, Seq("__fp"), "left_anti")
      .drop("__fp", "__rn")
  }

  /** Bloom-gated exact anti-join: the rows of `batch` whose key does not
    * appear in `corpus` — byte-identical to
    * `batch.join(corpus, key, "left_anti")`, but only the Bloom-POSITIVE
    * slice of the batch ever reaches that join. A Bloom "no" is definite,
    * so those rows are admitted at scan speed with no join at all; the
    * "maybe" rows (true hits plus the ~(1-e^(-kn/m))^k false-positive
    * sliver) are settled by the exact anti-join, which keeps the result
    * exact whatever the filter's collision behavior.
    *
    * SCALE: this is the 100 TB shape of "dedup today's batch against
    * everything ever ingested" when the history is too big to broadcast
    * exactly. The filter build is one history scan reduced to m/64 words
    * ([[Sketches.bloomBuild]]); the probe is pure column arithmetic over
    * the broadcast-literal words; and the exact join's left side shrinks
    * from |batch| to the maybe-hits, so its shuffle mass is the corpus
    * KEY column only — which at steady state is the slim materialized key
    * table ([[graft.sources.ManifestCommit]]) rather than a re-derivation,
    * and the filter itself is incrementally maintainable (OR in each
    * admitted batch's words) instead of rebuilt per batch. */
  def bloomGatedAntiJoin(batch: DataFrame, corpus: DataFrame, keyCol: String,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame =
    bloomGatedAntiJoinWith(
      Sketches.bloomBuild(corpus.select(keyCol), col(keyCol), numBits, numHashes),
      batch, corpus, keyCol, numHashes)

  /** [[bloomGatedAntiJoin]] against a PREBUILT filter — the maintained-
    * filter path: an ingest pipeline keeps the history's words (ORing in
    * each admitted batch via [[Sketches.bloomMerge]]) so no per-batch
    * rebuild ever scans the history; `corpus` is still the exact-verify
    * side for the maybe-hits (at steady state the slim materialized key
    * table). The filter must cover AT LEAST the corpus keys — missing
    * keys would let true duplicates skip the exact check; extra keys only
    * cost false-positive verifications. */
  def bloomGatedAntiJoinWith(words: Array[Long], batch: DataFrame,
      corpus: DataFrame, keyCol: String, numHashes: Int = 5): DataFrame = {
    require(!batch.columns.contains("__bloom_maybe"),
      "batch already has a __bloom_maybe column; rename it before calling")
    val probed = batch.withColumn("__bloom_maybe",
      Sketches.bloomMightContain(words, col(keyCol), numHashes))
    probed.where(!col("__bloom_maybe"))
      .unionByName(probed.where(col("__bloom_maybe"))
        .join(corpus.select(keyCol), Seq(keyCol), "left_anti"))
      .drop("__bloom_maybe")
  }

  /** (did, set-size, one 64-bit-hashed shingle per row) — the
    * inverted-index input. Shingle generation + hashing run inside the
    * codegen'd [[graft.expressions.ShingleHashes]] expression (no typed
    * flatMap, no Deserialize/Serialize break, shingle strings never leave
    * the scan stage — only 8-byte hashes do). The set size rides along so
    * Jaccard needs NO extra join after the pair aggregation (an earlier
    * version re-joined per-doc counts onto the millions-of-candidate-pairs
    * intermediate — 10x slower). */
  private def explodedShingles(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    docs.select(col(idCol).cast("long").as("did"),
        graft.expressions.ShingleHashes.shingle_hashes(col(textCol), n).as("shs"))
      .select(col("did"), size(col("shs")).as("nsh"), explode(col("shs")).as("sh"))

  /** Shingle-CONTAINMENT pairs: documents whose entire shingle set lives
    * inside another document's — the quote/repost/wrapper dedup class
    * that Jaccard thresholds miss (a tweet quoted inside an article has
    * tiny Jaccard but total containment). A ⊆ B iff the shared-shingle
    * count equals |A|; equal sets dedupe to the smaller id.
    *
    * SCALE: only shingles with document frequency ≥ 2 enter the pair
    * join — a document owning ANY df-1 shingle cannot be contained, so
    * dropping those rows changes nothing while bounding the join to
    * genuinely-shared shingle mass (the q77 hot-set shape). |A| counts
    * come from the pre-filter stream. */
  def containmentPairs(docs: DataFrame, minShingles: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    // Candidates join on each doc's single RAREST shingle only: A ⊆ B
    // implies B holds every A shingle INCLUDING the rarest, so the
    // prune is lossless and each doc contributes df(rarest) candidates
    // — the PPJoin prefix argument at prefix length 1. (A first cut
    // joined ALL df≥2 shingles; on a clone-heavy corpus the hot-shingle
    // df² mass made it quadratic — measured unbounded at sf1.)
    // Verification is the q22 sorted-set kernel: contained iff the
    // merge-intersect count equals |A|.
    val sh = explodedShingles(docs, idCol, textCol, n)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("did").orderBy(col("df"), col("sh"))
    val rarest = sh.join(dfreq, "sh")
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") === 1 && col("nsh") >= minShingles)
      .select(col("did").as("ia"), col("nsh").as("na"), col("sh"))
    val cands = rarest
      .join(sh.select(col("did").as("ib"), col("nsh").as("nb"), col("sh")),
        Seq("sh"))
      .where(col("ia") =!= col("ib") &&
        (col("na") < col("nb") ||
          (col("na") === col("nb") && col("ia") < col("ib"))))
      .select("ia", "ib", "na", "nb")
    val sets = setsFromExploded(sharedExploded(docs, idCol, textCol, n))
    val inter = graft.expressions.SetFunctions
      .sorted_intersect_count(col("sa.set"), col("sb.set"))
    cands
      .join(sets.as("sa"), col("ia") === col("sa.did"))
      .join(sets.as("sb"), col("ib") === col("sb.did"))
      .where(inter === col("na"))
      .select(col("ia").as("contained_id"), col("ib").as("container_id"),
        col("na").as("n_shingles_a"), col("nb").as("n_shingles_b"))
      .orderBy("contained_id", "container_id")
  }

  /** [[explodedShingles]] behind an explicit did-keyed Exchange. What this
    * buys (verified against the EXECUTED adaptive plan, see PLANS_r4 and
    * the ReusedExchange assertion in ScaleSafetySpec): the per-doc
    * aggregations downstream — prefix sort and verification-set build —
    * run exchange-free on did-partitioned input instead of each planning
    * its own shuffle of raw exploded rows, the sh-keyed prefix exchange
    * above it is built once and REUSED by both sides of the candidate
    * self-join, and the verification-set broadcast is built once and
    * reused by both id probes. What it does NOT do: collapse the scans —
    * column pruning gives each consumer's exchange subtree a different
    * canonicalized form, so the corpus is still scanned per consumer
    * (~3x) and only the exchanges above the divergence point dedupe.
    * Measured net effect on the full q22 at sf0.1 (Q22Profile, min-of-3):
    * 1.87 s with the exchange vs 2.02 s without; round 3's 4.09 → 1.64 s
    * gain was this plus the merge-intersect verify kernel and the df==1
    * pre-drop. MinHash deliberately does NOT use this (see
    * [[minHashLshPairs]]): its min() aggregation partial-aggregates
    * before its own shuffle, which beats repartitioning raw rows. */
  private def sharedExploded(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    explodedShingles(docs, idCol, textCol, n).repartition(col("did"))

  /** Per-doc SORTED sets of 64-bit-hashed shingles rebuilt from the shared
    * exploded stream (exchange-reused, zero extra shuffle: the input is
    * already did-partitioned). Verification merge-intersects these long
    * arrays instead of hashing raw strings — the sort is paid once per DOC
    * so that [[graft.expressions.SortedIntersectCount]] is O(|A|+|B|)
    * primitive comparisons per candidate PAIR. The hash is injective in
    * practice (collision odds within one pair's ~100-element union ≈
    * 1e-15). */
  private def setsFromExploded(exploded: DataFrame) =
    exploded.groupBy("did").agg(sort_array(collect_list(col("sh"))).as("set"))

  /** Exact Jaccard over FULL hashed shingle sets for candidate
    * (id_a, id_b) pairs: shuffle join on doc id — candidate and set sides
    * are both id-keyed, so this is two hash joins, never a corpus-wide
    * broadcast. Shared by the prefix-filtered exact path and the MinHash
    * verification.
    *
    * Jaccard = |A∩B| / (|A| + |B| - |A∩B|) with the intersection counted
    * by the codegen'd merge kernel over the pre-sorted sets (sets are
    * duplicate-free, so the union size is exact) — same value as the
    * array_intersect/array_union form it replaces, ~14x cheaper per pair. */
  private def verifyExactJaccard(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    verifyExactJaccardSided(cand, sets, sets, threshold)

  /** Two-sided form: id_a resolves its set in `setsA`, id_b in `setsB` —
    * required when the two pair sides come from DIFFERENT frames that may
    * reuse ids (incremental dedup: history vs batch). */
  private def verifyExactJaccardSided(cand: DataFrame, setsA: DataFrame,
      setsB: DataFrame, threshold: Double): DataFrame = {
    val inter = graft.expressions.SetFunctions
      .sorted_intersect_count(col("sa.set"), col("sb.set")).cast("double")
    val j = inter / (size(col("sa.set")) + size(col("sb.set")) - inter)
    cand
      .join(setsA.as("sa"), col("id_a") === col("sa.did"))
      .join(setsB.as("sb"), col("id_b") === col("sb.did"))
      .where(j >= threshold)
      .select(col("id_a"), col("id_b"), (round((j) * 1000000.0) / 1000000.0).as("jaccard"))
  }

  /** The doc ids appearing on either side of a candidate pair — the gate
    * [[shingleJaccardPairs]]/[[minHashLshPairs]] apply to the exploded
    * shingle stream BEFORE the sorted-set aggregation, so the
    * corpus-sized explode+sort builds sets for candidate docs only.
    * Placed explicitly below the aggregation (Catalyst's
    * PushDownLeftSemiAntiJoin would only sink it when the gate side is
    * broadcastable-by-estimate, and a candidate list has no usable
    * estimate — and hinting it broadcast would assume a bound the pair
    * count doesn't have). The semi join is did-keyed and the exploded
    * stream is already did-partitioned, so the gate reuses that
    * exchange; the extra cand consumer re-reads the candidate join's
    * REUSED exchanges, not the corpus. On a mostly-unique corpus this
    * is almost the whole set-build cost; on the r13 sf1 stress corpus
    * (dense planted near-dups, ~800 MB of per-doc long arrays) it also
    * cuts the humongous-allocation GC pressure that made repeat q22
    * runs swing 13–96 s. Plan-asserted in ScaleSafetySpec. */
  private def candidateDocs(cand: DataFrame): DataFrame =
    cand.select(col("id_a").as("did"))
      .union(cand.select(col("id_b").as("did")))
      .distinct()

  /** Rarest-first ranking of each doc's shingles: rank within a doc by
    * ascending corpus document-frequency (ties by hash); keep the prefix
    * rank <= nsh - ceil(t*nsh) + 1. Guarantee (prefix filtering, Bayardo et
    * al.): J(A,B) >= t implies |A∩B| >= ceil(t*|A|) (since |A∪B| >= |A|),
    * so the globally smallest common shingle sits within the first
    * |A|-ceil(t*|A|)+1 of A — and likewise for B. Returns
    * (did, nsh, sh, rk) so the join can also apply PPJoin length and
    * positional filters.
    *
    * Shape notes for scale: ranking happens with `sort_array` inside a
    * per-doc aggregation — each doc's list is sorted independently (no
    * Window, whose full partition-sort over the exploded corpus was the
    * most expensive stage of the previous form). Shingles with df == 1
    * are dropped BEFORE the sort: they appear in exactly one document, so
    * they can never produce a self-join collision, and on a mostly-unique
    * corpus this shrinks the collect+sort input by an order of magnitude.
    * Ranks are therefore positions among a doc's df>=2 shingles, while
    * prefixLen still uses the FULL set size nsh; both PPJoin bounds stay
    * sound under that rank compression:
    *  - inclusion: a shared shingle has df>=2 and its filtered position
    *    <= its full position <= prefixLen, so it still lands in both
    *    prefixes;
    *  - positional filter: shared-before-s <= rk-1 (every shared shingle
    *    survives the filter, so they all hold filtered ranks), and
    *    shared-after-s <= nsh - pos_full(s) <= nsh - rk — both terms
    *    remain upper bounds on the overlap. */
  private[graft] def prefixShingles(docs: DataFrame, threshold: Double,
      idCol: String, textCol: String, n: Int): DataFrame =
    prefixFromExploded(sharedExploded(docs, idCol, textCol, n), threshold)

  private def prefixFromExploded(sh: DataFrame, threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefixLen = (col("nsh") - ceil(lit(threshold) * col("nsh")) + 1).cast("int")
    sh.join(dfreq, "sh")
      .where(col("df") >= 2)
      .groupBy("did", "nsh")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("lst"))
      .select(col("did"), col("nsh"),
        posexplode(slice(col("lst"), lit(1), greatest(prefixLen, lit(0)))))
      .select(col("did"), col("nsh"), col("col.sh").as("sh"),
        (col("pos") + 1).as("rk"))
  }

  /** Exact shingle-Jaccard near-dup pairs at/above `threshold`.
    * PPJoin-shaped (Xiao et al., WWW'08):
    *  1. candidates join only on rarest-first PREFIX shingles — hot
    *     stop-phrase shingles rank last by document frequency, so they are
    *     excluded from prefixes and can never drive a df² blowup;
    *  2. length filter: J >= t forces t*|A| <= |B| <= |A|/t;
    *  3. positional filter: a shared shingle at ranks (i, j) bounds the
    *     overlap by min(i-1, j-1) + 1 + min(|A|-i, |B|-j), which must reach
    *     ceil(t/(1+t) * (|A|+|B|)) — prunes most spurious candidates before
    *     the expensive distinct+verify;
    *  4. exact-Jaccard verification from the full hashed sets.
    * Identical output to the naive all-shared-shingles join (proven in
    * ScaleSafetySpec); linear shuffles only. */
  def shingleJaccardPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      shareShingleExchange: Boolean = true): DataFrame = {
    val exploded = if (shareShingleExchange) sharedExploded(docs, idCol, textCol, n)
                   else explodedShingles(docs, idCol, textCol, n)
    // the self-join reads ONE sh-keyed exchange twice (ReusedExchange), so
    // the prefix pipeline — dfreq agg, df join, per-doc sort — runs once,
    // not once per join side
    val prefix = prefixFromExploded(exploded, threshold).repartition(col("sh"))
    val minOverlap = ceil(lit(threshold / (1.0 + threshold)) *
      (col("a.nsh") + col("b.nsh")))
    val overlapBound = least(col("a.rk"), col("b.rk")) - 1 +
      least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk")) + 1
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.did") < col("b.did") &&
          col("b.nsh") >= lit(threshold) * col("a.nsh") &&
          col("a.nsh") >= lit(threshold) * col("b.nsh") &&
          overlapBound >= minOverlap)
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"))
      .distinct()
    // sets built for candidate docs only — see [[candidateDocs]]
    verifyExactJaccard(cand, setsFromExploded(
      exploded.join(candidateDocs(cand), Seq("did"), "left_semi")), threshold)
  }

  /** MinHash-LSH near-dup pairs: k hash functions in b bands of r rows
    * (k = b*r); candidate pairs collide on at least one band, then are
    * verified with exact Jaccard over their shingle sets.
    *
    * Unlike [[shingleJaccardPairs]], MinHash does NOT route through the
    * did-keyed [[sharedExploded]] exchange by default: the signature
    * aggregation's min() partial-aggregates BEFORE its shuffle (one
    * k-column row per doc per map partition), so forcing it onto a
    * repartition of raw (did, nsh, sh) rows replaces a compressed
    * exchange with a full-stream one — measured +59% on the whole query
    * at sf0.1 when round 3 shared the exchange for q22's benefit
    * (BENCH_r02 0.73 s → BENCH_r03 1.17 s). The set-build side instead
    * pays a second pass of the codegen'd shingle kernel over the scan,
    * which is cheaper than writing + re-reading the materialized
    * full-stream exchange. `shareShingleExchange = true` restores the
    * shared-exchange shape for callers that co-run the prefix path. */
  def minHashLshPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      shareShingleExchange: Boolean = false): DataFrame = {
    val k = bands * rowsPerBand
    val sh = if (shareShingleExchange) sharedExploded(docs, idCol, textCol, n)
             else explodedShingles(docs, idCol, textCol, n)
    val sigCols = (0 until k).map(j => min(xxhash64(lit(j), col("sh"))).as(s"m$j"))
    val sig = sh.groupBy("did").agg(sigCols.head, sigCols.tail: _*)
    // band keys: hash of each band's r signature values. All band keys are
    // computed in ONE pass and unpivoted with posexplode — a per-band
    // union would re-run the whole shingle+agg lineage `bands` times.
    val bandKeyArr = array((0 until bands).map { b =>
      xxhash64((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }: _*)
    val bandRows = sig.select(col("did"), posexplode(bandKeyArr))
      .toDF("did", "band", "bkey")
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.did") < col("y.did"))
      .select(col("x.did").as("id_a"), col("y.did").as("id_b")).distinct()
    // exact verification against per-doc shingle sets via a shuffle join on
    // id: candidates are already distinct + id-keyed, and the set side is
    // one row per doc — both sides hash-partition on the join key. (A
    // corpus-wide broadcast of the sets would OOM the executors at real
    // corpus sizes; Catalyst may still pick a broadcast on its own when the
    // candidate side is provably tiny.) Sets built for candidate docs
    // only — see [[candidateDocs]]
    verifyExactJaccard(cand, setsFromExploded(
      sh.join(candidateDocs(cand), Seq("did"), "left_semi")), threshold)
  }

  /** Incremental NEAR-dup dedup — the fuzzy twin of [[incrementalDedup]],
    * the shape a refreshed corpus actually runs: today's batch is checked
    * against the already-ingested corpus (and against its own earlier
    * rows) WITHOUT ever re-pairing the corpus with itself. Survivors are
    * incoming docs with no shingle-Jaccard >= `threshold` match in the
    * history and none among smaller-id incoming docs. The within-batch
    * rule is CONSERVATIVE: a doc is dropped when any smaller-id incoming
    * doc matches it, whether or not that doc itself survived (near-dup is
    * not transitive, so chain survivors would need the q71 component
    * machinery — callers wanting keep-one-per-cluster compose
    * [[duplicateClusters]] instead).
    *
    * SCALE: both sides band through the same MinHash scheme as
    * [[minHashLshPairs]], but the band self-join is replaced by
    * history-band x incoming-band and incoming x incoming joins — the
    * history side never pairs with itself, so the candidate space is
    * |batch|-proportional, not |corpus|^2. At steady state the history's
    * band rows are a MATERIALIZED table (ManifestCommit) appended per
    * batch; here they derive from the frame for self-containment. Exact
    * verification stays the id-keyed shuffle-join Jaccard. */
  def incrementalNearDup(existing: DataFrame, incoming: DataFrame,
      threshold: Double, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val k = bands * rowsPerBand
    def bandRows(docs: DataFrame): DataFrame = {
      val sh = explodedShingles(docs, idCol, textCol, n)
      val sigCols = (0 until k).map(j => min(xxhash64(lit(j), col("sh"))).as(s"m$j"))
      val sig = sh.groupBy("did").agg(sigCols.head, sigCols.tail: _*)
      val bandKeyArr = array((0 until bands).map { b =>
        xxhash64((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
      }: _*)
      sig.select(col("did"), posexplode(bandKeyArr)).toDF("did", "band", "bkey")
    }
    val hist = bandRows(existing)
    val inc = bandRows(incoming)
    val crossCand = hist.as("x").join(inc.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.did").as("id_a"), col("y.did").as("id_b")).distinct()
    val withinCand = inc.as("x").join(inc.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.did") < col("y.did"))
      .select(col("x.did").as("id_a"), col("y.did").as("id_b")).distinct()
    // verification sets are built PER SIDE and each candidate id resolves
    // against its own side's sets — an id reused across history and batch
    // (re-crawled doc keeping its key) then compares the two documents'
    // real sets instead of silently merging their shingles into one set
    // (which corrupted the Jaccard for every pair touching that id)
    val histSets = setsFromExploded(explodedShingles(existing, idCol, textCol, n))
    val incSets = setsFromExploded(explodedShingles(incoming, idCol, textCol, n))
    val dropped = verifyExactJaccardSided(crossCand, histSets, incSets, threshold)
      .unionByName(verifyExactJaccard(withinCand, incSets, threshold))
      .select(col("id_b").as(idCol)).distinct()
    incoming.join(dropped, Seq(idCol), "left_anti")
  }

  /** SimHash per doc over whitespace tokens: bit b of the signature is 1
    * iff the sum of ±1 votes (from bit b of each token's hash) is
    * positive. The token hash defaults to xxhash64 (the production path);
    * passing an engine-portable hash (e.g. a truncated md5, q62) with its
    * bit width makes the whole signature — and therefore the hamming
    * pairs — reproducible by the DuckDB oracle. */
  def simHash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      tokenHash: Column => Column = xxhash64(_), bits: Int = 64): DataFrame = {
    val tok = docs.select(col(idCol).as("did"),
      explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", tokenHash(col("w")))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val agg = tok.groupBy("did").agg(votes.head, votes.tail: _*)
    val sig = (0 until bits).map { b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))
    agg.select(col("did").as("doc_id"), sig.as("simhash"))
  }

  /** Duplicate CLUSTERS from a near-dup pair list: connected components
    * via iterative min-label propagation — every document in a component
    * gets the component's smallest doc id as `cluster`, which doubles as
    * the canonical keeper. Completes the dedup flow (pairs alone don't
    * say which rows to drop when A~B~C chain).
    *
    * SCALE: each round is one hash join (labels ⋈ edges) + one
    * map-side-combinable min aggregation, followed by a POINTER-JUMPING
    * step (label(v) := label(label(v)) — one more hash join on the label
    * table): propagation alone needs diameter-d rounds, and at cluster
    * scale rounds are scheduled JOBS, so round count — not per-round work
    * — is the latency bottleneck for deep components; path halving cuts it
    * to O(log d) (the same round-reduction argument as large-star/
    * small-star, Kiveris et al.). The driver loop only reads a per-round
    * convergence COUNT; labels are localCheckpoint'd per round so lineage
    * doesn't deepen. */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 25,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    // COUNT-GATED driver fast path ([[IterUtils.gatedCollect]]): a
    // near-dup pair graph is bounded by the DUPLICATE mass, orders of
    // magnitude below the corpus, so at or under `maxDriverEdges` edges
    // one path-compressed union-find ([[IterUtils.unionByMin]]) replaces
    // the whole pointer-jumping cascade: 2 jobs total where the
    // distributed loop pays ~2 jobs per round plus the per-round exchange
    // work. Union-by-min provably yields the same canonical-min labels
    // (the root of every merge is the min member id — the fixpoint of
    // min-label propagation).
    // Long-id inputs only (every corpus-scale caller): other id types
    // keep the distributed loop so their output schema is untouched.
    // Above the gate the distributed loop below runs exactly as before,
    // over the gate's already-materialized checkpoint.
    val spark = pairs.sparkSession
    val longIds = Seq("id_a", "id_b").forall(c =>
      pairs.schema(c).dataType == org.apache.spark.sql.types.LongType)
    if (!longIds) return duplicateClustersDistributed(pairs, maxRounds)
    IterUtils.gatedCollect(pairs.select(col("id_a"), col("id_b")),
        maxDriverEdges) match {
      case Right(rows) =>
        val labels = IterUtils.unionByMin(rows.map(r => (r.getLong(0), r.getLong(1))))
        spark.createDataFrame(
          java.util.Arrays.asList(labels.map { case (x, c) => Row(x, c) }: _*),
          IterUtils.longSchema("doc_id", "cluster"))
      case Left(ck) =>
        // the loop's eager edge checkpoint and final labels never read
        // `ck` again once built, so the gate's blocks go when it returns
        try duplicateClustersDistributed(ck, maxRounds)
        finally IterUtils.unpersistCheckpoint(ck)
    }
  }

  /** The distributed min-label-propagation + pointer-jumping loop —
    * the above-the-gate path of [[duplicateClusters]], and the only
    * path for non-long id types. */
  private def duplicateClustersDistributed(pairs: DataFrame,
      maxRounds: Int): DataFrame = {
    // undirected edge list + the nodes themselves
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
      .localCheckpoint()
    var round = 0
    var converged = false
    // <= so the budget counts PROPAGATION rounds: converging on a
    // diameter-d component takes O(log d) label-changing rounds plus one
    // no-change round to detect the fixpoint
    while (!converged && round <= maxRounds) {
      // candidate label for v = min over neighbors u of label(u)
      val viaNeighbors = edges.join(labels, edges("u") === labels("id"))
        .groupBy(col("v").as("id2")).agg(min(col("cluster")).as("nl"))
      // materialized: `stepped` feeds BOTH sides of the jump self-join,
      // so without this its propagation subtree (join + agg) would run
      // twice per round unless AQE happened to insert a ReusedExchange —
      // a runtime optimization nothing guarantees across confs/upgrades.
      // The round-start label rides along as `old` (one extra long per
      // row) so the convergence probe below is a filter over this
      // checkpoint instead of a node-keyed join+exchange every round.
      val stepped = labels.join(viaNeighbors, labels("id") === col("id2"), "left")
        .select(labels("id").as("id"),
          least(labels("cluster"), coalesce(col("nl"), labels("cluster"))).as("cluster"),
          labels("cluster").as("old"))
        .localCheckpoint()
      // pointer jumping: follow the label chain one hop (label of my
      // label). A label value is always a node id of the same component,
      // so the self-join matches; left + coalesce guards the root rows.
      val jumped = stepped.as("s").join(
          stepped.select(col("id").as("jid"), col("cluster").as("jcl")).as("j"),
          col("s.cluster") === col("j.jid"), "left")
        .select(col("s.id").as("id"),
          least(col("s.cluster"), coalesce(col("jcl"), col("s.cluster"))).as("cluster"),
          col("s.old").as("old"))
      // LAZY checkpoint: the convergence probe below is a filter + count
      // — a full scan that doubles as the materializing action, so each
      // round pays ONE job here where the eager form paid two
      // (materialize + probe). isEmpty would short-circuit and leave
      // partitions unmaterialized; count() scans them all, which is
      // exactly what the eager checkpoint job did anyway.
      val next = jumped.localCheckpoint(eager = false)
      // `old` IS the round-start label for the same id, so the fixpoint
      // test needs no join back to `labels` — same comparison, zero
      // exchanges (was one shuffle join per round)
      converged = next.where(col("cluster") =!= col("old")).count() == 0L
      // the probe materialized `next`; the round's intermediates can be
      // released NOW instead of whenever the ContextCleaner gets to them
      // (GC-timing-dependent; a deep-diameter run would otherwise hold
      // O(rounds) node-sized block sets)
      IterUtils.unpersistCheckpoint(stepped)
      IterUtils.unpersistCheckpoint(labels)
      labels = next
      round += 1
    }
    // the final labels are a self-contained eager checkpoint — the edge
    // relation can be released before handing the result to the caller
    IterUtils.unpersistCheckpoint(edges)
    // partial labels are silently WRONG — fail loudly if a component's
    // diameter exceeded the round budget rather than return them
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxRounds propagation " +
        "rounds; raise maxRounds (rounds needed = largest component diameter)")
    labels.select(col("id").as("doc_id"), col("cluster"))
  }

  /** Canonical-document selection over [[duplicateClusters]] output: for
    * each near-dup cluster keep exactly one representative — the LARGEST
    * doc by `sizeCol` (RefinedWeb's keep-longest rule), ties to the
    * smallest doc id. Returns every clustered doc with its cluster and a
    * `keep` flag, so the caller can anti-join the losers out of the
    * corpus (or audit what a dedup pass would drop).
    *
    * SCALE: the keeper election is a map-side-combinable max_by
    * aggregation on the cluster key (NOT a rank window — no per-cluster
    * sort materializes), and the flag join shuffles on the same cluster
    * key, so the exchange is planned once and reused. Cluster count is
    * bounded by the pair graph, orders of magnitude below the corpus. */
  def canonicalizeClusters(clusters: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", sizeCol: String = "n_chars"): DataFrame = {
    val sized = clusters.join(
      docs.select(col(idCol).as("doc_id"), col(sizeCol).cast("long").as("sz")),
      Seq("doc_id"))
    val keep = sized.groupBy("cluster")
      .agg(max_by(col("doc_id"), struct(col("sz"), -col("doc_id"))).as("keeper"))
    sized.join(keep, Seq("cluster"))
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("keeper")).as("keep"))
  }

  /** Fuzzy entity matching (record linkage): pairs of rows whose
    * `nameCol` values are within `maxDist` edit distance, found by
    * BLOCKING — candidates must share a blocking key (default: the first
    * whitespace token) and sit within a length band (|len_a - len_b| <=
    * maxDist, a lower bound on edit distance) before the exact
    * levenshtein verify runs. Blocking trades recall for tractability —
    * a pair differing in its FIRST token is never compared; callers
    * needing higher recall union several blocking passes (first token,
    * last token, sorted-token prefix), the standard multi-pass linkage
    * recipe.
    *
    * SCALE: the candidate join is an equi-join on the blocking key whose
    * two inputs are the identical subplan (one exchange, read twice);
    * the length band rides in the join condition so candidates die
    * before the O(len^2) levenshtein verify. A hot blocking key (one
    * giant block) quadratically dominates — salt it with
    * [[SkewUtils]] or add a second blocking column, same as any skewed
    * self-join. */
  def fuzzyMatchPairs(df: DataFrame, idCol: String, nameCol: String,
      maxDist: Int,
      blockKey: Column => Column = substring_index(_, " ", 1)): DataFrame = {
    val n = df.select(col(idCol).as("id"), col(nameCol).as("name"))
      .withColumn("blk", blockKey(col("name")))
      .withColumn("len", length(col("name")))
    n.as("a").join(n.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .where(levenshtein(col("a.name"), col("b.name")) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("dist"))
  }

  /** Multi-pass blocking (the standard linkage recall recipe): union the
    * single-pass candidates from three complementary blocking keys —
    * first token, last token, and the lexicographically-smallest token —
    * and dedup. A pair escapes only by differing in ALL three keys,
    * which at edit distance <= maxDist requires the edits to hit three
    * separate tokens.
    *
    * SCALE: three independent blocked self-joins (each the q118 shape)
    * plus one distinct on the pair key; passes don't multiply the
    * quadratic term — each stays bounded by its own block sizes. */
  def fuzzyMatchPairsMultiPass(df: DataFrame, idCol: String,
      nameCol: String, maxDist: Int): DataFrame = {
    val passes: Seq[Column => Column] = Seq(
      substring_index(_, " ", 1),
      c => element_at(split(c, " "), -1),
      c => array_min(split(c, " ")))
    passes.map(p => fuzzyMatchPairs(df, idCol, nameCol, maxDist, p))
      .reduce(_.unionAll(_))
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist: Manku-style
    * block-combination candidates. The 64-bit signature splits into
    * `nBlocks` blocks; each doc is keyed by every (nBlocks - maxDist)-subset
    * of block values. If hd(x, y) <= maxDist, the flipped bits touch at most
    * maxDist blocks, so some subset of nBlocks - maxDist blocks is
    * bit-identical between x and y → they share that subset's key.
    * Each key hashes (nBlocks - maxDist) * (64/nBlocks) signature bits —
    * e.g. the default (nBlocks=6, maxDist=3) keys on ~32 bits, vs the 16-bit
    * blocks of a plain pigeonhole — so bucket population stays bounded at
    * billions of docs. Candidates are exact-verified via bit_count(xor). */
  def simHashPairs(docs: DataFrame, maxDist: Int,
      idCol: String = "doc_id", textCol: String = "text",
      nBlocks: Int = 6,
      tokenHash: Column => Column = xxhash64(_), bits: Int = 64): DataFrame =
    hammingPairs(simHash(docs, idCol, textCol, tokenHash, bits), maxDist,
      idCol, "simhash", nBlocks, bits)

  /** The Manku pairing step alone, over PRECOMPUTED 64-bit signatures —
    * any fingerprint with the "near means small hamming distance"
    * property routes through the same candidates-then-verify machinery
    * (SimHash text signatures, image aHashes, …). Semantics and output
    * are exactly the old inline form's. */
  def hammingPairs(sigs: DataFrame, maxDist: Int,
      idCol: String = "doc_id", sigCol: String = "simhash",
      nBlocks: Int = 6, bits: Int = 64): DataFrame = {
    val keep = nBlocks - maxDist
    require(maxDist >= 0 && keep >= 1 && nBlocks <= bits,
      s"need 1 <= nBlocks - maxDist; got nBlocks=$nBlocks maxDist=$maxDist")
    val sig = sigs.select(col(idCol).as("doc_id"), col(sigCol).as("simhash"))
    val blocks = mankuBlocks(col("simhash"), nBlocks, bits)
    val combos = (0 until nBlocks).combinations(keep).toSeq
    val keyArr = array(combos.zipWithIndex.map { case (combo, ci) =>
      xxhash64((lit(ci) +: combo.map(blocks)): _*)
    }: _*)
    val keyed = sig.select(col("doc_id"), col("simhash"), explode(keyArr).as("bkey"))
    val hd = bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
    keyed.as("x").join(keyed.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .where(hd <= maxDist)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        hd.cast("long").as("hamming"))
      .distinct()
  }

  /** The Manku block extractors: block b covers bits
    * [b*bits/nBlocks, (b+1)*bits/nBlocks). The mask is width-safe —
    * `(1L << 64) - 1` is 0 under Scala's shift-mod-64, which would key
    * every signature into one bucket (nBlocks=1, bits=64) and silently
    * degrade candidate generation to a full cross join. */
  private[graft] def mankuBlocks(sig: Column, nBlocks: Int, bits: Int): Seq[Column] = {
    val bounds = (0 to nBlocks).map(b => b * bits / nBlocks)
    (0 until nBlocks).map { b =>
      val lo = bounds(b); val w = bounds(b + 1) - lo
      shiftright(sig, lo).bitwiseAND(-1L >>> (64 - w))
    }
  }

  /** Paragraph-granularity exact dedup — the CCNet/NewsPlease habit of
    * deduping at PARAGRAPH level before document level: cross-document
    * repeated paragraphs (cookie banners, newsletter plugs, syndicated
    * ledes) are excised everywhere except their first occurrence, and
    * each document is reassembled from its surviving paragraphs in
    * original order. "First" is global and deterministic: the minimum
    * (doc id, paragraph index) over all occurrences of the paragraph.
    *
    * Precondition: `idCol` is unique. A row with a null id takes no part
    * in choosing first occurrences, so it keeps nothing and counts every
    * paragraph as dropped; rows sharing an id each rebuild from their
    * own text.
    *
    * Returns one row per input document: `idCol`, `clean_text` (the
    * surviving paragraphs re-joined with `sep`, '' when everything was
    * excised), `n_kept`, `n_dropped`. Empty paragraphs (consecutive
    * separators) are dropped before matching — they are separator
    * artifacts, not content.
    *
    * SCALE: one posexplode (corpus-linear), one combinable groupBy on
    * the paragraph MD5 (128-bit — collision odds are ~n²/2¹²⁸,
    * negligible at any corpus size; the winner is min(struct), a
    * partial-aggregating min), one combinable groupBy of the winning
    * (doc, idx) pairs by doc, and one left join of the documents to those
    * index lists on id. Never doc×doc, and no exchange carries an
    * exploded paragraph: the two groupBys move only digests and (doc,
    * idx) pairs, the join moves each document's own row at most once,
    * and that row rebuilds its `clean_text` from its own text after the
    * join. Skewed boilerplate paragraphs (the SAME banner in 10^9 docs)
    * concentrate one digest key on the first groupBy only — a combinable
    * min, handled map-side. */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val winners = docs.where(col(idCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), sepRe)).as(Seq("idx", "para")))
      .where(trim(col("para")) =!= "")
      .groupBy(md5(col("para")).as("ph"))
      .agg(min(struct(col(idCol), col("idx"))).as("w"))
      .groupBy(col("w").getField(idCol).as(idCol))
      .agg(collect_list(col("w").getField("idx")).as("keep"))
    // each step is its own projection so the split and the filter run
    // once per row: Catalyst does not inline an expensive expression
    // that the next projection reads more than once
    docs.select(col(idCol), col(textCol).as("text"))
      .join(winners, Seq(idCol), "left")
      .select(col(idCol), col("keep"), filter(
        transform(split(coalesce(col("text"), lit("")), sepRe),
          (p, i) => struct(i.as("idx"), p.as("para"))),
        x => trim(x.getField("para")) =!= "").as("paras"))
      .select(col(idCol), col("paras"),
        filter(col("paras"), x => array_contains(col("keep"), x.getField("idx"))).as("kept"))
      .select(col(idCol),
        array_join(transform(col("kept"), _.getField("para")), sep).as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("paras")) - size(col("kept"))).cast("long").as("n_dropped"))
  }

  /** Canonical-collapse: fold a crawl corpus on the publisher's own
    * dedup signal — the `rel=canonical` URL [[HtmlExtract.pageMeta]]
    * extracts — BEFORE any content-similarity pass runs. Mirror pages,
    * print views, tracking-parameter variants and mobile twins all
    * declare the same canonical target, so collapsing on it removes the
    * bulk of a crawl's exact duplication for the price of ONE groupBy,
    * shrinking the corpus MinHash/SimHash must shingle and band.
    *
    * Grouping key: the canonicalized declared canonical when non-empty,
    * else the doc's own canonicalized URL (no declaration → self-group).
    * Winner per group: the doc whose own URL IS the canonical target
    * (the publisher's designated copy) when it landed in the corpus,
    * else the smallest doc id — `min(struct(not_self, id))`, a
    * combinable aggregate.
    *
    * Returns one row per group: `idCol` (the winner), `canon_url`,
    * `n_docs` (group size, = 1 + folded copies).
    *
    * SCALE: ONE hash-partitioned groupBy on the canonical URL (partial
    * min/count aggregate — a site declaring one canonical for millions
    * of pages skews a key the map-side combine absorbs); compose with
    * a left-semi join on the winner ids to materialize the collapsed
    * corpus. Never doc×doc; the downstream near-dup pass sees only
    * group winners. */
  def canonicalCollapse(docs: DataFrame, idCol: String = "doc_id",
      urlCol: String = "url", canonicalCol: String = "canonical"): DataFrame = {
    val canon = graft.operators.HtmlExtract.canonicalizeUrl _
    val keyed = docs.select(
      col(idCol).as("_id"),
      canon(col(urlCol)).as("_self"),
      canon(when(col(canonicalCol).isNotNull && col(canonicalCol) =!= "",
        col(canonicalCol)).otherwise(col(urlCol))).as("canon_url"))
    val groups = keyed.groupBy("canon_url")
      .agg(
        min(struct((col("_self") =!= col("canon_url")).cast("int")
          .as("not_self"), col("_id").as("id"))).as("w"),
        count(lit(1)).as("n_docs"))
      .select(col("canon_url"), col("w.id").as(idCol), col("n_docs"))
    groups
  }
}
