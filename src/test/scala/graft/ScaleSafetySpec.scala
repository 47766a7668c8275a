package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Proofs for the scale-safe candidate-generation rewrites: results must be
  * IDENTICAL to the naive/exact forms, and the plans must be free of the
  * 100×-fatal shapes (cartesian products, corpus-wide broadcasts, per-row
  * window shuffles) they replaced. */
class ScaleSafetySpec extends GraftSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"$sf001/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet").cache()

  /** Brute-force shingle-Jaccard over collected sets — the spec oracle. */
  private def naiveJaccardPairs(rows: Seq[(Long, String)], t: Double, n: Int = 3) = {
    def sh(s: String) = {
      val ws = s.split(" ", -1)
      if (ws.length < n) Set.empty[String]
      else (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).toSet
    }
    val sets = rows.map { case (id, txt) => id -> sh(txt) }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib && sa.nonEmpty && sb.nonEmpty
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= t
    } yield (ia, ib, math.round(j * 1e6) / 1e6)).toSet
  }

  test("ShingleHashes expression == xxhash64 over the string shingle spec") {
    val texts = docs.select("text").as[String].take(50) ++
      Seq("", "a", "a b", "a b c", "a  b c d", " x y z ", "a b c a b c")
    for (t <- texts) {
      val want = Dedup.shingleSeq(t, 3)
        .map(g => org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(g),
          org.apache.spark.sql.types.StringType, 42L))
      val got = graft.expressions.ShingleHashes
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), 3)
        .toLongArray().toSeq
      assert(got == want, s"mismatch for text '$t'")
    }
    // and the Column route agrees with the SQL xxhash64 of the string form
    val viaCols = docs.limit(20).select(col("doc_id"),
        explode(Dedup.shingles(col("text"))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaExpr = docs.limit(20).select(col("doc_id"),
        explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"), 3)).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaExpr == viaCols)
  }

  test("prefix-filtered shingle pairs == brute force on the real corpus") {
    val got = Dedup.shingleJaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = naiveJaccardPairs(
      docs.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq, 0.5)
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(want.nonEmpty)
  }

  test("prefix filter survives an adversarial hot-shingle corpus") {
    // every doc shares one ubiquitous stop-phrase prefix (hot shingles with
    // df == corpus size) but true near-dups differ only in rare tails —
    // the old unguarded self-join went df² on exactly this shape
    val hot = "the quick brown fox jumps over the lazy dog again and again"
    val rows = (0L until 60L).map { i =>
      val tail = if (i % 2 == 0) s"unique tail $i alpha beta gamma delta"
      else s"unique tail ${i - 1} alpha beta gamma delta" // near-dup of i-1
      (i, s"$hot $tail")
    }
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.shingleJaccardPairs(df, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == naiveJaccardPairs(rows, 0.5))
    assert(got.nonEmpty)
  }

  test("shingle/minhash plans contain no cartesian or corpus broadcast-nested-loop") {
    for (plan <- Seq(
        Dedup.shingleJaccardPairs(docs, 0.5).queryExecution.executedPlan.toString,
        Dedup.minHashLshPairs(docs, 0.5).queryExecution.executedPlan.toString)) {
      assert(!plan.contains("CartesianProduct"), "cartesian in plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
    }
  }

  test("duplicateClusters driver union-find == distributed loop (gnarly graph)") {
    // chains (deep diameter), a clique, self-pairs, duplicate edges,
    // an isolated pair, and ids far from dense — every shape the two
    // paths could disagree on
    val gnarly = (
      (1L to 9L).map(i => (i, i + 1)) ++           // 10-chain (diameter 9)
        Seq((20L, 21L), (20L, 22L), (21L, 22L),    // triangle
          (30L, 30L),                              // self-pair
          (40L, 41L), (40L, 41L), (41L, 40L),      // duplicate + reversed
          (1000000007L, 7L))                       // big id joins the chain
      ).toDF("id_a", "id_b")
    val fast = Dedup.duplicateClusters(gnarly)
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.duplicateClusters(gnarly, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(fast == dist, s"fast=$fast dist=$dist")
    // canonical-min: the chain + its big-id attachment all label 1
    assert(fast.filter(_._1 <= 10).forall(_._2 == 1L))
    assert(fast.contains((1000000007L, 1L)))
    assert(fast.contains((30L, 30L)))
    // string ids keep the distributed path and its output schema
    val strPairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val strOut = Dedup.duplicateClusters(strPairs)
    assert(strOut.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(strOut.as[(String, String)].collect().toSet ==
      Set(("a", "a"), ("b", "a"), ("c", "a")))
  }

  test("k-core driver peel == distributed loop (core, peel, trajectory)") {
    import graft.operators.GraphOps
    // a 4-clique with a pendant chain, a separate triangle, self-loops
    // and duplicate/reversed edges — peels in 2 rounds at k=2
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L), (11L, 12L), (12L, 10L),
      (7L, 7L), (2L, 1L), (1L, 2L))).toDF("src", "dst")
    for (k <- 1 to 3; rounds <- Seq(1, 2, 8)) {
      val fast = GraphOps.kCore(edges, k, rounds)
        .as[(Long, Long)].collect().toSet
      val dist = GraphOps.kCore(edges, k, rounds, maxDriverEdges = 0)
        .as[(Long, Long)].collect().toSet
      assert(fast == dist, s"kCore k=$k rounds=$rounds: $fast != $dist")
      val fp = GraphOps.kCorePeel(edges, k, rounds)
        .as[(Long, Long)].collect().toSet
      val dp = GraphOps.kCorePeel(edges, k, rounds, maxDriverEdges = 0)
        .as[(Long, Long)].collect().toSet
      assert(fp == dp, s"kCorePeel k=$k rounds=$rounds: $fp != $dp")
      val ft = GraphOps.kCoreTrajectory(edges, k, rounds)
        .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
      val dt = GraphOps.kCoreTrajectory(edges, k, rounds, maxDriverEdges = 0)
        .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
      assert(ft == dt, s"kCoreTrajectory k=$k rounds=$rounds: $ft != $dt")
    }
  }

  test("betweenness driver Brandes == distributed loop (long and string ids)") {
    import graft.operators.GraphOps
    // bridge-heavy shape: two triangles joined by a 3-chain (the chain
    // carries all cross-traffic → nonzero betweenness), plus self-loops
    // and duplicate/reversed edges, plus an unreachable far pair so the
    // depth horizon truncates some source BFS trees
    val longEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 6L), (9L, 9L), (1L, 2L),
      (2L, 1L), (100L, 101L)).toDF("src", "dst")
    val strEdges = Seq(("ab", "cd"), ("cd", "ef"), ("ef", "ab"),
      ("ef", "gh"), ("gh", "ij"), ("ij", "kl"), ("kl", "mn"),
      ("mn", "ij"), ("zz", "zz"), ("ab", "cd")).toDF("src", "dst")
    for (edges <- Seq(longEdges, strEdges); depth <- Seq(1, 3, 6)) {
      val fast = GraphOps.betweenness(edges, depth)
        .collect().map(r => (r.get(0), r.getDouble(1))).toSet
      val dist = GraphOps.betweenness(edges, depth, maxDriverEdges = 0)
        .collect().map(r => (r.get(0), r.getDouble(1))).toSet
      assert(fast == dist, s"betweenness depth=$depth: $fast != $dist")
      // at depth 1 no pair routes THROUGH anything — all zeros is correct
      if (depth >= 3) assert(fast.exists(_._2 > 0.0))
    }
  }

  test("pageRank + trajectory driver loop == distributed (callers' quanta)") {
    import graft.operators.GraphOps
    // weighted digraph with a dangling node (mass leak), a self-loop-ish
    // 2-cycle, multi-weight edges and a zero-in-degree source; ranks are
    // compared at the callers' output quantization (q113 rounds rank to
    // 6 dp; q470 rounds residual to 1e-9) — the operator's documented
    // cross-engine contract is quantization + margin, not bit equality
    val edges = Seq(("a", "b", 3L), ("b", "a", 1L), ("a", "c", 2L),
      ("c", "d", 5L), ("d", "b", 1L), ("e", "a", 4L), ("c", "b", 7L))
      .toDF("src", "dst", "w")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    for (iters <- Seq(0, 1, 5)) {
      val fast = GraphOps.pageRank(edges, iters)
        .collect().map(r => (r.getString(0), r6(r.getDouble(1)))).toSet
      val dist = GraphOps.pageRank(edges, iters, maxDriverEdges = 0)
        .collect().map(r => (r.getString(0), r6(r.getDouble(1)))).toSet
      assert(fast == dist, s"pageRank iters=$iters: $fast != $dist")
    }
    def r9(x: Double) = math.rint(x * 1e9) / 1e9
    for (tol <- Seq(1e-6, 1e-2)) {
      val fast = GraphOps.pageRankTrajectory(edges, 8, tol = tol)
        .collect().map(r => (r.getLong(0), r9(r.getDouble(1)), r.getBoolean(2)))
        .sortBy(_._1)
      val dist = GraphOps
        .pageRankTrajectory(edges, 8, tol = tol, maxDriverEdges = 0)
        .collect().map(r => (r.getLong(0), r9(r.getDouble(1)), r.getBoolean(2)))
        .sortBy(_._1)
      assert(fast.toSeq == dist.toSeq, s"prTraj tol=$tol: $fast != $dist")
    }
    // empty edge relation: both paths must fail loudly, same message
    val empty = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    for (gate <- Seq(1L << 20, 0L)) {
      val ex = intercept[IllegalArgumentException] {
        GraphOps.pageRankTrajectory(empty, 4, maxDriverEdges = gate)
      }
      assert(ex.getMessage.contains("edge relation is empty"))
    }
  }

  test("label propagation driver vote loop == distributed (exact, both shapes)") {
    import graft.operators.GraphOps
    // two clusters bridged by a weak tie, a weight TIE that exercises
    // the (ws desc, label asc) break, a self-loop-only node (restore
    // path keeps its own label), and string ids like the real trade
    // graphs; integer weights make fast == distributed EXACT
    val edges = Seq(("a", "b", 5L), ("b", "c", 5L), ("a", "c", 5L),
      ("x", "y", 4L), ("y", "z", 4L), ("x", "z", 4L), ("c", "x", 1L),
      ("q", "q", 9L), ("m", "n", 2L), ("n", "m", 3L))
      .toDF("src", "dst", "w")
    // bipartite 2-cycle: synchronous LP oscillates, never converges —
    // the trajectory must honestly report changed > 0 through maxRounds
    val bipartite = Seq(("l1", "r1", 1L), ("l2", "r1", 1L),
      ("l1", "r2", 1L), ("l2", "r2", 1L)).toDF("src", "dst", "w")
    for (g <- Seq(edges, bipartite); rounds <- Seq(1, 4, 8)) {
      val fast = GraphOps.labelPropagation(g, rounds)
        .as[(String, String)].collect().toSet
      val dist = GraphOps.labelPropagation(g, rounds, maxDriverEdges = 0)
        .as[(String, String)].collect().toSet
      assert(fast == dist, s"lp rounds=$rounds: $fast != $dist")
      val ft = GraphOps.labelPropagationTrajectory(g, rounds)
        .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
      val dt = GraphOps
        .labelPropagationTrajectory(g, rounds, maxDriverEdges = 0)
        .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
      assert(ft == dt, s"lpTraj rounds=$rounds: $ft != $dt")
    }
    // long ids keep working through the same fast path
    val longG = Seq((1L, 2L, 3L), (2L, 3L, 3L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    assert(GraphOps.labelPropagation(longG, 4).as[(Long, Long)]
      .collect().toSet ==
      GraphOps.labelPropagation(longG, 4, maxDriverEdges = 0)
        .as[(Long, Long)].collect().toSet)
  }

  test("Bpe.train driver merge loop == distributed (real corpus + tie corpus)") {
    import graft.operators.Bpe
    // real corpus: 25 merges, counts far apart and close together
    val fast = Bpe.train(docs, numMerges = 25, minPairCount = 1L)
    val dist = Bpe.train(docs, numMerges = 25, minPairCount = 1L,
      maxDriverWords = 0L)
    assert(fast == dist, s"fast=$fast dist=$dist")
    assert(fast.size == 25)
    // adversarial ties: every adjacent pair in "abab"/"baba" counts the
    // same, so every round exercises the (left, right) UTF8 tie-break;
    // plus a minPairCount early stop
    val tiny = Seq((1L, "ab ab ba"), (2L, "ba ab"), (3L, "zz"))
      .toDF("doc_id", "text")
    for (min <- Seq(1L, 2L, 3L)) {
      val f = Bpe.train(tiny, numMerges = 10, minPairCount = min)
      val d = Bpe.train(tiny, numMerges = 10, minPairCount = min,
        maxDriverWords = 0L)
      assert(f == d, s"min=$min: $f != $d")
    }
  }

  test("TextRank driver loop == distributed (integer-exact, rank ties)") {
    import graft.operators.TextRank
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    for (rounds <- Seq(1, 5); topK <- Seq(2, 10)) {
      val fast = keyed(TextRank.keywords(docs, rounds, topK))
      val dist = keyed(TextRank.keywords(docs, rounds, topK,
        maxDriverPairs = 0L))
      assert(fast == dist, s"rounds=$rounds topK=$topK")
      assert(fast.nonEmpty)
    }
    // symmetric ring: every word ranks IDENTICALLY, so the whole top-K
    // cut is decided by the (r desc, w asc) word tie-break
    val ring = Seq((7L, "a b c d e a"), (8L, "z y x z")).toDF("doc_id", "text")
    val f = keyed(TextRank.keywords(ring, 3, 3))
    val d = keyed(TextRank.keywords(ring, 3, 3, maxDriverPairs = 0L))
    assert(f == d, s"$f != $d")
  }

  test("q22 executed adaptive plan materializes exchange reuse (ReusedExchange >= 2)") {
    // The PPJoin pipeline's cost model rests on the shared shingle
    // exchanges being READ MORE THAN ONCE rather than re-executed per
    // subtree: the sh-keyed prefix exchange feeds both sides of the
    // self-join, and the did-keyed exploded exchange feeds both the prefix
    // pipeline and the verification set build. `explain` of the UNEXECUTED
    // AdaptiveSparkPlan can't show this (AQE inserts ReusedExchange at
    // runtime), so this asserts on the plan AFTER an action — a conf or
    // Spark upgrade that silently disabled stage reuse would re-quadruple
    // the corpus scans and fail here.
    // fresh UNCACHED scan — the registered query's real input shape. A
    // re-read of the SAME path still resolves to the suite's cached
    // InMemoryRelation (CacheManager matches by canonicalized plan), which
    // changes AQE's stage layout and hides the reuse, so scan a COPY of
    // the file at a path nothing has cached.
    val tmp = java.nio.file.Files.createTempDirectory("q22plan")
    val copied = tmp.resolve("documents.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/documents.parquet"), copied)
    val freshDocs = spark.read.parquet(copied.toString)
    val df = Dedup.shingleJaccardPairs(freshDocs, 0.5)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(300))
    val reused = "ReusedExchange".r.findAllIn(finalPlan).length
    assert(reused >= 2, s"expected >=2 ReusedExchange nodes, got $reused in:\n" +
      finalPlan.take(3000))
  }

  test("bm25 plan: one corpus explode, checkpointed tf feeds df, top-k is TakeOrdered") {
    // fresh uncached scan so the cost shape is the registered query's
    val fresh = spark.read.parquet(s"$sf001/documents.parquet")
    val df = graft.operators.TrainingPrep.bm25(fresh, Seq("spark", "window"), 10)
    df.collect()
    // executedPlan.toString prints final + initial AQE sections; audit the
    // FINAL one
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the corpus text is exploded exactly once (sealed inside the
    // checkpointed tf); both [doc_id,term,tf,dl] scans are the SAME RDD
    assert("Generate explode".r.findAllIn(plan).isEmpty,
      "corpus explode must be sealed inside the checkpointed tf, not replayed")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    val corpusScans = "FileScan parquet".r.findAllIn(plan).length
    assert(corpusScans == 1, s"only the avgdl pass may rescan the corpus, got $corpusScans")
  }

  test("surprisal plan: no hard broadcast hint on the model, no window anywhere") {
    // at tiny scale the planner measures the model small and broadcasts —
    // correct. What must hold for a web-scale vocab is that nothing FORCES
    // the broadcast: with the threshold disabled, the model join must
    // plan as a shuffle join (only the single-row total keeps its explicit
    // broadcast hint), and the total must never be an unpartitioned window
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.TrainingPrep.unigramSurprisal(docs)
      val initial = df.queryExecution.sparkPlan.toString
      assert(!initial.contains("BroadcastHashJoin"),
        "model join must degrade to shuffle when not measured small")
      assert(!initial.contains("Window"), "no window in the surprisal plan at all")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LSH hot-bucket guard: hub mass excised, genuine pairs keep their other buckets") {
    import spark.implicits._
    // 40 identical "hub" vectors (one constant embedding — an encoder
    // failure mode) + one genuine near-dup pair off-axis
    val hub = (0L until 40L).map(i => (i, Array(1f, 0f, 0f, 0f)))
    val pair = Seq((100L, Array(0f, 1f, 0.1f, 0f)), (101L, Array(0f, 1f, 0.11f, 0f)))
    val emb = (hub ++ pair).toDF("vec_id", "embedding")
    val guarded = graft.operators.Similarity
      .nearDupPairs(emb, 0.9, maxBucket = Some(10L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the hub's 780 mutual pairs are excised (every bucket they share is
    // hot); the genuine pair survives via its own cold buckets
    assert(guarded == Seq((100L, 101L)), s"got $guarded")
    val unguarded = graft.operators.Similarity.nearDupPairs(emb, 0.9)
      .collect().length
    assert(unguarded == 40 * 39 / 2 + 1, s"got $unguarded")
  }

  test("semantic dedup plan: no cartesian anywhere, CC bounded by pair count") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val df = graft.operators.Similarity.semanticDedup(emb, 0.8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in semantic dedup plan")
  }

  test("SortedIntersectCount == size(array_intersect) on sorted random sets") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(50))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(50))(rnd.nextInt(40).toLong).distinct.sorted
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
    val got = df.select(col("i"),
      graft.expressions.SetFunctions.sorted_intersect_count(col("a"), col("b")).as("m"),
      size(array_intersect(col("a"), col("b"))).as("w"))
    assert(got.where(col("m") =!= col("w")).count() == 0)
    // empty-side edges
    val e = Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq(1L, 2L), Seq.empty[Long]),
      (Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
    assert(e.select(graft.expressions.SetFunctions.sorted_intersect_count(col("a"), col("b")))
      .as[Int].collect().toSeq == Seq(0, 0, 0))
  }

  test("TextStats kernel == declarative split/HOF/regex forms") {
    import graft.operators.TextAnalysis
    val texts = docs.select("text").as[String].take(100) ++ Seq(
      "", " ", "  ", "the the the", "der und ist", "el y es", "le et est",
      "a,b.c!", "naïve café — ünïcode ¡text! 你好", "the  a   of", "x")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toSeq.toDF("i", "text")
    val st = graft.expressions.TextStats.text_stats(col("text"))
    val declaredHits = TextAnalysis.Profiles.zipWithIndex.map { case ((_, ws), k) =>
      (size(filter(split(col("text"), " "), w => w.isin(ws.map(lit): _*))).cast("long")
        === element_at(st, k + 2)).as(s"h$k")
    }
    val checks = df.select(
      (size(split(col("text"), " ")).cast("long") === element_at(st, 1)).as("tok") +:
      (length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("long")
        === element_at(st, 6)).as("punct") +:
      (length(col("text")).cast("long") === element_at(st, 7)).as("chars") +:
      declaredHits: _*)
    checks.columns.foreach { c =>
      assert(checks.where(not(col(c))).count() == 0, s"mismatch in $c")
    }
  }

  test("decontamination plan: broadcast semi-join, corpus side unshuffled") {
    val plan = graft.operators.TrainingPrep.contaminatedIds(
      docs.where(col("doc_id") % 97 =!= 0), docs.where(col("doc_id") % 97 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(500))
    assert(plan.contains("BroadcastExchange"), plan.take(500))
  }

  test("boilerplate gate: anti-join both ways, broadcast only on explicit opt-in") {
    import graft.operators.TrainingPrep
    // default: no forced broadcast — the hot set's size is unbounded by
    // construction (distinct-segments / (maxDocs+1)), so the plan must not
    // carry a broadcast HINT; AQE may still pick one at runtime if the
    // built set measures small, which is the shape we want
    val dflt = TrainingPrep.removeBoilerplate(docs, 8, 2)
    val dfltPlan = dflt.queryExecution.executedPlan.toString
    assert(dfltPlan.contains("LeftAnti"), dfltPlan.take(500))
    assert(!dflt.queryExecution.optimizedPlan.toString.contains("broadcast"),
      "default gate must not force a broadcast of the hot set")
    // opt-in: explicit broadcast for callers that KNOW the cutoff bounds it
    val bc = TrainingPrep.removeBoilerplate(docs, 8, 2, broadcastHotSet = true)
    val bcPlan = bc.queryExecution.executedPlan.toString
    assert(bcPlan.contains("LeftAnti"), bcPlan.take(500))
    assert(bcPlan.contains("BroadcastExchange"), bcPlan.take(500))
    // identical results either way
    assert(dflt.orderBy("doc_id").collect().toSeq ==
      bc.orderBy("doc_id").collect().toSeq)
  }

  test("duplicate clusters: chains collapse transitively to the min label") {
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++ // 10-node chain => 9 rounds of hops
      Seq((100L, 101L), (200L, 201L), (201L, 202L))).toDF("id_a", "id_b")
    val cc = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 10L).foreach(i => assert(cc(i) == 1L, s"node $i"))
    Seq(100L, 101L).foreach(i => assert(cc(i) == 100L))
    Seq(200L, 201L, 202L).foreach(i => assert(cc(i) == 200L))
    assert(cc.size == 15)
    // insufficient round budget must fail loudly, never return partial
    // labels (budget applies to the DISTRIBUTED loop; the driver
    // union-find below the edge-count gate is exact with no rounds)
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxRounds = 2, maxDriverEdges = 0)
        .collect()
    }
  }

  test("count gate: collects at the cap, hands back the checkpoint above it, leaks no blocks") {
    import graft.operators.IterUtils
    val n = 37L
    val ds = spark.range(n).toDF("id")
    val sc = spark.sparkContext
    // persisted RDD ids the gate leaves behind (the ContextCleaner may
    // drop older ones meanwhile, so compare ids, not sizes)
    def added(before: Set[Int]): Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    // at the cap: every row collected, the checkpoint released
    val before = sc.getPersistentRDDs.keySet.toSet
    IterUtils.gatedCollect(ds, maxRows = n) match {
      case Right(rows) => assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until n))
      case Left(_) => fail("a relation of exactly maxRows rows must be collected")
    }
    assert(added(before).isEmpty, "collect side must release its checkpoint")
    // one row over: the materialized checkpoint comes back, still live
    val before2 = sc.getPersistentRDDs.keySet.toSet
    IterUtils.gatedCollect(ds, maxRows = n - 1) match {
      case Right(_) => fail("a relation over maxRows must not be collected")
      case Left(ck) =>
        assert(added(before2).size == 1, "the checkpoint is handed back live")
        assert(ck.count() == n)
        IterUtils.unpersistCheckpoint(ck)
        assert(added(before2).isEmpty)
    }
    // collectIfSmall releases the above-gate checkpoint itself
    val before3 = sc.getPersistentRDDs.keySet.toSet
    assert(IterUtils.collectIfSmall(ds, maxRows = n - 1).isEmpty)
    assert(added(before3).isEmpty, "collectIfSmall must release above the gate")
  }

  test("SRP near-dup pairs == exact all-pairs on a planted-dup corpus") {
    // twins of the first 20 vectors (cos == 1.0) on top of the real corpus
    val twins = emb.limit(20).select((col("vec_id") + 100000).as("vec_id"),
      col("embedding"), col("label"))
    val corpus = emb.union(twins)
    val got = Similarity.nearDupPairs(corpus, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Similarity.nearDupPairsExact(corpus, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.size >= 20)
    assert(got == want, s"recall ${got.size}/${want.size}")
  }

  test("SRP near-dup plan has no cartesian / nested-loop join") {
    val plan = Similarity.nearDupPairs(emb, 0.8).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF assignment runs shuffle-free and matches the windowed argmax") {
    // new assignment = single projection; verify the whole ivf result is
    // unchanged vs round-1 semantics by checking recall against brute force
    // (exact per-cell equality is covered by determinism: same centroids,
    // same argmax tie-break)
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, 0L, 10, nCells = 8, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10 && ivf.intersect(brute).size >= 5)
  }

  test("native SrpBucketKeys is bit-identical to the HOF fold") {
    import graft.expressions.SrpBucketKeys.srp_bucket_keys
    val tables = 6; val planes = 4
    val hof = array((0 until tables).map(t =>
      graft.operators.Similarity.srpKeyHof(col("embedding"), t, planes)): _*)
    val diff = emb.select(
        srp_bucket_keys(col("embedding"), tables, planes).as("native"), hof.as("hof"))
      .where(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("simhash block-combination candidates: bound holds, twins found, no dup rows") {
    val twins = docs.limit(8).select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val both = docs.select("doc_id", "text").union(twins)
    val pairs = Dedup.simHashPairs(both, 3).collect()
    assert(pairs.forall(_.getLong(2) <= 3))
    val set = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set.size == pairs.length, "duplicate candidate rows leaked")
    val twinPairs = docs.limit(8).select("doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert(twinPairs.subsetOf(set), "identical docs must be hamming-0 pairs")
  }

  test("span-removal plan: no cartesian, dup side partial-aggregates below its shuffle") {
    val df = graft.operators.TrainingPrep.removeDuplicateSpans(docs, 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), "cartesian in span-removal plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ in span-removal plan")
    // the dup-detection aggregate must map-side combine BEFORE the gram
    // exchange — that (not exchange reuse) is what bounds the shuffle
    assert("partial_count".r.findAllIn(plan).nonEmpty &&
      "partial_min".r.findAllIn(plan).nonEmpty,
      "keeper aggregation must have a partial (map-side) phase")
    // island merge windows are doc-partitioned, never global
    assert(!plan.contains("windowspecdefinition()") &&
      !"Window \\[[^\\]]*\\], \\[\\]".r.findAllIn(plan).hasNext,
      "unpartitioned window in span-removal plan")
  }

  test("shingle verify plan: candidate gate pushes below the sorted-set aggregation") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = graft.operators.Dedup.shingleJaccardPairs(docs, 0.5)
      .queryExecution.optimizedPlan
    // the sorted-set build (the aggregate producing `set`) must sit
    // ABOVE a LeftSemi gate — i.e. the candidate-docs gate lies below
    // the aggregation, so the corpus-sized explode+sort runs over
    // candidate docs only. (The prefix-ranking sort_array aggregate is
    // deliberately ungated: it feeds candidate GENERATION.)
    val setAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(e =>
        e.name == "set" && e.toString.contains("sort_array")) => a
    }
    assert(setAggs.nonEmpty, "no sorted-set aggregate found")
    setAggs.foreach { a =>
      assert(a.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty,
        "sorted-set aggregate is not gated by a pushed-down LeftSemi")
    }
  }

  test("pmi plan: self-join sides are one subplan; no hard hint on the vocab join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.TrainingPrep.pmiPairs(docs, 40, 5L, 30)
      // sparkPlan = pre-EnsureRequirements: hints visible as join CHOICE
      val initial = df.queryExecution.sparkPlan.toString
      // only the single-row doc count keeps an explicit broadcast; the
      // vocab joins must degrade to shuffle joins
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(initial).length
      assert(bnlj == 1, s"expected exactly the 1-row count broadcast, got $bnlj")
      assert(!initial.contains("BroadcastHashJoin"),
        "vocab/pair joins must not be force-broadcast")
      assert(initial.contains("TakeOrderedAndProject"),
        "top-k must not be a global sort")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bigram surprisal plan: no self-join for pairs, no window, no model hint") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.TrainingPrep.bigramSurprisal(docs)
      val initial = df.queryExecution.sparkPlan.toString
      assert(!initial.contains("Window"), "no window in the bigram plan")
      // pair generation is arrays_zip in the scan project — the only
      // joins are the model lookups (shuffle) + the 1-row total broadcast
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(initial).length
      assert(bnlj == 1, s"only the 1-row total may broadcast, got $bnlj")
      assert(!initial.contains("BroadcastHashJoin"),
        "model joins must not be force-broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
