package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms expressed as declarative per-round plans —
  * the companion to [[Dedup.duplicateClusters]]'s label propagation for
  * graphs where the VALUE iterated is numeric mass, not a component id.
  */
object GraphOps {

  /** Weighted PageRank (Page et al. 1999, the simplified no-sink-
    * redistribution form) over an edge list (src, dst, w): rank_v =
    * (1-d)/N + d * Σ_{u→v} rank_u * w_uv / Σ_u w, run for a FIXED
    * `iterations` rounds so the result is deterministic and cross-engine
    * reproducible (convergence-threshold stopping would make the output
    * depend on float accumulation order). Dangling nodes keep their
    * teleport share but leak their damped mass, as in the classic
    * simplified formulation — callers who need the stochastic-matrix
    * variant can add a sink-redistribution term per round.
    *
    * SCALE: each round is ONE shuffle — contributions join ranks to the
    * normalized edges on src and aggregate on dst with map-side partial
    * combine; the node relation re-enters with a left join to restore
    * zero-in-degree nodes. Ranks are localCheckpoint'd per round so the
    * lineage (and a failure-recovery replay) stays one-round deep
    * instead of growing O(iterations) — the [[Dedup.duplicateClusters]]
    * argument. Edge normalization (out-weight division) happens ONCE
    * before the loop, not per round. The per-round rank relation is
    * node-sized; nothing is collected to the driver except the single
    * node COUNT that seeds the uniform prior. */
  def pageRank(edges: DataFrame, iterations: Int,
      damping: Double = 0.85,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    // COUNT-GATED driver fast path (see [[driverPageRankRun]]); above
    // the gate the distributed loop below runs unchanged
    driverPageRankRun(edges, iterations, damping, 0.0, maxDriverEdges) match {
      case Some((ids, rank, _)) =>
        import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("node", edges.schema("src").dataType, nullable = true),
          StructField("rank", DoubleType, nullable = true)))
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](ids.size)
        ids.indices.foreach(i =>
          out.add(org.apache.spark.sql.Row(ids(i), rank(i))))
        return edges.sparkSession.createDataFrame(out, schema)
      case None => ()
    }
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val outW = e.groupBy("src").agg(sum("w").as("ow"))
    val norm = e.join(outW, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    if (iterations == 0) ranks = ranks.localCheckpoint()
    // the iterate is referenced ONCE per round, so the lineage is a pure
    // CHAIN — rounds stay lazy and one periodic/final checkpoint bounds
    // plan depth and storage ([[ChainCheckpointer]]): the per-round eager
    // checkpoint of the previous form paid a job launch plus a node-sized
    // block write+read EVERY round for what one cut per 8 rounds buys.
    val ck = new ChainCheckpointer()
    for (i <- 1 to iterations) {
      val contrib = norm.join(ranks, norm("src") === ranks("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("p") * col("rank")).as("c"))
      val next = nodes.join(contrib, nodes("node") === col("cnode"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
      ranks = ck.round(next, i, last = i == iterations)
    }
    // ranks is self-contained (eager checkpoint): the loop-invariant
    // relations can be released before handing the result to the caller
    IterUtils.unpersistCheckpoint(norm)
    IterUtils.unpersistCheckpoint(nodes)
    ranks
  }

  /** Eigenvector centrality by fixed-round L1-normalized power
    * iteration over the UNDIRECTED weighted graph: v ← A·v / ‖A·v‖₁ —
    * the influence measure where a neighbor's importance matters
    * (PageRank without teleport/damping). Fixed rounds keep the oracle
    * replayable; per-round normalization keeps the iterate bounded.
    *
    * SCALE: identical profile to [[pageRank]] — one edge-keyed join per
    * round against a node-sized rank relation, eager checkpoint +
    * deterministic release per round. */
  def eigenvectorCentrality(edges: DataFrame, iterations: Int): DataFrame = {
    val und = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
      .where(col("src") =!= col("dst"))
    val sym = und.union(und.select(col("dst"), col("src"), col("w")))
      .groupBy(col("src"), col("dst")).agg(sum("w").as("w"))
      .localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct().localCheckpoint()
    val n = nodes.count()
    var v = nodes.select(col("node"), lit(1.0 / n).as("v")).localCheckpoint()
    for (_ <- 1 to iterations) {
      val contrib = sym.join(v, sym("src") === v("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("w") * col("v")).as("c"))
      val tot = contrib.agg(sum(col("c")).as("t"))
      val next = contrib.join(broadcast(tot))
        .select(col("cnode").as("node"), (col("c") / col("t")).as("v"))
        .localCheckpoint()
      IterUtils.unpersistCheckpoint(v)
      v = next
    }
    IterUtils.unpersistCheckpoint(sym)
    IterUtils.unpersistCheckpoint(nodes)
    v
  }

  /** Katz centrality by fixed-round iteration x ← α·A·x + 1 over the
    * undirected weighted graph — the path-count measure that, unlike
    * eigenvector centrality, gives every node a baseline and converges
    * for α < 1/λ₁ (caller picks a conservative α).
    *
    * SCALE: same per-round profile as [[eigenvectorCentrality]]. */
  def katzCentrality(edges: DataFrame, iterations: Int,
      alpha: Double): DataFrame = {
    val und = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
      .where(col("src") =!= col("dst"))
    val sym = und.union(und.select(col("dst"), col("src"), col("w")))
      .groupBy(col("src"), col("dst")).agg(sum("w").as("w"))
      .localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct().localCheckpoint()
    var x = nodes.select(col("node"), lit(1.0).as("x"))
    if (iterations == 0) x = x.localCheckpoint()
    // chain-shaped (x read once per round): lazy rounds + periodic/final
    // checkpoint, the [[pageRank]] argument
    val ck = new ChainCheckpointer()
    for (i <- 1 to iterations) {
      val contrib = sym.join(x, sym("src") === x("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("w") * col("x")).as("c"))
      val next = nodes.join(contrib, nodes("node") === col("cnode"), "left")
        .select(col("node"),
          (lit(alpha) * coalesce(col("c"), lit(0.0)) + 1.0).as("x"))
      x = ck.round(next, i, last = i == iterations)
    }
    IterUtils.unpersistCheckpoint(sym)
    IterUtils.unpersistCheckpoint(nodes)
    x
  }

  /** Per-node triangle counts over an undirected edge list (src, dst) —
    * the clustering-structure primitive (community density, spam-ring
    * detection, near-dup cluster shape). Self-loops dropped, edges
    * deduped on the unordered pair.
    *
    * SCALE: edges are ORIENTED low→high by (degree, node) before the
    * wedge join — the classic trick that bounds per-vertex wedge
    * generation by out-degree ≤ O(√E) on any graph, making total wedge
    * work O(E^1.5) instead of Σ deg² (a hub node generates NO wedges:
    * everything orients INTO it). Each triangle is found exactly once,
    * at its lowest-ordered vertex. The oriented edge relation feeds
    * three consumers (both wedge sides + the closing-edge probe) and is
    * checkpointed once — the seam rule. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val dir = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("s"), col("b").as("t"),
            struct(col("db").as("kd"), col("b").as("kn")).as("kt")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"),
            struct(col("da").as("kd"), col("a").as("kn")).as("kt"))).as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"), col("e.kt").as("kd"))
      .localCheckpoint()
    val tri = dir.as("e1")
      .join(dir.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kd") < col("e2.kd"))
      .join(dir.as("e3"),
        col("e1.dst") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).cast("long").as("triangles"))
  }

  /** Unweighted BFS hop distances from a source node, run a FIXED
    * `rounds` (= the distance horizon): distance r is final once the
    * frontier has expanded r times, so `rounds` ≥ the component
    * diameter gives exact shortest hop counts. The reachability-with-
    * distance primitive (blast radius, degrees-of-separation) next to
    * [[Dedup.duplicateClusters]]'s plain reachability.
    *
    * SCALE: per round ONE join (current distances onto the symmetrized
    * edges) + one min-aggregation, both keyed small; distances are
    * node-sized and eagerly checkpointed per round with the superseded
    * round released ([[pageRank]] discipline). Unreached nodes are
    * absent, not infinite. */
  def bfsHops(edges: DataFrame, source: String, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val noSelf = e.where(col("src") =!= col("dst"))
    val sym = noSelf.union(noSelf.select(col("dst"), col("src")))
      .distinct().localCheckpoint()
    var dist = sym.sparkSession.createDataFrame(
      Seq((source, 0L))).toDF("node", "d").localCheckpoint()
    for (_ <- 1 to rounds) {
      val expanded = dist.join(sym, dist("node") === sym("src"))
        .select(col("dst").as("node"), (col("d") + 1L).as("d"))
      val next = dist.unionByName(expanded)
        .groupBy("node").agg(min("d").as("d"))
        .localCheckpoint()
      IterUtils.unpersistCheckpoint(dist)
      dist = next
    }
    IterUtils.unpersistCheckpoint(sym)
    dist
  }

  /** Local clustering coefficient per node: triangles(v) / C(deg(v), 2)
    * — how close each node's neighborhood is to a clique (community
    * density, spam-ring tightness). Triangle counts ride the
    * [[triangleCounts]] O(E^1.5) orientation; degrees come from the
    * same deduped undirected edge relation; the coefficient is one
    * exact integer ratio. Degree-1 nodes have no wedge — coefficient
    * 0 by convention. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint() // feeds degrees + the triangle pass
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(und.select(col("a").as("src"), col("b").as("dst")))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round(coalesce(col("triangles"), lit(0L)).cast("double") * 2.0 /
            (col("deg") * (col("deg") - 1)).cast("double") * 1000000.0)
            / 1000000.0)
          .otherwise(0.0).as("coeff"))
  }

  /** k-core of an undirected graph: the maximal subgraph in which every
    * node keeps degree >= k (Seidman 1983), computed by the classic
    * peel — drop every node whose degree fell below k, recompute
    * degrees over the surviving edges, repeat. Runs a FIXED `rounds`
    * so the oracle unrolls the identical rounds: the peel is monotone
    * and idempotent at the fixpoint, so any rounds >= the true peel
    * depth yields exactly the k-core (convergence is spec-asserted,
    * not assumed). Returns (node, core_degree) for the surviving
    * subgraph. Self-loops dropped, edges deduped and symmetrized by
    * (least, greatest) normalization before the loop.
    *
    * SCALE: each round is one degree aggregation (map-side combined)
    * and two node-keyed left-semi joins; the survivor edge set only
    * shrinks. Edges are eagerly checkpointed per round with the
    * superseded round released ([[pageRank]] lifetime discipline); no
    * windows, no driver state beyond the loop counter. */
  /** COUNT-GATED driver fast path shared by the k-core family
    * ([[IterUtils.collectIfSmall]]): at or under `maxDriverEdges` the
    * deduped undirected edge list is collected once and the synchronous
    * peel runs in memory (pure integer set semantics, so the per-round
    * survivor sets are IDENTICAL to the join-aggregate program's); above
    * the gate, or
    * for non-long id types, `None` is returned and the caller runs the
    * distributed loop unchanged. Returns the per-round trajectory
    * (round, survivors, converged) under the same early-exit +
    * rounds-budget contract, plus the final (node, core_degree) pairs
    * (degree among surviving nodes; zero-degree nodes absent, exactly
    * the semi-join + groupBy relation). */
  private def driverPeel(edges: DataFrame, k: Int, rounds: Int,
      maxDriverEdges: Long)
      : Option[(Seq[(Long, Long, Boolean)], Seq[(Long, Long)])] = {
    val longIds = Seq("src", "dst").forall(c =>
      edges.schema(c).dataType == org.apache.spark.sql.types.LongType)
    if (!longIds) return None
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val es = IterUtils.collectIfSmall(und, maxDriverEdges) match {
      case None => return None
      case Some(rs) => rs.map(r => (r.getLong(0), r.getLong(1)))
    }
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    var alive = adj.keySet.toSet
    var prev = alive.size.toLong
    val traj = scala.collection.mutable.ListBuffer.empty[(Long, Long, Boolean)]
    var r = 1
    var converged = false
    while (r <= rounds && !converged) {
      val next = alive.filter(v => adj(v).count(alive.contains) >= k)
      val c = next.size.toLong
      converged = c == prev
      traj += ((r.toLong, c, converged))
      alive = next
      prev = c
      r += 1
    }
    val coreDeg = alive.toSeq.sorted.flatMap { v =>
      val d = adj(v).count(alive.contains).toLong
      if (d > 0) Some((v, d)) else None
    }
    Some((traj.toSeq, coreDeg))
  }

  def kCore(edges: DataFrame, k: Int, rounds: Int,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    require(k >= 1 && rounds >= 1, s"kCore k=$k rounds=$rounds")
    driverPeel(edges, k, rounds, maxDriverEdges) match {
      case Some((_, coreDeg)) =>
        val spark = edges.sparkSession
        import spark.implicits._
        return coreDeg.toDF("node", "core_degree")
      case None => ()
    }
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    var cur = und.localCheckpoint()
    // early exit at the fixpoint: a peel round only ever REMOVES edges
    // (nxt ⊆ cur — two semi-joins of cur against the degree gate), so
    // equal consecutive edge COUNTS imply equal edge SETS, and the peel
    // is idempotent from there — every skipped round would have emitted
    // `cur` verbatim. The count reads the round's fresh checkpoint (no
    // extra shuffle) and saves the full degree+two-semi-join round body
    // for every post-fixpoint round, which on real graphs is most of a
    // conservatively-sized `rounds` budget.
    var prev = cur.count()
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val keep = cur.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select("n")
      // LAZY checkpoint + counted probe: the fixpoint count must scan
      // every partition anyway, so it doubles as the materializing
      // action — one job per round where the eager form paid two
      // (materialize + count). Lineage is truncated at that job's end
      // (doCheckpoint), so the flat-storage discipline is unchanged;
      // the superseded round is released only AFTER the count job has
      // consumed it.
      val nxt = cur
        .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .localCheckpoint(eager = false)
      val c = nxt.count()
      IterUtils.unpersistCheckpoint(cur)
      cur = nxt
      converged = c == prev
      prev = c
      r += 1
    }
    cur.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).cast("long").as("core_degree"))
  }

  /** Synchronous weighted label propagation (Raghavan et al. 2007) over
    * an edge list (src, dst, w): every node starts labeled with itself;
    * each round every node adopts the label carrying the largest total
    * incident weight among its neighbors, ties broken toward the
    * smaller label — run for FIXED `rounds` so the output is
    * deterministic and oracle-unrollable (asynchronous/convergence
    * variants depend on visit order). Edges are symmetrized and
    * self-loops dropped before the loop; a node whose only edges were
    * self-loops keeps its previous label via the restore join.
    * Weights must be integral-valued (counts) so vote sums compare
    * exactly across engines — the tie-break is then total-order stable.
    *
    * SCALE: each round is one join (labels are dst-keyed onto the
    * symmetrized edges), one (node, label) aggregation with map-side
    * combine, and one per-node top-1 — a window over the node key,
    * pruned map-side by WindowGroupLimit to one row per (node, label)
    * group before the shuffle. Labels are eagerly checkpointed and the
    * superseded round released, the [[pageRank]] lifetime discipline.
    * Nothing driver-sized; state per round is one label per node. */
  /** Symmetrized weighted edges + node set for the LP family —
    * checkpointed, shared by [[labelPropagation]] and
    * [[labelPropagationTrajectory]]. */
  private def lpGraph(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val noSelf = e.where(col("src") =!= col("dst"))
    val sym = noSelf
      .union(noSelf.select(col("dst"), col("src"), col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    (sym, nodes)
  }

  /** One synchronous vote round (weighted majority, ties to the smaller
    * label, restore join for vote-less nodes) — the ONE round body
    * shared by [[labelPropagation]] and [[labelPropagationTrajectory]],
    * so the tie-break can never drift between them. The round-start
    * label rides along as `old` (one extra long per row) so the
    * trajectory's changed-count is a filter over the round's checkpoint
    * instead of a node-keyed join+exchange per round. */
  private def lpRound(sym: DataFrame, labels: DataFrame): DataFrame = {
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(col("ws").desc, col("label"))
    val winner = sym
      .join(labels, sym("dst") === labels("node"))
      .groupBy(sym("src").as("v"), labels("label"))
      .agg(sum("w").as("ws"))
      .withColumn("rn", row_number().over(byNode))
      .where(col("rn") === 1)
      .select(col("v"), col("label").as("nl"))
    labels
      .join(winner, labels("node") === col("v"), "left")
      .select(labels("node").as("node"),
        coalesce(col("nl"), labels("label")).as("label"),
        labels("label").as("old"))
  }

  def labelPropagation(edges: DataFrame, rounds: Int,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    // COUNT-GATED driver fast path (see [[driverLpRun]]): synchronous
    // LP is idempotent at the changed==0 fixpoint, so the early exit
    // yields labels IDENTICAL to the fixed-round unroll
    driverLpRun(edges, rounds, earlyExit = false, maxDriverEdges) match {
      case Some((labels, _)) =>
        return lpLabelsDf(edges.sparkSession,
          edges.schema("src").dataType, labels)
      case None => ()
    }
    val (sym, nodes) = lpGraph(edges)
    var labels = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val next = lpRound(sym, labels).localCheckpoint()
      IterUtils.unpersistCheckpoint(labels)
      labels = next
    }
    IterUtils.unpersistCheckpoint(sym)
    IterUtils.unpersistCheckpoint(nodes)
    labels.select(col("node"), col("label"))
  }

  /** Personalized PageRank (the PPR variant of [[pageRank]]): teleport
    * mass returns to the SEED distribution instead of uniform —
    * rank_v = (1−d)·s_v + d·Σ contribs with s uniform over `seeds` —
    * so the ranking answers "important RELATIVE TO these nodes"
    * (recommendation neighborhoods, seeded influence). Same fixed-
    * iteration, per-round eager-checkpoint discipline as [[pageRank]];
    * same simplified dangling treatment. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[String],
      iterations: Int, damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty)
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val outW = e.groupBy("src").agg(sum("w").as("ow"))
    val norm = e.join(outW, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
      .localCheckpoint()
    val prior = when(col("node").isin(seeds: _*),
      lit(1.0 / seeds.size)).otherwise(lit(0.0))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().select(col("node"), prior.as("pri")).localCheckpoint()
    var ranks = nodes.select(col("node"), col("pri").as("rank"))
    if (iterations == 0) ranks = ranks.localCheckpoint()
    // chain-shaped (ranks read once per round): lazy rounds +
    // periodic/final checkpoint, the [[pageRank]] argument
    val ck = new ChainCheckpointer()
    for (i <- 1 to iterations) {
      val contrib = norm.join(ranks, norm("src") === ranks("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("p") * col("rank")).as("c"))
      val next = nodes.join(contrib, nodes("node") === col("cnode"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("pri") +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
      ranks = ck.round(next, i, last = i == iterations)
    }
    IterUtils.unpersistCheckpoint(norm)
    IterUtils.unpersistCheckpoint(nodes)
    ranks
  }

  /** Per-node eccentricity (max hop distance to any reachable node,
    * within the `depth` horizon shared with the oracle) plus the
    * graph-level center/periphery flags (radius = min ecc, diameter =
    * max ecc) — the "how far is the farthest market" readout on top of
    * [[bfsHops]]'s single-source distances, ALL sources simultaneously
    * via the (src, node)-keyed frontier relation.
    *
    * SCALE: `depth` frontier expansions, each one edge join + one
    * anti-join against the visited set (both (src, node)-keyed);
    * state is src×reached-sized. Output: node-sized. */
  /** All-pairs BFS level stream over an undirected edge list: one row
    * per (source s, level lev) for every node FIRST reached from s at
    * lev ∈ [1, depth] — the shared forward phase of [[eccentricity]]
    * and [[harmonicCentrality]]. Materialized (localCheckpoint) with
    * every intermediate frontier released before returning. */
  private def bfsLevelStream(edges: DataFrame, depth: Int): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    val nodes = sym.select(col("u").as("node")).distinct().localCheckpoint()
    var frontier = nodes.select(col("node").as("s"), col("node"))
      .localCheckpoint()
    var visited = frontier
    var levels = Vector.empty[DataFrame]
    var toRelease = Vector(frontier)
    for (r <- 1 to depth) {
      // f is lazy: the eager nv checkpoint right below consumes every
      // row of f, so its job materializes f's marked blocks too (one
      // job per level here, was two); f's other consumers — the next
      // level's join and the levels output — then read those blocks
      val f = frontier.join(sym, col("node") === col("u"))
        .select(col("s"), col("v").as("cand"))
        .join(visited.select(col("s"), col("node").as("cand")),
          Seq("s", "cand"), "left_anti")
        .select(col("s"), col("cand").as("node")).distinct()
        .localCheckpoint(eager = false)
      val nv = visited.union(f).localCheckpoint()
      if (visited ne frontier) IterUtils.unpersistCheckpoint(visited)
      visited = nv
      frontier = f
      levels :+= f.select(col("s"), lit(r.toLong).as("lev"))
      toRelease ++= Vector(f, nv)
    }
    val out = levels.reduce(_ unionByName _).localCheckpoint()
    (toRelease :+ sym :+ nodes :+ visited).foreach(IterUtils.unpersistCheckpoint)
    out
  }

  def eccentricity(edges: DataFrame, depth: Int): DataFrame = {
    val lv = bfsLevelStream(edges, depth)
    // n_reached keeps the original visited-set semantics (self included)
    val ecc = lv.groupBy(col("s").as("node"))
      .agg(max("lev").as("ecc"), (count(lit(1)) + 1L).as("n_reached"))
    val sm = ecc.agg(max("ecc").as("dia"), min("ecc").as("rad"))
    val out = ecc.join(broadcast(sm))
      .select(col("node"), col("ecc").cast("long").as("ecc"),
        col("n_reached").cast("long").as("n_reached"),
        (col("ecc") === col("rad")).as("is_center"),
        (col("ecc") === col("dia")).as("is_peripheral"))
      .localCheckpoint()
    IterUtils.unpersistCheckpoint(lv)
    out
  }

  /** Harmonic centrality Σ_v 1/d(u,v) truncated at `depth` — the
    * disconnected-graph-safe closeness variant (unreachable nodes
    * contribute 0 instead of poisoning the mean). Level counts are
    * exact; the per-node fold is ≤ depth double terms, 6-dp rounded. */
  def harmonicCentrality(edges: DataFrame, depth: Int): DataFrame = {
    val lv = bfsLevelStream(edges, depth)
    val out = lv.groupBy("s", "lev").agg(count(lit(1)).as("cnt"))
      .groupBy(col("s").as("node"))
      .agg(sum(col("cnt")).cast("long").as("n_reached_excl"),
        (round(sum(col("cnt").cast("double") / col("lev").cast("double"))
          * 1000000.0) / 1000000.0).as("harmonic"))
      .localCheckpoint()
    IterUtils.unpersistCheckpoint(lv)
    out
  }

  /** Betweenness centrality (Brandes 2001) over an undirected edge
    * list, ALL sources processed simultaneously: the forward phase runs
    * `depth` BFS frontier expansions carrying exact integer shortest-
    * path counts σ keyed by (src, node) — one relation, every source a
    * key, the [[TextRank]] simultaneity trick; the backward phase walks
    * the levels deepest-first accumulating the dependency
    * δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ(w)), QUANTIZED to integer
    * billionths per level (the [[hits]]/[[EventOps.stationaryDistribution]]
    * pattern) so each level's δ is an exact integer tuple and the final
    * per-node fold Σ_src δ is an exact decimal sum. Undirected halving
    * applied at the end. Pairs farther apart than `depth` contribute
    * nothing — `depth` is a CONTRACT shared with the oracle, exact when
    * it covers the diameter.
    *
    * SCALE: each forward round is one frontier-edge join + an
    * anti-join against the visited set + a map-side-combined σ sum;
    * each backward level is one three-way (src, node)-keyed join. State
    * is (src × reached-node)-sized — all-sources Brandes is inherently
    * n·reach work; run it on thresholded/sampled graphs, or shard the
    * source set across jobs at web scale. */
  def betweenness(edges: DataFrame, depth: Int,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    // COUNT-GATED driver fast path (see [[driverBetweenness]]); above
    // the gate (or the n·m work budget) the distributed program below
    // runs unchanged
    driverBetweenness(edges, depth, maxDriverEdges) match {
      case Some(df) => return df
      case None => ()
    }
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    val nodes = sym.select(col("u").as("node")).distinct().localCheckpoint()
    // forward: frontiers f(0..depth) with exact sigma; visited accumulates
    var frontiers = Vector(nodes.select(col("node").as("s"), col("node"),
      lit(1L).cast(dec).as("sigma")).localCheckpoint())
    var visited = frontiers(0).select(col("s"), col("node")).localCheckpoint()
    for (_ <- 1 to depth) {
      // f lazy, materialized by the eager nv union below (reads every
      // f row) — one job per level here, was two; the backward pass
      // reads the then-frozen blocks
      val f = frontiers.last.join(sym, col("node") === col("u"))
        .select(col("s"), col("v").as("cand"), col("sigma"))
        .join(visited.select(col("s"), col("node").as("cand")),
          Seq("s", "cand"), "left_anti")
        .groupBy(col("s"), col("cand").as("node"))
        .agg(sum("sigma").as("sigma"))
        .localCheckpoint(eager = false)
      val nv = visited.union(f.select(col("s"), col("node"))).localCheckpoint()
      IterUtils.unpersistCheckpoint(visited)
      visited = nv
      frontiers :+= f
    }
    // backward: deltas quantized to 1e-9 per level, deepest level = 0
    val levelDeltas = Array.fill[DataFrame](depth + 1)(null)
    levelDeltas(depth) = frontiers(depth)
      .select(col("s"), col("node"), lit(0L).as("dq")).localCheckpoint()
    for (lev <- depth - 1 to 0 by -1) {
      val fv = frontiers(lev)
      val acc = fv.join(sym, col("node") === col("u"))
        .select(col("s"), col("node"), col("sigma"), col("v").as("w"))
        .join(frontiers(lev + 1).select(col("s"), col("node").as("w"),
          col("sigma").as("sw")), Seq("s", "w"))
        .join(levelDeltas(lev + 1).select(col("s"), col("node").as("w"),
          col("dq")), Seq("s", "w"))
        .groupBy(col("s"), col("node"))
        .agg(sum((col("sigma").cast("double") / col("sw").cast("double")) *
          (lit(1.0) + col("dq") / lit(1000000000.0))).as("acc"))
      levelDeltas(lev) = fv.select(col("s"), col("node"))
        .join(acc, Seq("s", "node"), "left")
        .select(col("s"), col("node"),
          round(coalesce(col("acc"), lit(0.0)) * 1000000000.0)
            .cast("long").as("dq"))
        .localCheckpoint()
    }
    // betweenness: sum deltas of NON-source levels (1..depth), halved
    val all = (1 to depth).map(l => levelDeltas(l).select(col("node"),
      col("dq"))).reduce(_ unionByName _)
    val out = nodes
      .join(all.groupBy("node").agg(sum(col("dq").cast(dec)).as("sd")),
        Seq("node"), "left")
      .select(col("node"),
        (round((coalesce(col("sd"), lit(0L)).cast("double") /
          lit(1000000000.0)) / 2.0 * 1000000.0) / 1000000.0)
          .as("betweenness"))
      .localCheckpoint()
    (frontiers ++ levelDeltas :+ sym :+ nodes :+ visited)
      .foreach(IterUtils.unpersistCheckpoint)
    out
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    * list (src, dst), run for FIXED `rounds` with max-normalization in
    * integer billionths: each half-round sums the opposite score over
    * the edges (an EXACT decimal(38,0) integer sum — no float
    * accumulation-order drift), then rescales so the max is 10⁹ via
    * round(score/max·10⁹), a correctly-rounded double op on exact
    * integer inputs — deterministic in every engine. L2 normalization
    * would put a sqrt inside the loop and compound ulps across rounds;
    * max-normalization is the fixed-point-friendly integer choice
    * (scores converge to the principal eigenvector direction either
    * way, and the output is scale-free [0, 1]).
    *
    * Determinism bound: score sums stay exact while nodes·10⁹ < 2⁵³
    * (~9·10⁶ nodes); past that, lift the ratio into decimal division.
    *
    * SCALE: per half-round one edge-keyed join + one map-side-combined
    * aggregation + a broadcast 1-row max; scores are node-sized,
    * eagerly checkpointed, superseded rounds released ([[pageRank]]
    * discipline). Output: (node, auth, hub) in [0, 1]. */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val B = 1000000000L
    def renorm(sums: DataFrame): DataFrame = {
      // sums: (node, s) possibly missing nodes; rescale max -> 10^9
      val mx = sums.agg(max(col("s")).as("m"))
      nodes.join(sums, Seq("node"), "left").join(broadcast(mx))
        .select(col("node"),
          round(coalesce(col("s"), lit(0L)).cast("double") /
            col("m").cast("double") * B.toDouble).cast("long").as("v"))
    }
    var h = nodes.select(col("node"), lit(B).as("v")).localCheckpoint()
    var a = h
    for (_ <- 1 to rounds) {
      val aSums = e.join(h.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("v").as("s"))
      val aNext = renorm(aSums).localCheckpoint()
      if (a ne h) IterUtils.unpersistCheckpoint(a)
      a = aNext
      val hSums = e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum("v").as("s"))
      val hNext = renorm(hSums).localCheckpoint()
      IterUtils.unpersistCheckpoint(h)
      h = hNext
    }
    val out = nodes
      .join(a.select(col("node"), col("v").as("av")), Seq("node"), "left")
      .join(h.select(col("node"), col("v").as("hv")), Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("av"), lit(0L)).cast("double") / B.toDouble).as("auth"),
        (coalesce(col("hv"), lit(0L)).cast("double") / B.toDouble).as("hub"))
      .localCheckpoint()
    Seq(e, nodes, a, h).foreach(IterUtils.unpersistCheckpoint)
    out
  }

  /** k-core membership by synchronous peeling (Seidman 1983), run for a
    * FIXED `rounds`: each round drops every node whose degree within the
    * surviving subgraph is < k, simultaneously — the deterministic,
    * oracle-unrollable variant of the usual peel-to-fixpoint (the
    * fixpoint is reached when a round removes nothing; with equal fixed
    * rounds on both engines the outputs agree whether or not the
    * fixpoint was hit, so the round count is a CONTRACT, not a
    * convergence guess). Returns surviving nodes with their degree
    * inside the surviving set — the core's internal connectivity.
    *
    * SCALE: per round, the survivor set filters the symmetrized edge
    * relation with two node-keyed joins (AQE broadcasts the survivor
    * side when it measures small) and one map-side-combined degree
    * count; survivor state is node-sized, eagerly checkpointed, the
    * superseded round released ([[pageRank]] discipline). No per-node
    * sequential peel order exists anywhere — the synchronous variant is
    * what makes the algorithm a join-aggregate program. */
  /** Canonical symmetric edge relation of the k-core family:
    * undirected-dedup'd, self-loops dropped, checkpointed (both the peel
    * loop and the trajectory read it every round). */
  private def kCoreSym(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
  }

  /** Survivor-filtered degree counts — the ONE peel-round body shared by
    * [[kCorePeel]] and [[kCoreTrajectory]], so the two can never drift. */
  private def survivorDegrees(sym: DataFrame, alive: DataFrame): DataFrame =
    sym.join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))

  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    driverPeel(edges, k, rounds, maxDriverEdges) match {
      case Some((_, coreDeg)) =>
        val spark = edges.sparkSession
        import spark.implicits._
        return coreDeg.toDF("node", "core_degree")
      case None => ()
    }
    val sym = kCoreSym(edges)
    var alive = sym.select(col("u").as("node")).distinct().localCheckpoint()
    // early exit at the fixpoint: the peel only ever shrinks the survivor
    // set (next ⊆ alive — the u-side semi-join keeps only alive nodes),
    // so equal consecutive COUNTS imply equal SETS and every later round
    // is the fixpoint verbatim ([[kCoreTrajectory]]'s contract). The
    // count reads the round's checkpoint — no extra shuffle — and saves
    // the full two-semi-join round body for every post-fixpoint round.
    var prev = alive.count()
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      // lazy checkpoint: the fixpoint count below is a full scan and
      // doubles as the materializing action (one job per round, was two);
      // the superseded round is released only after that job consumed it
      val next = survivorDegrees(sym, alive)
        .where(col("d") >= k).select("node").localCheckpoint(eager = false)
      val c = next.count()
      IterUtils.unpersistCheckpoint(alive)
      alive = next
      converged = c == prev
      prev = c
      r += 1
    }
    // eager-checkpoint the node-sized result BEFORE releasing the edge
    // relation it reads — a lazy return here would dangle on sym's blocks
    val coreDeg = survivorDegrees(sym, alive)
      .select(col("node"), col("d").cast("long").as("core_degree"))
      .localCheckpoint()
    IterUtils.unpersistCheckpoint(sym)
    IterUtils.unpersistCheckpoint(alive)
    coreDeg
  }

  /** Run-to-convergence k-core peel with an explicit CONVERGENCE
    * CONTRACT — the iterative-convergence report the fixed-round graph
    * family (q456's 8-round peel, PageRank, label propagation) implies
    * but never surfaces: per round, the survivor count and a
    * `converged` flag, with genuine EARLY EXIT once the fixpoint is
    * reached.
    *
    * The fixpoint test is driver-checked on ONE number per round: the
    * peel only ever shrinks the survivor set, so equal consecutive
    * COUNTS imply equal SETS — a monotone-count fixpoint needs no
    * set-level comparison join. After the first converged round the
    * remaining rows up to `maxRounds` are emitted verbatim (the
    * fixpoint is idempotent by definition), so the output shape is
    * independent of WHERE convergence lands and stays oracle-checkable
    * by a fixed unroll, while the engine stops paying for rounds the
    * moment they stop changing anything.
    *
    * Output: (round 1..maxRounds, survivors, converged) where
    * `converged` at round r means survivors(r) == survivors(r-1)
    * (round 0 = the full node set).
    *
    * SCALE: identical per-round profile to [[kCorePeel]] (two
    * node-keyed semi-joins + one map-side-combined degree count);
    * driver state is one Long per round. The early exit is the point:
    * real graphs converge in a handful of rounds, and a pinned
    * `rounds` either wastes passes past the fixpoint or silently
    * under-peels — this reports which happened. */
  def kCoreTrajectory(edges: DataFrame, k: Int, maxRounds: Int,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    require(maxRounds >= 1, s"maxRounds=$maxRounds must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    driverPeel(edges, k, maxRounds, maxDriverEdges) match {
      case Some((traj0, _)) =>
        // post-fixpoint rounds are the fixpoint verbatim — emitted, not run
        val filled = traj0 ++ ((traj0.size + 1) to maxRounds)
          .map(r => (r.toLong, traj0.last._2, true))
        return filled.toDF("round", "survivors", "converged")
      case None => ()
    }
    val sym = kCoreSym(edges)
    var alive = sym.select(col("u").as("node")).distinct().localCheckpoint()
    var prev = alive.count()
    val traj = scala.collection.mutable.ListBuffer.empty[(Long, Long, Boolean)]
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      // lazy checkpoint + counted probe — see [[kCorePeel]]
      val next = survivorDegrees(sym, alive)
        .where(col("d") >= k).select("node").localCheckpoint(eager = false)
      val c = next.count()
      IterUtils.unpersistCheckpoint(alive)
      alive = next
      converged = c == prev
      traj += ((r.toLong, c, converged))
      prev = c
      r += 1
    }
    // post-fixpoint rounds are the fixpoint verbatim — emitted, not run
    while (r <= maxRounds) { traj += ((r.toLong, prev, true)); r += 1 }
    IterUtils.unpersistCheckpoint(alive)
    IterUtils.unpersistCheckpoint(sym)
    traj.toSeq.toDF("round", "survivors", "converged")
  }

  /** [[labelPropagation]] under the CONVERGENCE CONTRACT
    * ([[kCoreTrajectory]]'s shape for the vote-based family): per round
    * (round, changed, converged) where `changed` counts nodes whose
    * label moved this round, with genuine EARLY EXIT at the fixpoint.
    * Unlike the peel (whose monotone survivor count lets one Long prove
    * set equality), LP labels can move without any count moving — so the
    * fixpoint test IS the per-node comparison: `changed == 0` means this
    * round's labels equal the previous round's, and synchronous LP with
    * a deterministic tie-break is then idempotent, so post-fixpoint
    * rounds are emitted verbatim (changed 0, converged true), keeping
    * the output oracle-checkable by a fixed unroll. Synchronous LP can
    * also OSCILLATE (bipartite 2-cycles) — then no round converges and
    * the trajectory honestly reports changed > 0 through `maxRounds`,
    * which is exactly the signal a pinned-round caller never gets.
    *
    * SCALE: per round, [[labelPropagation]]'s profile plus one
    * node-keyed join for the changed count; driver state is one Long
    * per round. */
  def labelPropagationTrajectory(edges: DataFrame, maxRounds: Int,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    require(maxRounds >= 1, s"maxRounds=$maxRounds must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    // COUNT-GATED driver fast path (see [[driverLpRun]])
    driverLpRun(edges, maxRounds, earlyExit = true, maxDriverEdges) match {
      case Some((_, traj)) =>
        return traj.toDF("round", "changed", "converged")
      case None => ()
    }
    val (sym, nodes) = lpGraph(edges)
    var labels = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    val traj = scala.collection.mutable.ListBuffer.empty[(Long, Long, Boolean)]
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      // lazy checkpoint: the changed-count below scans every partition
      // (filter + count never short-circuits), so it doubles as the
      // materializing action — one job per round, was two
      val next = lpRound(sym, labels).localCheckpoint(eager = false)
      // `old` IS the round-start label for the same node (carried by
      // lpRound), so the changed-count is a filter over the checkpoint —
      // zero exchanges (was one shuffle join per round)
      val changed = next.where(col("label") =!= col("old")).count()
      IterUtils.unpersistCheckpoint(labels)
      labels = next
      converged = changed == 0L
      traj += ((r.toLong, changed, converged))
      r += 1
    }
    // post-fixpoint rounds are the fixpoint verbatim — emitted, not run
    while (r <= maxRounds) { traj += ((r.toLong, 0L, true)); r += 1 }
    IterUtils.unpersistCheckpoint(labels)
    IterUtils.unpersistCheckpoint(sym)
    IterUtils.unpersistCheckpoint(nodes)
    traj.toSeq.toDF("round", "changed", "converged")
  }

  /** [[pageRank]] under the CONVERGENCE CONTRACT ([[kCoreTrajectory]] /
    * [[labelPropagationTrajectory]]'s shape for the numeric-mass
    * family): per round (round, residual, converged) where `residual`
    * is the MAX-norm ‖rank_r − rank_{r−1}‖_∞ and `converged` tests it
    * against `tol`, with genuine EARLY EXIT at the first converged
    * round.
    *
    * Two deliberate deviations from the peel/LP trajectories, both
    * forced by PR being a CONTRACTION rather than an idempotent
    * fixpoint:
    *  - the residual is the max norm, NOT an L1 sum — MAX over the
    *    per-node |diffs| is accumulation-order-independent GIVEN the
    *    per-node ranks, where an L1 SUM would add one more
    *    order-dependent fold on top. The per-node ranks themselves DO
    *    carry sum-aggregation ulps (~1e-15 relative, both engines), so
    *    the cross-engine contract is quantization + margin, not bit
    *    equality: callers pin `tol` with measured separation from the
    *    residual sequence (the q470 register row uses ≥ 1.3×) and
    *    display-round the residual;
    *  - there is no verbatim post-fixpoint tail: PR residuals keep
    *    shrinking after crossing `tol` (the iterate never stops
    *    moving), so fabricated tail rows could not match an oracle's
    *    unroll — the trajectory ENDS at the first converged round (or
    *    `maxRounds` if never converged), and the row count itself is
    *    part of the contract.
    *
    * SCALE: per round, [[pageRank]]'s one-shuffle profile plus one
    * node-keyed join for the residual; driver state is one Double per
    * round; eager checkpoint + deterministic release per round. */
  def pageRankTrajectory(edges: DataFrame, maxRounds: Int,
      damping: Double = 0.85, tol: Double = 1e-6,
      maxDriverEdges: Long = IterUtils.MaxDriverRows): DataFrame = {
    require(maxRounds >= 1, s"maxRounds=$maxRounds must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    // COUNT-GATED driver fast path (see [[driverPageRankRun]]); above
    // the gate the distributed loop below runs unchanged
    driverPageRankRun(edges, maxRounds, damping, tol, maxDriverEdges) match {
      case Some((ids, _, traj)) =>
        require(ids.nonEmpty, "pageRankTrajectory: edge relation is empty")
        return traj.toDF("round", "residual", "converged")
      case None => ()
    }
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val outW = e.groupBy("src").agg(sum("w").as("ow"))
    val norm = e.join(outW, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
      .localCheckpoint()
    val nodeSet = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodeSet.count()
    // fail loudly, not with Infinity ranks + an NPE on the first
    // residual extraction
    require(n > 0, "pageRankTrajectory: edge relation is empty")
    var ranks = nodeSet.select(col("node"), lit(1.0 / n).as("rank"))
      .localCheckpoint()
    val traj = scala.collection.mutable.ListBuffer.empty[(Long, Double, Boolean)]
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      val contrib = norm.join(ranks, norm("src") === ranks("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("p") * col("rank")).as("c"))
      // the restore join runs against `ranks` (same node set as nodeSet,
      // by construction) so the round-start rank rides along as `prev`
      // and the residual is an agg over the checkpoint — zero exchanges
      // (was one shuffle join per round)
      val next = ranks.join(contrib, ranks("node") === col("cnode"), "left")
        .select(ranks("node").as("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"),
          ranks("rank").as("prev"))
        .localCheckpoint(eager = false)
      // lazy checkpoint: the residual agg is a full scan and doubles as
      // the materializing action — one job per round, was two
      val resid = next
        .agg(max(abs(col("rank") - col("prev")))).head.getDouble(0)
      IterUtils.unpersistCheckpoint(ranks)
      ranks = next
      converged = resid < tol
      traj += ((r.toLong, resid, converged))
      r += 1
    }
    IterUtils.unpersistCheckpoint(ranks)
    IterUtils.unpersistCheckpoint(norm)
    IterUtils.unpersistCheckpoint(nodeSet)
    traj.toSeq.toDF("round", "residual", "converged")
  }

  /** Adamic-Adar link prediction (Adamic & Adar 2003): for every
    * NON-adjacent node pair with at least one common neighbor, the score
    * Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) plus the raw common-neighbor count —
    * the classic "who should be connected next" ranking. Every common
    * neighbor z has deg ≥ 2 by construction, so ln(deg z) > 0.
    *
    * SCALE: candidate pairs come from the wedge join (both directed
    * copies keyed on the shared center z), which is Σ deg² work — the
    * same budget as [[triangleCounts]] pre-orientation. Callers MUST
    * bound hub degrees first (threshold the edge relation, as the q256
    * register row does, or cap N(z) at a sampled top-d) — an unbounded
    * hub makes wedge generation quadratic in its degree. Existing edges
    * leave via a pair-keyed anti-join; the degree table enters broadcast
    * (node-sized). */
  def adamicAdar(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint() // feeds degrees, wedges, and the anti-join
    val sym = und.select(col("a").as("z"), col("b").as("n"))
      .union(und.select(col("b").as("z"), col("a").as("n")))
    val deg = sym.groupBy("z").agg(count(lit(1)).as("deg"))
    val wedged = sym.join(broadcast(deg), Seq("z"))
    val pairs = wedged.as("e1")
      .join(wedged.as("e2"),
        col("e1.z") === col("e2.z") && col("e1.n") < col("e2.n"))
      .select(col("e1.n").as("id_a"), col("e2.n").as("id_b"),
        col("e1.deg").as("dz"))
    pairs
      .join(und.select(col("a").as("id_a"), col("b").as("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("common"),
        (round(sum(lit(1.0) / log(col("dz").cast("double"))) * 1000000.0)
          / 1000000.0).as("aa_score"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive when
    * hubs attach to hubs (social shape), negative when hubs attach to
    * leaves (infrastructure shape). The one scalar that says which
    * regime a graph is in before any skew mitigation is chosen.
    *
    * Determinism: degrees are exact integer counts; the Pearson fold
    * uses decimal(38,0) sufficient sums over the directed pair list
    * (each undirected edge contributes both orientations, the standard
    * symmetrization) and touches doubles only in the final single-row
    * expression — sqrt is IEEE-correctly-rounded, so engines agree to
    * the bit before display rounding.
    *
    * SCALE: dedup + degree aggregation are edge/node-keyed map-side
    * passes; the degree join back to edges is node-keyed (AQE
    * broadcasts when the degree table measures small). Output: 1 row. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint() // feeds degrees + the pair list
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dir = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val pairs = dir
      .join(deg.select(col("node").as("u"), col("deg").as("dx")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dy")), "v")
    val agg = pairs.agg(count(lit(1)).cast(dec).as("m"),
      sum(col("dx")).cast(dec).as("sx"), sum(col("dy")).cast(dec).as("sy"),
      sum(col("dx").cast(dec) * col("dx").cast(dec)).as("sxx"),
      sum(col("dy").cast(dec) * col("dy").cast(dec)).as("syy"),
      sum(col("dx").cast(dec) * col("dy").cast(dec)).as("sxy"))
    val num = (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (col("m") * col("syy") - col("sy") * col("sy")).cast("double")
    agg.select(col("m").cast("long").as("n_directed_edges"),
      when(vx > 0 && vy > 0,
        round(num / sqrt(vx * vy) * 1000000.0) / 1000000.0)
        .as("assortativity"))
  }

  /** Strongly connected components of a DIRECTED graph — the directed
    * structure the undirected CC/k-core/eccentricity family can't see:
    * reachability closure by `rounds` DOUBLING joins (round r covers
    * paths ≤ 2^r, so log₂(diameter) rounds close the graph — each round
    * one self-join of the pair relation, checkpointed), then
    * scc(v) = min{u : u ⇝ v ∧ v ⇝ u} via one semi-join of the closure
    * against its own transpose. Mutual-reachability labels are exact
    * set algebra — no iteration-order or float concerns.
    *
    * SCALE: the closure relation is O(n·reach) — right-sized for the
    * thresholded dimension graphs this register runs it on (the same
    * contract as the all-pairs BFS level stream behind eccentricity /
    * harmonic centrality); web-scale SCC would swap in FW-BW
    * partitioning on top of the same primitives. */
  def scc(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val e = edges.select(col("src").as("s"), col("dst").as("d"))
      .where(col("s") =!= col("d")).distinct()
    val nodes = e.select(col("s").as("n"))
      .union(e.select(col("d"))).distinct()
    var reach = nodes.select(col("n").as("s"), col("n").as("d"))
      .union(e).distinct().localCheckpoint()
    for (_ <- 1 to rounds) {
      val grown = reach
        .join(reach.select(col("s").as("d"), col("d").as("d2")), "d")
        .select(col("s"), col("d2").as("d"))
        .union(reach).distinct().localCheckpoint()
      IterUtils.unpersistCheckpoint(reach)
      reach = grown
    }
    val mutual = reach.join(
      reach.select(col("d").as("s"), col("s").as("d")),
      Seq("s", "d"), "left_semi")
    val lab = mutual.groupBy("s").agg(min("d").as("scc"))
      .select(col("s").as("node"), col("scc"))
    val sz = lab.groupBy("scc").agg(count(lit(1)).cast("long")
      .as("scc_size"))
    // the final closure checkpoint stays resident — the lazily-returned
    // result reads it (the scoreRound lifetime note applies)
    lab.join(broadcast(sz), "scc")
      .select(col("node"), col("scc"), col("scc_size"))
  }

  /** MAXIMUM spanning forest by Borůvka — the backbone extraction MST
    * variant (heaviest tree): per round every component selects its
    * best incident edge under the STRICT total order (w desc, a asc,
    * b asc) — a struct-min aggregation, map-side combinable — then
    * components merge by connected components over the selected edges
    * (the q71 pointer-jumping machinery on the component graph, which
    * shrinks geometrically). Because the edge order is total, the
    * maximum spanning forest is UNIQUE, so a DIFFERENT algorithm
    * (Kruskal, iterating the same total order) must produce the
    * identical edge set — the q127 two-algorithm oracle pattern.
    *
    * Input: undirected edges (a, b, w) with a < b, long ids/weights.
    * SCALE: the per-round EDGE work (the corpus-derived part) is one
    * broadcast label join + one map-side-combinable struct-min
    * aggregation; the node→component label table is DIMENSION-sized
    * driver state (the register's model contract — its graphs are
    * nation/part dimension graphs). A web-scale forest swaps the
    * driver union-find for the q71 distributed CC on the component
    * graph; the selection plumbing is unchanged. */
  def maxSpanningForest(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), col("w").cast("long").as("w"))
      .localCheckpoint()
    val nodes = e0.select(col("a")).union(e0.select(col("b"))).distinct()
      .collect().map(_.getLong(0)).sorted
    val comp = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (_ <- 1 to rounds) {
      val labDF = broadcast(comp.toSeq.toDF("id", "comp"))
      val sel = e0
        .join(labDF.select(col("id").as("a"), col("comp").as("ca")), "a")
        .join(labDF.select(col("id").as("b"), col("comp").as("cb")), "b")
        .where(col("ca") =!= col("cb"))
      val cand = sel.select(col("ca").as("comp"),
          struct((-col("w")).as("nw"), col("a"), col("b")).as("e"))
        .unionAll(sel.select(col("cb").as("comp"),
          struct((-col("w")).as("nw"), col("a"), col("b")).as("e")))
      val picked = cand.groupBy("comp").agg(min(col("e")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"),
          (-col("e.nw")).as("w"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      acc ++= picked.filterNot(p =>
        acc.exists(q => q._1 == p._1 && q._2 == p._2))
      // merge the touched components (driver union-find, min label)
      picked.foreach { case (a, b, _) =>
        val (ca, cb) = (comp(a), comp(b))
        if (ca != cb) {
          val (keep, drop) = (math.min(ca, cb), math.max(ca, cb))
          comp.mapValuesInPlace((_, c) => if (c == drop) keep else c)
        }
      }
    }
    acc.toSeq.toDF("a", "b", "w")
      .orderBy(col("w").desc, col("a"), col("b"))
  }

  // -------------------------------------------------------------------
  // COUNT-GATED driver fast paths for the numeric-mass / vote loop
  // family — the [[driverPeel]] discipline extended to id-type-GENERIC
  // graphs (the trade graphs key on nation NAMES). The loop-invariant
  // edge relation goes through the shared gate
  // ([[IterUtils.collectIfSmall]]: lazy checkpoint, count, collect at
  // or under the driver-safe bound, release); the whole iteration then
  // runs in memory, replicating the distributed program's arithmetic
  // step for step. Above the gate — or for id types whose Spark sort
  // order we do not replicate — the distributed loop runs unchanged, so
  // nothing here is a local[32] tune: at corpus scale the gate simply
  // never fires.
  // -------------------------------------------------------------------

  /** Driver-side total order matching Spark's SortOrder for the id
    * types the gates support: longs/ints natural, strings by
    * [[IterUtils.utf8Compare]]. None = unsupported type, the caller
    * stays distributed. */
  private def idOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    dt match {
      case LongType => Some(Ordering.by((v: Any) => v.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((v: Any) => v.asInstanceOf[Int]))
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          IterUtils.utf8Compare(a.asInstanceOf[String], b.asInstanceOf[String])
      })
      case _ => None
    }
  }

  /** All-sources Brandes work budget for [[driverBetweenness]]:
    * n·m beyond this runs distributed even when the edge COUNT passes
    * the collect gate (all-sources Brandes is inherently n·m work —
    * the budget keeps the driver loop under ~10⁸ inner steps). */
  private val BetweennessWorkBudget = 1L << 26

  /** COUNT-GATED driver Brandes for [[betweenness]]: collects the
    * Spark-computed deduped undirected edge list (so least/greatest/
    * distinct semantics never fork), interns ids, and replicates the
    * level-synchronous program exactly — exact integer σ (BigInt = the
    * decimal(38,0) column), per-level dependency sums in double with
    * the same ×10⁹ HALF_UP quantization per level, exact integer
    * cross-source fold, same final halving and 6-dp rounding. Within-
    * level sum ORDER differs from the exchange's, which is already the
    * operator's cross-engine contract (the oracle replays these sums in
    * DuckDB's own order against the same 1e-9 quanta). */
  private def driverBetweenness(edges: DataFrame, depth: Int,
      maxDriverEdges: Long): Option[DataFrame] = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val nodeType = und.schema("a").dataType
    val rows = IterUtils.collectIfSmall(und, maxDriverEdges) match {
      case None => return None
      case Some(rs) => rs
    }
    val intern = new IdInterner
    val ab = rows.map(r => (intern(r.get(0)), intern(r.get(1))))
    val ids = intern.ids
    val n = ids.size
    if (n.toLong * ab.length > BetweennessWorkBudget) return None
    val adj = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Int])
    ab.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val sd = Array.fill(n)(BigInt(0)) // Σ_src dq over levels 1..depth
    val lev = new Array[Int](n)
    val sigma = new Array[BigInt](n)
    val dq = new Array[Long](n)
    val order = new Array[Int](n) // BFS visit order, level-contiguous
    val levStart = new Array[Int](depth + 2)
    var s = 0
    while (s < n) {
      java.util.Arrays.fill(lev, -1)
      var tail = 0
      order(tail) = s; tail += 1; lev(s) = 0; sigma(s) = BigInt(1)
      levStart(0) = 0; levStart(1) = 1
      var l = 0
      var reachedMax = 0
      while (l < depth && levStart(l + 1) > levStart(l)) {
        var i = levStart(l)
        while (i < levStart(l + 1)) {
          val v = order(i)
          val nb = adj(v)
          var j = 0
          while (j < nb.length) {
            val w = nb(j)
            if (lev(w) == -1) {
              lev(w) = l + 1; sigma(w) = sigma(v)
              order(tail) = w; tail += 1
            } else if (lev(w) == l + 1) {
              sigma(w) += sigma(v)
            }
            j += 1
          }
          i += 1
        }
        reachedMax = l + 1
        levStart(l + 2) = tail
        l += 1
      }
      // backward: deepest reached level (≤ depth) seeds dq = 0; the
      // distributed levelDeltas(depth) is frontier(depth) with dq 0 and
      // unreached deeper levels are empty relations — identical.
      var i = levStart(reachedMax)
      while (i < tail) { dq(order(i)) = 0L; i += 1 }
      var bl = reachedMax - 1
      while (bl >= 0) {
        var i2 = levStart(bl)
        while (i2 < levStart(bl + 1)) {
          val v = order(i2)
          var acc = 0.0
          val sv = sigma(v)
          val nb = adj(v)
          var j = 0
          while (j < nb.length) {
            val w = nb(j)
            if (lev(w) == bl + 1) {
              acc += (BigDecimal(sv).toDouble / BigDecimal(sigma(w)).toDouble) *
                (1.0 + dq(w) / 1000000000.0)
            }
            j += 1
          }
          dq(v) = IterUtils.sparkRound(acc * 1000000000.0).toLong
          i2 += 1
        }
        bl -= 1
      }
      // fold levels 1..depth (level 0 = the source row is excluded)
      var i3 = levStart(1)
      while (i3 < tail) { val v = order(i3); sd(v) += dq(v); i3 += 1 }
      s += 1
    }
    val spark = edges.sparkSession
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("node", nodeType, nullable = true),
      StructField("betweenness", DoubleType, nullable = true)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    var v = 0
    while (v < n) {
      val bt = IterUtils.sparkRound(
        (BigDecimal(sd(v)).toDouble / 1000000000.0) / 2.0 * 1000000.0) /
        1000000.0
      out.add(org.apache.spark.sql.Row(ids(v), bt))
      v += 1
    }
    Some(spark.createDataFrame(out, schema))
  }

  /** COUNT-GATED driver power loop shared by [[pageRank]] and
    * [[pageRankTrajectory]]: collects the (src, dst, w)-cast edge
    * relation, replicates out-weight normalization, the damped update
    * and (for the trajectory) the max-norm residual + early exit in
    * memory. Per-node contribution sums run in a fixed edge order where
    * the exchange's order is arbitrary — the ranks' agg-order ulps
    * (~1e-15 relative) against the callers' 1e-6/1e-9 output quanta are
    * the operator's EXISTING cross-engine contract (see
    * [[pageRankTrajectory]]'s scaladoc), already exercised by the
    * oracle's independent replay. Returns (node ids, per-round rank
    * arrays' final state, trajectory rows). */
  private def driverPageRankRun(edges: DataFrame, maxRounds: Int,
      damping: Double, tol: Double, maxDriverEdges: Long)
      : Option[(Seq[Any], Array[Double],
          Seq[(Long, Double, Boolean)])] = {
    val e = edges.select(col("src"), col("dst"),
      col("w").cast("double").as("w"))
    val rows = IterUtils.collectIfSmall(e, maxDriverEdges) match {
      case None => return None
      case Some(rs) => rs
    }
    if (edges.schema("src").dataType != edges.schema("dst").dataType ||
        rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      return None // Spark's null/coercion semantics: stay distributed
    val intern = new IdInterner
    val ids = intern.ids
    val srcI = new Array[Int](rows.length)
    val dstI = new Array[Int](rows.length)
    val w = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      srcI(i) = intern(rows(i).get(0))
      dstI(i) = intern(rows(i).get(1))
      w(i) = rows(i).getDouble(2)
      i += 1
    }
    val n = ids.size
    val ow = new Array[Double](n)
    i = 0; while (i < rows.length) { ow(srcI(i)) += w(i); i += 1 }
    val p = new Array[Double](rows.length)
    i = 0; while (i < rows.length) { p(i) = w(i) / ow(srcI(i)); i += 1 }
    var rank = Array.fill(n)(1.0 / n)
    val traj = scala.collection.mutable.ListBuffer
      .empty[(Long, Double, Boolean)]
    var r = 1
    var converged = false
    val base = (1.0 - damping) / n
    while (r <= maxRounds && !converged) {
      val contrib = new Array[Double](n)
      i = 0
      while (i < rows.length) {
        contrib(dstI(i)) += p(i) * rank(srcI(i)); i += 1
      }
      val next = new Array[Double](n)
      var v = 0
      var resid = 0.0
      while (v < n) {
        next(v) = base + damping * contrib(v)
        val d = math.abs(next(v) - rank(v))
        if (d > resid) resid = d
        v += 1
      }
      rank = next
      converged = resid < tol
      traj += ((r.toLong, resid, converged))
      r += 1
    }
    Some((ids.toSeq, rank, traj.toList))
  }

  /** COUNT-GATED driver vote loop shared by [[labelPropagation]] and
    * [[labelPropagationTrajectory]]: collects the long-cast weighted
    * edge relation, replicates symmetrization + per-pair weight sums
    * (exact longs), the (ws desc, label asc) winner tie-break via the
    * Spark-order [[idOrdering]], the vote-less restore, the changed
    * count and the early exit + verbatim tail — integer semantics end
    * to end, so fast and distributed labels are IDENTICAL, not merely
    * within margin. Returns (final labels, trajectory). */
  private def driverLpRun(edges: DataFrame, maxRounds: Int,
      earlyExit: Boolean, maxDriverEdges: Long)
      : Option[(Seq[(Any, Any)], Seq[(Long, Long, Boolean)])] = {
    val nodeType = edges.schema("src").dataType
    val ord = idOrdering(nodeType) match {
      case None => return None
      case Some(o) => o
    }
    val e = edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w"))
    val rows = IterUtils.collectIfSmall(e, maxDriverEdges) match {
      case None => return None
      case Some(rs) => rs
    }
    if (edges.schema("src").dataType != edges.schema("dst").dataType ||
        rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      return None // Spark's null/coercion semantics: stay distributed
    val intern = new IdInterner
    val ids = intern.ids
    // nodes: distinct src ∪ dst of the RAW edges (self-loop-only nodes
    // keep their label through the restore, as in lpGraph)
    val sym = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Long]
    rows.foreach { r =>
      val a = intern(r.get(0)); val b = intern(r.get(1))
      val wv = r.getLong(2)
      if (a != b) {
        sym((a, b)) = sym.getOrElse((a, b), 0L) + wv
        sym((b, a)) = sym.getOrElse((b, a), 0L) + wv
      }
    }
    val n = ids.size
    // per-node incident (neighbor, weight) lists off the summed sym
    val nbr = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[(Int, Long)])
    sym.foreach { case ((a, b), wv) => nbr(a) += ((b, wv)) }
    var labels = Array.tabulate(n)(identity) // label = interned node id
    val traj = scala.collection.mutable.ListBuffer.empty[(Long, Long, Boolean)]
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      val next = new Array[Int](n)
      var changed = 0L
      var v = 0
      while (v < n) {
        val votes = scala.collection.mutable.HashMap.empty[Int, Long]
        nbr(v).foreach { case (u, wv) =>
          val l = labels(u)
          votes(l) = votes.getOrElse(l, 0L) + wv
        }
        var best = labels(v) // vote-less restore
        if (votes.nonEmpty) {
          var bestWs = Long.MinValue
          votes.foreach { case (l, ws) =>
            if (ws > bestWs ||
                (ws == bestWs && ord.compare(ids(l), ids(best)) < 0)) {
              best = l; bestWs = ws
            }
          }
        }
        next(v) = best
        if (best != labels(v)) changed += 1
        v += 1
      }
      labels = next
      converged = changed == 0L
      traj += ((r.toLong, changed, converged))
      r += 1
    }
    if (earlyExit) {
      while (r <= maxRounds) { traj += ((r.toLong, 0L, true)); r += 1 }
    }
    val out = (0 until n).map(v => (ids(v), ids(labels(v))))
    Some((out, traj.toList))
  }

  /** Builds the (node, label) DataFrame for a driver LP result with the
    * input's id type. */
  private def lpLabelsDf(spark: org.apache.spark.sql.SparkSession,
      nodeType: org.apache.spark.sql.types.DataType,
      labels: Seq[(Any, Any)]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(
      StructField("node", nodeType, nullable = true),
      StructField("label", nodeType, nullable = true)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](labels.size)
    labels.foreach { case (a, b) =>
      out.add(org.apache.spark.sql.Row(a, b))
    }
    spark.createDataFrame(out, schema)
  }
}
