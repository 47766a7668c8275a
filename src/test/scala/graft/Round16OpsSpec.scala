package graft

import org.apache.spark.sql.functions._

/** Round-16 operators: the incremental-components sidecar's
  * manifest-commit crash window, the DistributedRank key-type guard,
  * and the sorted-neighborhood range-partitioned pairing. */
class Round16OpsSpec extends GraftSpec {
  import spark.implicits._

  test("incrementalComponents: a crashed maintenance batch is invisible until its manifest publishes") {
    import graft.operators.{Dedup, Incremental}
    val root = java.nio.file.Files.createTempDirectory("graft-r16-cc")
      .resolve("state").toString
    def batch(pairs: (Long, Long)*): org.apache.spark.sql.DataFrame =
      pairs.toSeq.toDF("id_a", "id_b")
    def state(): Seq[(Long, Long)] = Incremental.readComponents(spark, root)
      .select("id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    Incremental.incrementalComponents(spark, root, batch((1L, 2L), (5L, 6L)))
    val committed = state()
    assert(committed == Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)))
    // simulate a maintenance batch killed BETWEEN the relabel write and
    // manifest publication: a txn dir full of half-relabeled rows lands
    // under data/ but no manifest version references it
    val crashedTxn = new java.io.File(root, "data/txn-crashed-dead")
    Seq((1L, 999L), (2L, 999L), (5L, 999L), (6L, 999L))
      .toDF("id", "cluster")
      .withColumn("bucket", pmod(col("id"), lit(16L)).cast("int"))
      .write.partitionBy("bucket").parquet(crashedTxn.toString)
    assert(state() == committed,
      "an unpublished txn dir must never be visible as history")
    // the NEXT batch reads the intact snapshot and commits on top of it
    Incremental.incrementalComponents(spark, root, batch((2L, 5L)))
    assert(state() == Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L)))
    val twin = Dedup.duplicateClusters(
        batch((1L, 2L), (5L, 6L), (2L, 5L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(state() == twin)
  }

  test("SortedNeighborhood.pairs == the global-window lead twin, across partition boundaries") {
    import graft.operators.SortedNeighborhood
    // unique names, many more rows than partitions so every boundary is
    // exercised; 5 partitions of ~12 rows with w=4 forces overlap pulls
    // that SPAN a short partition when ranges land unevenly
    val names = (0 until 60)
      .map(i => (i.toLong, f"name-${(i * 37) % 60}%03d"))
      .toDF("id", "name")
    val got = SortedNeighborhood.pairs(names, Seq("name"), w = 4,
        partitions = 5)
      .select("id", "name", "nb_id", "nb_name", "nb_off")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getInt(4))).toSet
    val w = org.apache.spark.sql.expressions.Window.orderBy("name")
    val twin = (1 to 4).flatMap { k =>
      names.select(col("id"), col("name"),
          lead(col("id"), k).over(w).as("nb_id"),
          lead(col("name"), k).over(w).as("nb_name"), lit(k).as("nb_off"))
        .where(col("nb_id").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getInt(4)))
    }.toSet
    assert(got == twin)
    // exact candidate mass: every row pairs with min(4, successors) rows
    assert(got.size == twin.size && twin.size == (0 until 60)
      .map(i => math.min(4, 59 - i)).sum)
  }

  test("round-16 routed queries: no unpartitioned Window node anywhere in their plans") {
    // the q365/q348 discipline, asserted: every query this round routed
    // through DistributedRank / SortedNeighborhood must plan WITHOUT a
    // global-window node (the one-task cliff the rewrite removes).
    // q368 is excluded by design: its surviving window runs on a
    // LIMIT-101 relation (documented-bounded).
    val routed = Seq("q348_quantile_norm", "q332_wasserstein_1d",
      "q444_sorted_neighborhood_er", "q337_sprt", "q347_skyline",
      "q355_vocab_curve", "q358_l_moments", "q371_negative_sampling",
      "q377_quartile_migration", "q382_winsorized_corr",
      "q386_split_conformal", "q387_wilcoxon_signed",
      "q408_bowker_symmetry", "q441_lateness_audit")
    val unpart = "Window \\[[^\\]]*\\], \\[\\]".r
    routed.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.sparkPlan.toString
      assert(!unpart.findAllIn(plan).hasNext && !plan.contains("windowspecdefinition()"),
        s"$name still plans an unpartitioned Window node")
    }
  }

  test("compactManifestedDerived: folded sidecars keep count/minmax/bloom service without rescan") {
    import graft.sources.ManifestCommit
    val root = java.nio.file.Files.createTempDirectory("graft-r16-cmp")
      .resolve("tbl").toString
    val base = spark.range(0, 400)
      .select(col("id"), (col("id") % 5).cast("int").as("bucket"),
        (col("id") * 7 % 1000).as("v"))
    ManifestCommit.overwriteViaManifest(spark, root, Seq("bucket"),
      replaceAll = true, statCols = Seq("id"), bloomCols = Seq("id")) { txn =>
      // several small files per partition: the pre-compaction state
      base.repartition(4).write.option("maxRecordsPerFile", 30)
        .partitionBy("bucket").parquet(txn)
    }
    // a second generation via upsert (same rows -> content unchanged)
    ManifestCommit.upsertManifested(spark, root,
      base.where(col("bucket") === 3), Seq("id"), Seq("bucket"),
      statCols = Seq("id"), bloomCols = Seq("id"))
    val preCount = ManifestCommit.countManifested(spark, root)
    assert(preCount == 400L)
    val snap = ManifestCommit.compactManifestedDerived(spark, root,
      Seq("bucket"))
    assert(snap.entries.values.toSet.size == 1, "one generation after compaction")
    // content unchanged
    val got = ManifestCommit.readManifested(spark, root)
      .select("id", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L until 400L).map(i => (i, i * 7 % 1000)))
    // derived _rows lines serve the metadata-only count exactly
    assert(ManifestCommit.countManifested(spark, root) == 400L)
    // derived min/max fold is the exact global extrema, still no scan
    val mm = ManifestCommit.minMaxManifested(spark, root, "id")
    assert(mm.contains((0L, 399L)), s"derived minmax: $mm")
    // derived (OR-merged) blooms still cut the file list for point probes
    val (df, scanned, total) = ManifestCommit
      .readManifestedBloomPruned(spark, root, "id", Seq(7L, 123L))
    assert(total == 5 && scanned < total,
      s"derived blooms must prune, read $scanned of $total")
    assert(df.where(col("id").isin(7L, 123L)).count() == 2L)
  }

  test("overwriteViaManifest: a pinned base version rejects an interleaved commit (no lost update)") {
    import graft.sources.ManifestCommit
    val root = java.nio.file.Files.createTempDirectory("graft-r16-occ")
      .resolve("tbl").toString
    val base = spark.range(0, 50)
      .select(col("id"), (col("id") % 2).cast("int").as("p"))
    ManifestCommit.overwriteViaManifest(spark, root, Seq("p"),
      replaceAll = true) { txn => base.write.partitionBy("p").parquet(txn) }
    val pinned = ManifestCommit.currentSnapshot(spark, root).get.version
    // a competitor lands between our read (pinned) and our publish
    ManifestCommit.upsertManifested(spark, root,
      base.where(col("p") === 1), Seq("id"), Seq("p"))
    val competitor = ManifestCommit.readManifested(spark, root).count()
    // a replaceAll rewrite computed from the PINNED version must now fail
    // loudly instead of silently dropping the competitor's commit
    intercept[java.nio.file.FileAlreadyExistsException] {
      ManifestCommit.overwriteViaManifest(spark, root, Seq("p"),
        replaceAll = true, baseVersion = Some(pinned)) { txn =>
        base.limit(1).write.partitionBy("p").parquet(txn)
      }
    }
    assert(ManifestCommit.readManifested(spark, root).count() == competitor,
      "the failed stale publish must leave the competitor's state intact")
  }

  test("incrementalComponents: generation-count auto-compaction bounds read fan-out, labels unchanged") {
    import graft.operators.{Dedup, Incremental}
    import graft.sources.ManifestCommit
    val root = java.nio.file.Files.createTempDirectory("graft-r16-gen")
      .resolve("state").toString
    // a 21-node path arriving one edge per batch: every batch merges, so
    // without the cap the state would hold 20 generations
    val edges = (1 to 20).map(i => (i.toLong, i + 1L))
    edges.foreach { case (a, b) =>
      Incremental.incrementalComponents(spark, root,
        Seq((a, b)).toDF("id_a", "id_b"), maxGenerations = 5)
    }
    val gens = ManifestCommit.currentSnapshot(spark, root)
      .get.entries.values.toSet.size
    assert(gens <= 6, s"generation count must stay bounded, got $gens")
    val state = Incremental.readComponents(spark, root)
      .select("id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val twin = Dedup.duplicateClusters(edges.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(state == twin, "compaction must never change a label")
    // DEFAULT parameters must also fire: generations cap at `buckets`
    // structurally, so the trigger clamps to buckets/2 = 8 — the
    // review-caught defect was a threshold at the cap, unreachable
    val root2 = java.nio.file.Files.createTempDirectory("graft-r16-gen2")
      .resolve("state").toString
    edges.foreach { case (a, b) =>
      Incremental.incrementalComponents(spark, root2,
        Seq((a, b)).toDF("id_a", "id_b"))
    }
    val gens2 = ManifestCommit.currentSnapshot(spark, root2)
      .get.entries.values.toSet.size
    assert(gens2 <= 9, s"default-path trigger must fire, got $gens2 generations")
    val state2 = Incremental.readComponents(spark, root2)
      .select("id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(state2 == twin)
  }

  test("compactManifestedDerived: a cap-split hot partition keeps exact counts and valid conservative bounds") {
    import graft.sources.ManifestCommit
    val root = java.nio.file.Files.createTempDirectory("graft-r16-cmp2")
      .resolve("tbl").toString
    val base = spark.range(0, 400)
      .select(col("id"), (col("id") % 5).cast("int").as("bucket"),
        (col("id") * 7 % 1000).as("v"))
    ManifestCommit.overwriteViaManifest(spark, root, Seq("bucket"),
      replaceAll = true, statCols = Seq("id"), bloomCols = Seq("id")) { txn =>
      base.repartition(4).write.option("maxRecordsPerFile", 30)
        .partitionBy("bucket").parquet(txn)
    }
    // 80 rows per bucket, cap 25 -> every partition splits into >= 4 files
    val snap = ManifestCommit.compactManifestedDerived(spark, root,
      Seq("bucket"), maxRowsPerFile = 25L)
    assert(snap.entries.values.toSet.size == 1)
    // exact _rows per split file (footer-count path) serves the
    // metadata-only count
    assert(ManifestCommit.countManifested(spark, root) == 400L)
    // partition-fold min/max is conservative but the global fold exact
    assert(ManifestCommit.minMaxManifested(spark, root, "id")
      .contains((0L, 399L)))
    // blooms still cut files: probing id=0 (bucket 0) must skip the
    // other buckets' files even though bucket-0's own split files all
    // carry the same partition-level filter
    val (df, scanned, total) = ManifestCommit
      .readManifestedBloomPruned(spark, root, "id", Seq(0L))
    assert(total >= 20 && scanned < total,
      s"cross-partition pruning must survive the split: $scanned/$total")
    assert(df.where(col("id") === 0L).count() == 1L)
    // content unchanged
    assert(ManifestCommit.readManifested(spark, root).count() == 400L)
  }

  test("vacuum retires BOTH derived sidecars with their manifest (the bloom file previously leaked)") {
    import graft.sources.ManifestCommit
    val out = java.nio.file.Files.createTempDirectory("graft-r16-vac")
      .toString + "/t"
    val base = spark.range(0, 100)
      .select(col("id"), (col("id") % 2).cast("int").as("p"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, statCols = Seq("id"), bloomCols = Seq("id")) { txn =>
      base.write.partitionBy("p").parquet(txn)
    }
    ManifestCommit.upsertManifested(spark, out,
      base.where(col("p") === 1), Seq("id"), Seq("p"),
      statCols = Seq("id"), bloomCols = Seq("id"))
    def sidecars(suffix: String) = new java.io.File(s"$out/_manifests")
      .listFiles().count(_.getName.endsWith(suffix))
    assert(sidecars(".stats") == 2 && sidecars(".bloom") == 2)
    // phase 1: v1's txn is still LIVE in v2 (partition p=0 untouched by
    // the upsert) — its sidecars must SURVIVE the manifest retirement,
    // or live files silently lose skipping
    ManifestCommit.vacuum(spark, out, minAgeMs = -10000, keepManifests = 1)
    assert(sidecars(".manifest") == 1, "one retained manifest")
    assert(sidecars(".stats") == 2 && sidecars(".bloom") == 2,
      "sidecars covering live txns must survive their version's retirement")
    val (df, scanned, total) = ManifestCommit
      .readManifestedBloomPruned(spark, out, "id", Seq(3L))
    assert(scanned < total, s"bloom must cut the file list: $scanned/$total")
    assert(df.where(col("id") === 3L).count() == 1L)
    // phase 2: compaction replaces every txn — the old sidecars' txns
    // are then dead and BOTH files retire (the bloom previously leaked)
    ManifestCommit.compactManifestedDerived(spark, out, Seq("p"))
    ManifestCommit.vacuum(spark, out, minAgeMs = -10000, keepManifests = 1)
    assert(sidecars(".stats") == 1 && sidecars(".bloom") == 1,
      "dead-txn sidecars must retire; the compacted version's derived ones remain")
    val (df2, s2, t2) = ManifestCommit
      .readManifestedBloomPruned(spark, out, "id", Seq(3L))
    assert(s2 < t2 && df2.where(col("id") === 3L).count() == 1L)
  }

  test("pageRankTrajectory: symmetric 2-cycle converges at round 1 with residual 0; no tail rows") {
    // a<->b with equal weights: the uniform prior IS the fixpoint, so
    // round 1 moves nothing and the trajectory is exactly one row
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val got = graft.operators.GraphOps
      .pageRankTrajectory(edges, maxRounds = 6, tol = 1e-6)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((1L, 0.0, true)),
      s"contraction trajectory must END at convergence, got ${got.toSeq}")
  }

  test("pageRankTrajectory: trade graph — converged only on the last row, residuals strictly shrink, final ranks = pageRank") {
    val edges = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .join(spark.read.parquet(s"$sf0001/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$sf0001/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").cast("string").as("src"),
        (col("o_custkey") % 7).cast("string").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val traj = graft.operators.GraphOps
      .pageRankTrajectory(edges, maxRounds = 12, tol = 1e-5)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    // converged exactly once, on the final row (this graph crosses 1e-5
    // at round 10 of 12); every earlier row is above tol
    assert(traj.nonEmpty && traj.last._3,
      s"must converge within 12 rounds: ${traj.toSeq}")
    assert(traj.length < 12, "early exit must cut the round budget")
    assert(traj.init.forall(!_._3), "converged must appear only on the last row")
    assert(traj.init.forall(_._2 >= 1e-5) && traj.last._2 < 1e-5)
    // residuals of a damped contraction on this graph strictly shrink
    val resids = traj.map(_._2).toSeq
    assert(resids.zip(resids.tail).forall { case (a, b) => b < a },
      s"non-shrinking residuals: $resids")
  }

  test("incrementalComponents: an over-gate quotient resolves through the distributed CC, labels identical") {
    import graft.operators.{Dedup, Incremental}
    def state(root: String): Seq[(Long, Long)] =
      Incremental.readComponents(spark, root)
        .select("id", "cluster").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val batches = Seq(
      "first" -> Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)),
      // a dense merge pattern: 4 pre-existing components fully
      // cross-linked — 6 distinct quotient edges against 3 remap rows
      "cross-link" -> Seq((1L, 3L), (1L, 5L), (1L, 7L), (3L, 5L), (3L, 7L), (5L, 7L)),
      "replay" -> Seq((1L, 3L), (1L, 5L), (1L, 7L), (3L, 5L), (3L, 7L), (5L, 7L)),
      // fresh ids only: every row written is an insert
      "insert-only" -> Seq((10L, 11L), (12L, 13L)),
      // no fresh id: the change is a history relabel alone, so only the
      // count-free emptiness rule (a remap row implies a relabeled row)
      // lets it through
      "remap-only" -> Seq((13L, 11L)),
      "all-self-pair" -> Seq((5L, 5L), (14L, 14L)))
    val rootFast = java.nio.file.Files.createTempDirectory("graft-r22-ccf")
      .resolve("state").toString
    val rootSlow = java.nio.file.Files.createTempDirectory("graft-r22-ccs")
      .resolve("state").toString
    var seen = Seq.empty[(Long, Long)]
    for ((name, pairs) <- batches) {
      val batch = pairs.toDF("id_a", "id_b")
      Incremental.incrementalComponents(spark, rootFast, batch)
      // gate of 0 forces EVERY batch through the distributed path
      Incremental.incrementalComponents(spark, rootSlow, batch,
        maxDriverQuotient = 0L)
      seen ++= pairs.filter { case (a, b) => a != b }
      val twin = Dedup.duplicateClusters(seen.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(state(rootFast) == state(rootSlow),
        s"$name: driver and distributed paths must write identical labels")
      assert(state(rootFast) == twin,
        s"$name: the sidecar must match the batch CC twin over the union")
    }
  }

  test("incrementalComponents: a warm under-gate maintenance batch runs at most 12 jobs") {
    import graft.operators.Incremental
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val first = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    // fresh ids, a merge of two history components, a history relabel
    val second = Seq((2L, 7L), (4L, 6L), (11L, 12L)).toDF("id_a", "id_b")
    def root() = java.nio.file.Files.createTempDirectory("graft-cc-jobs")
      .resolve("state").toString
    val warm = root()
    Seq(first, second).foreach(b => Incremental.incrementalComponents(spark, warm, b))
    val counted = root()
    Incremental.incrementalComponents(spark, counted, first)
    // the gate's count and collect, one label lookup, the remap broadcast
    // and the upsert (with the label table's per-generation footer reads)
    // fit in 12; resolving the batch with Spark jobs took 18
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.map(_.name).mkString(" + "))
    }
    sc.addSparkListener(l)
    try {
      Incremental.incrementalComponents(spark, counted, second)
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(l)
    assert(Incremental.readComponents(spark, counted).where("cluster = 3")
      .count() == 4L)
    assert(jobs.size <= 12, jobs.toArray.mkString("\n"))
  }

  test("incrementalComponents: a gate of 0 runs the distributed CC loop (round budget enforced)") {
    import graft.operators.Incremental
    // 10-node chain: the first batch's quotient IS the chain, and the
    // distributed loop cannot converge on it within 2 propagation rounds
    // — only the driver union-find (no round budget) could succeed
    val chainBatch = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val root = java.nio.file.Files.createTempDirectory("graft-cc-gate0")
      .resolve("state").toString
    intercept[IllegalStateException] {
      Incremental.incrementalComponents(spark, root, chainBatch,
        maxRounds = 2, maxDriverQuotient = 0L)
    }
    assert(graft.sources.ManifestCommit.currentSnapshot(spark, root).isEmpty,
      "a failed first batch must leave the sidecar uninitialized")
  }

  test("SortedNeighborhood.pairs: w larger than any partition still walks the continuation forward") {
    import graft.operators.SortedNeighborhood
    // 8 rows over 6 partitions: most partitions hold 1-2 rows, so a w=5
    // tail must gather neighbors from SEVERAL following partitions
    val names = (0 until 8).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val got = SortedNeighborhood.pairs(names, Seq("name"), w = 5,
        partitions = 6)
      .select("id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twin = (for {
      i <- 0 until 8; j <- (i + 1) to math.min(7, i + 5)
    } yield (i.toLong, j.toLong)).toSet
    assert(got == twin)
  }
}
