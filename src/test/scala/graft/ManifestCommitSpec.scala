package graft

import graft.sources.ManifestCommit
import java.nio.file.Files
import org.apache.spark.sql.functions._

class ManifestCommitSpec extends GraftSpec {
  import spark.implicits._

  private def writeBase(out: String) = {
    val base = Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20), (4L, "d", 20))
      .toDF("k", "v", "p")
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"), replaceAll = true) {
      txn => base.write.partitionBy("p").parquet(txn)
    }
    base
  }

  private def contents(out: String) =
    ManifestCommit.readManifested(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("overwrite + read round-trip through the manifest") {
    val out = Files.createTempDirectory("mfc1").toString + "/t"
    val base = writeBase(out)
    assert(contents(out) ==
      base.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet)
    val snap = ManifestCommit.currentSnapshot(spark, out).get
    assert(snap.version == 1L && snap.entries.keySet == Set("p=10", "p=20"))
  }

  test("upsert touches only its partitions; untouched stay on their old txn") {
    val out = Files.createTempDirectory("mfc2").toString + "/t"
    writeBase(out)
    val txn20Before = ManifestCommit.currentSnapshot(spark, out).get.entries("p=20")
    ManifestCommit.upsertManifested(spark, out,
      Seq((1L, "A2", 10), (9L, "z", 10)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    val snap = ManifestCommit.currentSnapshot(spark, out).get
    assert(snap.version == 2L)
    assert(snap.entries("p=20") == txn20Before, "untouched partition not rewritten")
    assert(snap.entries("p=10") != txn20Before)
    assert(contents(out) == Set((1L, "A2", 10), (2L, "b", 10), (9L, "z", 10),
      (3L, "c", 20), (4L, "d", 20)))
    // replay converges
    ManifestCommit.upsertManifested(spark, out,
      Seq((1L, "A2", 10), (9L, "z", 10)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    assert(contents(out) == Set((1L, "A2", 10), (2L, "b", 10), (9L, "z", 10),
      (3L, "c", 20), (4L, "d", 20)))
    // duplicate keys within one update batch: deterministic winner (the
    // smallest row), stable across replays
    val dup = Seq((2L, "B9", 10), (2L, "B1", 10)).toDF("k", "v", "p")
    ManifestCommit.upsertManifested(spark, out, dup, Seq("k"), Seq("p"))
    assert(contents(out).filter(_._1 == 2L) == Set((2L, "B1", 10)))
    ManifestCommit.upsertManifested(spark, out, dup, Seq("k"), Seq("p"))
    assert(contents(out) == Set((1L, "A2", 10), (2L, "B1", 10), (9L, "z", 10),
      (3L, "c", 20), (4L, "d", 20)))
    assert(ManifestCommit.currentSnapshot(spark, out).get.entries("p=20") ==
      txn20Before, "untouched partition not rewritten")
  }

  test("crash before publish leaves readers untouched; vacuum collects the orphan") {
    val out = Files.createTempDirectory("mfc3").toString + "/t"
    writeBase(out)
    val want = contents(out)
    // a writer that crashed after writing its txn dir but before publishing
    Seq((1L, "GARBAGE", 10)).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(s"$out/data/txn-dead-beef")
    assert(contents(out) == want, "uncommitted txn must be invisible")
    // young orphans survive (could be an in-flight writer)...
    assert(ManifestCommit.vacuum(spark, out) == 0)
    assert(new java.io.File(s"$out/data/txn-dead-beef").exists())
    // ...old ones are collected; live txns are never touched
    assert(ManifestCommit.vacuum(spark, out, minAgeMs = -10000) == 1)
    assert(!new java.io.File(s"$out/data/txn-dead-beef").exists())
    assert(contents(out) == want)
  }

  test("losing a commit race throws and leaves the old snapshot readable") {
    val out = Files.createTempDirectory("mfc4").toString + "/t"
    writeBase(out)
    val want = contents(out)
    // another writer claims version 2 WHILE our transaction is writing its
    // data (after our snapshot read, before our publish) — the losing
    // window optimistic concurrency must detect
    val stolen = new java.io.File(s"$out/_manifests/" + "0" * 19 + "2.manifest")
    val snap1 = ManifestCommit.currentSnapshot(spark, out).get
    intercept[java.nio.file.FileAlreadyExistsException] {
      ManifestCommit.overwriteViaManifest(spark, out, Seq("p")) { txn =>
        Seq((1L, "LOSER", 10)).toDF("k", "v", "p")
          .write.partitionBy("p").parquet(txn)
        Files.write(stolen.toPath, snap1.entries.toSeq.sorted
          .map { case (rel, t) => s"$t\t$rel" }.mkString("\n").getBytes("UTF-8"))
      }
    }
    assert(contents(out) == want)
    // the loser re-runs against the new snapshot and succeeds at version 3
    ManifestCommit.upsertManifested(spark, out,
      Seq((1L, "A2", 10)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    assert(ManifestCommit.currentSnapshot(spark, out).get.version == 3L)
    assert(contents(out) == (want - ((1L, "a", 10)) + ((1L, "A2", 10))))
  }

  test("compaction collapses generations to one txn; vacuum then retires the old dirs") {
    val out = Files.createTempDirectory("mfc6").toString + "/t"
    writeBase(out)
    ManifestCommit.upsertManifested(spark, out,
      Seq((1L, "A2", 10)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    val want = contents(out)
    assert(ManifestCommit.currentSnapshot(spark, out).get.entries.values.toSet.size == 2,
      "upsert leaves two live generations")
    val snap = ManifestCommit.compactManifested(spark, out, Seq("p"))
    assert(snap.entries.values.toSet.size == 1, "one generation after compaction")
    assert(contents(out) == want, "compaction preserves content")
    // old generations still on disk — retained manifests keep them live
    // (time travel), so a vacuum with full retention removes nothing
    assert(new java.io.File(s"$out/data").listFiles().count(_.getName.startsWith("txn-")) == 3)
    assert(ManifestCommit.vacuum(spark, out, minAgeMs = -10000) == 0)
    // retiring history to the newest version frees the old generations
    assert(ManifestCommit.vacuum(spark, out, minAgeMs = -10000, keepManifests = 1) == 2)
    assert(contents(out) == want)
  }

  test("time travel: every retained version readable; vacuum bounds the horizon") {
    val out = Files.createTempDirectory("mfc7").toString + "/t"
    val base = writeBase(out)
    val v1 = base.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    ManifestCommit.upsertManifested(spark, out,
      Seq((1L, "A2", 10)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    val v2 = contents(out)
    assert(v2 != v1)
    def at(v: Long) = ManifestCommit.readManifested(spark, out, Some(v)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(at(1L) == v1, "version 1 still reads its original state")
    assert(at(2L) == v2)
    // retire version 1; its now-unreferenced generation is collectable
    ManifestCommit.vacuum(spark, out, minAgeMs = -10000, keepManifests = 1)
    intercept[java.io.FileNotFoundException] { at(1L) }
    assert(at(2L) == v2, "current version unaffected by retirement")
  }

  test("data skipping: footer stats prune files a range predicate can't match") {
    val out = Files.createTempDirectory("mfc8").toString + "/t"
    // range-clustered write: sort by k, small files -> tight disjoint
    // per-file ranges, the layout data skipping exists for
    val base = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 4).cast("int").as("p"), (col("id") * 2).as("v"))
      .sort("k").coalesce(1).sortWithinPartitions("p", "k")
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, statCols = Seq("k")) { txn =>
      base.write.option("maxRecordsPerFile", 50)
        .partitionBy("p").parquet(txn)
    }
    val statsFile = new java.io.File(s"$out/_manifests")
      .listFiles().map(_.getName).filter(_.endsWith(".stats"))
    assert(statsFile.length == 1, "commit with statCols publishes one sidecar")

    val (pruned, scanned, total) =
      ManifestCommit.readManifestedPruned(spark, out, "k", 100L, 140L)
    assert(total > 10, s"fixture must split into many files, got $total")
    assert(scanned < total / 2, s"pruning must cut the scan: $scanned/$total")
    val want = (100L to 140L).map(k => (k, (k % 4).toInt, k * 2)).toSet
    val got = pruned.where(col("k").between(100, 140)).collect()
      .map(r => (r.getAs[Long]("k"),
        r.getAs[Number]("p").intValue(), r.getAs[Long]("v"))).toSet
    assert(got == want, "pruned read + predicate == exact answer")

    // stats accumulate across commits: upsert one partition with stats,
    // prune again — old generations' stats still apply, new files covered
    ManifestCommit.upsertManifested(spark, out,
      Seq((2000L, 0, 9L)).toDF("k", "p", "v"), Seq("k"), Seq("p"),
      statCols = Seq("k"))
    val (p2, scanned2, total2) =
      ManifestCommit.readManifestedPruned(spark, out, "k", 2000L, 2000L)
    assert(scanned2 < total2, "post-upsert prune still cuts files")
    assert(p2.where(col("k") === 2000L).count() == 1)

    // a commit WITHOUT stats stays readable: its files simply never prune
    ManifestCommit.upsertManifested(spark, out,
      Seq((3000L, 1, 9L)).toDF("k", "p", "v"), Seq("k"), Seq("p"))
    val (p3, _, _) = ManifestCommit.readManifestedPruned(spark, out, "k", 3000L, 3000L)
    assert(p3.where(col("k") === 3000L).count() == 1,
      "stat-less files always read (prune is never a filter)")
  }

  test("bloom skipping: per-file filters prune point lookups zone maps can't") {
    val out = Files.createTempDirectory("mfcB").toString + "/t"
    // HASH-clustered write: k % 8 decides the file, so every file's
    // [min,max] spans ~the whole domain — range pruning would keep all
    // files; the per-file bloom is the only thing that can cut
    val base = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 2).cast("int").as("p"), (col("id") * 2).as("v"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, statCols = Seq("k"), bloomCols = Seq("k")) { txn =>
      base.repartition(4, pmod(col("k"), lit(4L)))
        .write.partitionBy("p").parquet(txn)
    }
    val bloomFile = new java.io.File(s"$out/_manifests")
      .listFiles().map(_.getName).filter(_.endsWith(".bloom"))
    assert(bloomFile.length == 1, "commit with bloomCols publishes one sidecar")
    // zone maps genuinely can't prune this layout
    val (_, rangeScanned, rangeTotal) =
      ManifestCommit.readManifestedPruned(spark, out, "k", 17L, 17L)
    assert(rangeScanned == rangeTotal,
      s"fixture must defeat min/max pruning: $rangeScanned/$rangeTotal")
    // the bloom prunes the lookup to the files that can hold the ids
    val ids = Seq(17L, 42L) // 17 % 8 = 1, 42 % 8 = 2 -> two files
    val (df, scanned, total) =
      ManifestCommit.readManifestedBloomPruned(spark, out, "k", ids)
    // repartition(4, expr) HASHES the pmod value, so distinct values can
    // collide into fewer buckets — the file count is >= 4 (>=2 non-empty
    // buckets x 2 partition dirs), not a fixed 8
    assert(total >= 4, s"fixture must split into several files, got $total")
    assert(scanned < total, s"bloom must cut the scan: $scanned/$total")
    val got = df.where(col("k").isin(ids: _*)).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet
    assert(got == ids.map(k => (k, k * 2)).toSet,
      "bloom-pruned read + predicate == exact answer")
    // an ABSENT value prunes everything a filter covers (w.h.p. all)
    val (dfA, scannedA, _) =
      ManifestCommit.readManifestedBloomPruned(spark, out, "k", Seq(999999L))
    assert(scannedA < total, "absent probe must not open every file")
    assert(dfA.where(col("k") === 999999L).isEmpty)
    // a bloom-less upsert of ONE partition: its new files always read
    // (prune is never a filter), the untouched partition's old files
    // still prune through their retained sidecar
    ManifestCommit.upsertManifested(spark, out,
      Seq((5000L, 0, 10000L)).toDF("k", "p", "v"), Seq("k"), Seq("p"))
    val (p2, scanned2, total2) =
      ManifestCommit.readManifestedBloomPruned(spark, out, "k", Seq(5000L))
    assert(p2.where(col("k") === 5000L).count() == 1,
      "bloom-less files always read (prune is never a filter)")
    assert(scanned2 < total2,
      "the untouched partition's blooms still prune around the new txn")
    // an upsert committed WITH bloomCols makes its new files prunable
    // again: probe an odd key (lives in p=1's old bloomed files) — the
    // freshly rewritten p=0 txn must now be bloom-excluded, not fallback-read
    ManifestCommit.upsertManifested(spark, out,
      Seq((6000L, 0, 12000L)).toDF("k", "p", "v"), Seq("k"), Seq("p"),
      bloomCols = Seq("k"))
    val (p3, scanned3, total3) =
      ManifestCommit.readManifestedBloomPruned(spark, out, "k", Seq(17L))
    assert(scanned3 < total3, "post-bloomed-upsert probe must prune")
    assert(p3.where(col("k") === 17L).count() == 1)
  }

  test("string-column skipping prunes; control-char bounds stay unprunable, never corrupt") {
    val out = Files.createTempDirectory("mfc10").toString + "/t"
    // two clean name-range files + one file whose min contains a TAB —
    // that file must publish NO stats line (unprunable) and the sidecar
    // must stay parseable
    val rows = Seq(("alpha", 1), ("beta", 1), ("mike", 2), ("nancy", 2),
      ("\tweird", 3), ("zulu", 3)).toDF("name", "p")
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, statCols = Seq("name")) { txn =>
      rows.repartition(col("p")).sortWithinPartitions("p", "name")
        .write.partitionBy("p").parquet(txn)
    }
    val (df, scanned, total) =
      ManifestCommit.readManifestedPruned(spark, out, "name", "aa", "bz")
    assert(total == 3 && scanned == 2,
      s"clean out-of-range file pruned, control-char file kept: $scanned/$total")
    assert(df.where(col("name").between("aa", "bz")).count() == 2) // alpha, beta
    // the p=3 partition (tab-min file) must still be readable end-to-end
    assert(ManifestCommit.readManifested(spark, out).count() == 6)
  }

  test("count pushdown: covered sidecars answer COUNT(*) without running a job") {
    val out = Files.createTempDirectory("mfc9").toString + "/t"
    val base = spark.range(0, 777).select(col("id").as("k"),
      (col("id") % 3).cast("int").as("p"), (col("id") * 2).as("v"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, statCols = Seq("k")) { txn =>
      base.write.option("maxRecordsPerFile", 100).partitionBy("p").parquet(txn)
    }
    // job PRESENCE is probed via the HIGHEST job id, not the id count:
    // the status store evicts past spark.ui.retainedJobs, so the count
    // can go DOWN across snapshots late in a long suite (seen at 164
    // tests), while the max id grows monotonically
    def maxJobId(): Int = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val jobsBefore = maxJobId()
    assert(ManifestCommit.countManifested(spark, out) == 777L)
    val jobsAfter = maxJobId()
    assert(jobsAfter == jobsBefore,
      "fully-covered sidecars must answer the count from metadata alone")
    // a stats-less commit breaks coverage -> falls back to a REAL count,
    // still correct
    ManifestCommit.upsertManifested(spark, out,
      Seq((9000L, 1, 1L)).toDF("k", "p", "v"), Seq("k"), Seq("p"))
    val jobsUpsert = maxJobId()
    assert(ManifestCommit.countManifested(spark, out) == 778L)
    val jobsFinal = maxJobId()
    assert(jobsFinal > jobsUpsert, "uncovered files must trigger the real count")
  }

  test("min/max pushdown: covered sidecars answer extrema without running a job") {
    val out = Files.createTempDirectory("mfcM").toString + "/t"
    val base = spark.range(5, 505).select(col("id").as("k"),
      (col("id") % 3).cast("int").as("p"), (col("id") * 2).as("v"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, statCols = Seq("k")) { txn =>
      base.write.option("maxRecordsPerFile", 100).partitionBy("p").parquet(txn)
    }
    def maxJobId(): Int = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val before = maxJobId()
    assert(ManifestCommit.minMaxManifested(spark, out, "k")
      .contains((5L, 504L)))
    assert(maxJobId() == before,
      "fully-covered sidecars must answer min/max from metadata alone")
    // a column with no stats lines -> None (caller scans), never a guess
    assert(ManifestCommit.minMaxManifested(spark, out, "v").isEmpty)
    // a stats-less upsert breaks coverage -> None, even though the old
    // generation's lines survive
    ManifestCommit.upsertManifested(spark, out,
      Seq((9000L, 1, 1L)).toDF("k", "p", "v"), Seq("k"), Seq("p"))
    assert(ManifestCommit.minMaxManifested(spark, out, "k").isEmpty,
      "uncovered files must force the fallback, not a stale extremum")
  }

  test("metadata answers read only live files: an upsert's superseded files never count") {
    import graft.expressions.PortableHash
    val out = Files.createTempDirectory("mfc-live").toString + "/t"
    // 180 rows, 3 partitions, several files each; v's max (1790) sits in p=2
    val base = spark.range(0, 180).select(col("id"),
      (col("id") % 3).cast("int").as("p"), (col("id") * 10).as("v"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"), replaceAll = true,
      statCols = Seq("v"), hllCols = Seq("v"), kmvCols = Seq("v"),
      kmvK = 64) { txn =>
      base.write.option("maxRecordsPerFile", 25).partitionBy("p").parquet(txn)
    }
    // replace the max-v row: p=2 moves to a new txn, and the first txn's
    // p=2 files (still on disk, still in the version-1 sidecars) are
    // superseded
    ManifestCommit.upsertManifested(spark, out,
      Seq((179L, 2, -5L)).toDF("id", "p", "v"), Seq("id"), Seq("p"),
      statCols = Seq("v"), hllCols = Seq("v"), kmvCols = Seq("v"), kmvK = 64)
    val snap = ManifestCommit.currentSnapshot(spark, out).get
    assert(snap.entries.values.toSet.size == 2, "two live txn generations")

    def maxJobId(): Int = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val jobsBefore = maxJobId()
    assert(ManifestCommit.countManifested(spark, out) == 180L)
    assert(maxJobId() == jobsBefore, "covered count must run no job")
    assert(ManifestCommit.minMaxManifested(spark, out, "v")
      .contains((-5L, 1780L)), "the superseded max 1790 must not answer")

    val table = ManifestCommit.readManifested(spark, out)
    val directHll = table
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12))))
      .head.getLong(0)
    assert(ManifestCommit.distinctManifested(spark, out, "v").contains(directHll))
    val directKmv = table
      .select(PortableHash.md5Hash60(col("v").cast("string")).as("h"))
      .distinct().orderBy("h").limit(64).collect().map(_.getLong(0))
    val (k, hs) = ManifestCommit.kmvSketchManifested(spark, out, "v").get
    assert(k == 64 && hs.toSeq == directKmv.toSeq)
    assert(ManifestCommit.distinctKmvManifested(spark, out, "v")
      .contains(63.0 * 1152921504606846976.0 / directKmv.last))

    val liveFileCount = snap.entries.toSeq.map { case (rel, txn) =>
      new java.io.File(s"$out/data/$txn/$rel").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }.sum
    val (_, scanned, total) = ManifestCommit.readManifestedPruned(
      spark, out, "v", Long.MinValue, Long.MaxValue)
    assert(total == liveFileCount && scanned == total)
  }

  test("no directory is ever renamed or deleted on the commit path") {
    val out = Files.createTempDirectory("mfc5").toString + "/t"
    writeBase(out)
    val before = new java.io.File(s"$out/data").listFiles().map(_.getName).toSet
    ManifestCommit.upsertManifested(spark, out,
      Seq((1L, "A2", 10)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    val after = new java.io.File(s"$out/data").listFiles().map(_.getName).toSet
    assert(before.subsetOf(after), "old txn dirs immutable through a commit")
    assert((after -- before).size == 1, "exactly one new txn dir per commit")
  }

  test("schema evolution: an added column null-fills older txns; narrowing rejected") {
    val out = Files.createTempDirectory("mfc6").toString + "/t"
    writeBase(out)
    // upsert under an EVOLVED schema: new column `extra` appears
    ManifestCommit.upsertManifested(spark, out,
      Seq((1L, "A2", 10, "x1"), (9L, "z", 10, "x9")).toDF("k", "v", "p", "extra"),
      Seq("k"), Seq("p"))
    val got = ManifestCommit.readManifested(spark, out)
      .select("k", "v", "p", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        Option(r.getString(3)))).toSet
    assert(got == Set(
      (1L, "A2", 10, Some("x1")), (9L, "z", 10, Some("x9")),
      (2L, "b", 10, None),            // carried row of the touched partition
      (3L, "c", 20, None), (4L, "d", 20, None)), // untouched old-schema txn
      s"evolved read: $got")
    // time travel below the evolution point still shows the old schema
    val v1 = ManifestCommit.readManifested(spark, out, Some(1L))
    assert(!v1.columns.contains("extra"))
    // updates MISSING an existing column must be rejected, not null-filled
    val ex = intercept[IllegalArgumentException] {
      ManifestCommit.upsertManifested(spark, out,
        Seq((1L, 10)).toDF("k", "p"), Seq("k"), Seq("p"))
    }
    assert(ex.getMessage.contains("additive-only"))
  }

  test("HLL sidecar: metadata-only DISTINCT equals the direct sketch and the exact count") {
    val out = Files.createTempDirectory("mfc-hll1").toString + "/t"
    // interleaved duplicates across partitions: per-file sketches must
    // union, not sum
    val base = spark.range(0, 600)
      .select((col("id") % 200).as("k"), (col("id") % 4).cast("int").as("p"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, hllCols = Seq("k")) { txn =>
      base.write.option("maxRecordsPerFile", 60).partitionBy("p").parquet(txn)
    }
    val est = ManifestCommit.distinctManifested(spark, out, "k")
    assert(est.isDefined, "every live file must carry a sketch line")
    // coupon (sparse) territory: merge is lossless, so the union equals
    // even the SINGLE-PASS sketch here (in dense HLL mode only the
    // union-path equality below holds — HIP is not mergeable)
    val direct = ManifestCommit.readManifested(spark, out)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("k"), lit(12))))
      .head.getLong(0)
    assert(est.get == direct)
    assert(est.get == 200L, "200 distinct keys sit below the sparse" +
      " threshold at lgK=12: the estimate is exact")
    // determinism contract: the sorted fold makes the answer a pure
    // function of table state (the HIP estimator is merge-order-
    // dependent — even Spark's own hll_union_agg drifts run-to-run in
    // dense territory, so order-canonicalization is the guarantee)
    assert(ManifestCommit.distinctManifested(spark, out, "k") == est)
  }

  test("HLL sidecar accumulates across upsert generations; uncovered commit falls back to None") {
    val out = Files.createTempDirectory("mfc-hll2").toString + "/t"
    val base = spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 2).cast("int").as("p"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, hllCols = Seq("k")) { txn =>
      base.write.partitionBy("p").parquet(txn)
    }
    // upsert MERGES 50 new keys (100..149) into partition p=0: the old
    // even keys stay, so distinct = 100 (base) + 50 (new) — and the
    // rewritten generation's fresh sketches must cover the carried rows
    ManifestCommit.upsertManifested(spark, out,
      spark.range(100, 150).select(col("id").as("k"), lit(0).as("p")),
      Seq("k"), Seq("p"), hllCols = Seq("k"))
    assert(ManifestCommit.distinctManifested(spark, out, "k").contains(150L))
    // a commit WITHOUT hllCols leaves its files uncovered: conservative None
    ManifestCommit.upsertManifested(spark, out,
      spark.range(500, 520).select(col("id").as("k"), lit(0).as("p")),
      Seq("k"), Seq("p"))
    assert(ManifestCommit.distinctManifested(spark, out, "k").isEmpty,
      "an uncovered live file must fail coverage, not guess")
  }

  test("KMV sidecar: merged sketch == single-pass bottom-k; overlap == the data-path set algebra") {
    import graft.expressions.PortableHash
    val outA = Files.createTempDirectory("mfc-kmv-a").toString + "/t"
    val outB = Files.createTempDirectory("mfc-kmv-b").toString + "/t"
    // overlapping key sets: A = 0..399, B = 200..599, interleaved files
    def write(out: String, lo: Int, hi: Int) =
      ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
        replaceAll = true, kmvCols = Seq("k"), kmvK = 64) { txn =>
        spark.range(lo, hi)
          .select(col("id").as("k"), (col("id") % 3).cast("int").as("p"))
          .write.option("maxRecordsPerFile", 40).partitionBy("p").parquet(txn)
      }
    write(outA, 0, 400)
    write(outB, 200, 600)
    // merged sidecar sketch must equal the single-pass bottom-k over the
    // full column — bottom-k union is exact, no order canonicalization
    val (k, hs) = ManifestCommit.kmvSketchManifested(spark, outA, "k").get
    val direct = spark.range(0, 400)
      .select(PortableHash.md5Hash60(col("id").cast("string")).as("h"))
      .distinct().orderBy("h").limit(64)
      .collect().map(_.getLong(0))
    assert(k == 64 && hs.toSeq == direct.toSeq)
    // metadata overlap == the data-path kmvSetAlgebra on the same keys
    val (eu, ei, rho, kk) = ManifestCommit.overlapKmvManifested(
      spark, outA, "k", outB, "k").get
    val alg = graft.operators.Sketches.kmvSetAlgebra(
      spark.range(0, 400).select(col("id").as("k")),
      spark.range(200, 600).select(col("id").as("k")), "k", 64)
      .head
    assert(math.abs(alg.getDouble(0) - (math.rint(eu * 10000) / 10000)) < 1e-9 ||
      math.abs(alg.getDouble(0) - eu) < 1e-4)
    assert(math.abs(alg.getDouble(1) - ei) < 1e-4)
    assert(alg.getLong(2) == rho && alg.getLong(3) == kk)
    // below-k case is EXACT: 30 distinct keys, k = 64
    val outC = Files.createTempDirectory("mfc-kmv-c").toString + "/t"
    ManifestCommit.overwriteViaManifest(spark, outC, Nil,
      replaceAll = true, kmvCols = Seq("k"), kmvK = 64) { txn =>
      spark.range(0, 30).select(col("id").as("k")).write.parquet(txn)
    }
    assert(ManifestCommit.distinctKmvManifested(spark, outC, "k").contains(30.0))
  }

  test("derived compaction folds KMV sidecars; vacuum retires .kmv with its manifest") {
    val out = Files.createTempDirectory("mfc-kmv-d").toString + "/t"
    val base = spark.range(0, 300)
      .select((col("id") % 120).as("k"), (col("id") % 4).cast("int").as("p"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, kmvCols = Seq("k"), kmvK = 64) { txn =>
      base.write.option("maxRecordsPerFile", 30).partitionBy("p").parquet(txn)
    }
    ManifestCommit.upsertManifested(spark, out,
      base.where(col("p") === 2), Seq("k"), Seq("p"), kmvCols = Seq("k"),
      kmvK = 64)
    val before = ManifestCommit.distinctKmvManifested(spark, out, "k")
    assert(before.isDefined)
    ManifestCommit.compactManifestedDerived(spark, out, Seq("p"))
    assert(ManifestCommit.distinctKmvManifested(spark, out, "k") == before,
      "folded kmv sidecars must keep serving the estimate")
    ManifestCommit.vacuum(spark, out, minAgeMs = -10000, keepManifests = 1)
    val kmvs = new java.io.File(s"$out/_manifests").listFiles()
      .map(_.getName).filter(_.endsWith(".kmv"))
    assert(kmvs.length == 1, s"exactly the folded sidecar survives: ${kmvs.toSeq}")
    assert(ManifestCommit.distinctKmvManifested(spark, out, "k") == before)
  }

  test("derived compaction folds HLL sidecars: distinct served without rescan, vacuum retires them") {
    val out = Files.createTempDirectory("mfc-hll3").toString + "/t"
    val base = spark.range(0, 400)
      .select((col("id") % 150).as("k"), (col("id") % 4).cast("int").as("p"))
    ManifestCommit.overwriteViaManifest(spark, out, Seq("p"),
      replaceAll = true, hllCols = Seq("k")) { txn =>
      base.write.option("maxRecordsPerFile", 40).partitionBy("p").parquet(txn)
    }
    ManifestCommit.upsertManifested(spark, out,
      base.where(col("p") === 3), Seq("k"), Seq("p"), hllCols = Seq("k"))
    val before = ManifestCommit.distinctManifested(spark, out, "k")
    assert(before.contains(150L))
    ManifestCommit.compactManifestedDerived(spark, out, Seq("p"))
    assert(ManifestCommit.distinctManifested(spark, out, "k") == before,
      "folded sidecars must keep serving the distinct estimate")
    // vacuum to the newest version: the old .hll sidecars retire with
    // their txns (same lifecycle as .stats/.bloom)
    ManifestCommit.vacuum(spark, out, minAgeMs = -10000, keepManifests = 1)
    val mdir = new java.io.File(s"$out/_manifests")
    val hlls = mdir.listFiles().map(_.getName).filter(_.endsWith(".hll"))
    assert(hlls.length == 1, s"exactly the folded sidecar survives: ${hlls.toSeq}")
    assert(ManifestCommit.distinctManifested(spark, out, "k") == before)
  }
}
