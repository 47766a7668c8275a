package graft

import graft.sources.CpcDimSources
import graft.streaming.EventsStream
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Streaming CPC delta pipeline: per-batch gate + full-batch quarantine +
  * idempotent (batch_id dynamic-overwrite) sinks over the file-source
  * checkpoint. */
class StreamingCpcSpec extends GraftSpec {

  test("incremental validated publish: clean delta appends, dirty delta quarantines") {
    val fixtures = CpcFixtures.dataDir()
    val v = CpcFixtures.Version
    val symbolList = CpcDimSources.symbolList(spark, fixtures.resolve(s"CPCSymbolList$v.zip").toString)
    val validity = CpcDimSources.validityFile(spark, fixtures.resolve(s"CPCValidityFile$v.zip").toString)
    val edges = CpcDimSources.schemeEdges(spark, fixtures.resolve(s"CPCSchemeXML$v.zip").toString)
    val landing = Files.createTempDirectory("cpc-stream-landing")
    val out = Files.createTempDirectory("cpc-stream-out").toString
    val ckpt = Files.createTempDirectory("cpc-stream-ckpt").toString

    def publish(): Unit = EventsStream.incrementalValidatedPublish(
      spark, landing.toString, symbolList, validity, edges, out, v, ckpt)

    // delta 1: clean titles -> published
    Files.writeString(landing.resolve("delta1.txt"),
      "A01B1/00 0 Hand tools\nA01B1/02 1 Spades; Shovels; Hoes")
    publish()
    val snap1 = spark.read.parquet(s"$out/cpc_schema_snapshots")
    assert(snap1.count() == 2)
    // partition values are type-inferred on read (202505 -> int)
    assert(snap1.select("cpc_schema_date").distinct().collect()
      .map(_.get(0).toString).toSeq == Seq(v))

    // delta 2: dirty titles -> the WHOLE batch is quarantined (valid rows
    // included, with their warnings and batch_id), snapshot unchanged — a
    // rejected delta stays repairable/replayable from quarantine alone
    Files.writeString(landing.resolve("delta2.txt"),
      "Z99 BOGUS SECTION\nA01B1/00 0 Hand tools")
    publish()
    assert(spark.read.parquet(s"$out/cpc_schema_snapshots").count() == 2)
    val quarantine = spark.read.parquet(s"$out/quarantine")
    assert(quarantine.count() == 2)
    assert(quarantine.where(col("symbol") === "Z99").count() == 1)
    assert(quarantine.where(col("symbol") === "A01B1/00").count() == 1)
    assert(quarantine.select(explode(col("validation_warnings"))).count() > 0)
    assert(quarantine.select("batch_id").distinct().count() == 1)

    // re-run with no new files: checkpoint keeps both deltas exactly-once
    publish()
    assert(spark.read.parquet(s"$out/cpc_schema_snapshots").count() == 2)
    assert(spark.read.parquet(s"$out/quarantine").count() == quarantine.count())

    // delta 3: clean again -> appends alongside history
    Files.writeString(landing.resolve("delta3.txt"),
      "Y02E REDUCTION OF GREENHOUSE GAS EMISSIONS")
    publish()
    val snap3 = spark.read.parquet(s"$out/cpc_schema_snapshots")
    assert(snap3.count() == 3)
    assert(snap3.where(col("symbol") === "Y02E").count() == 1)
  }

  test("streaming upsert through the manifest commit: same semantics, versioned state") {
    import graft.sources.ManifestCommit
    val landing = Files.createTempDirectory("cpc-mfc-landing")
    val out = Files.createTempDirectory("cpc-mfc-out").toString
    val ckpt = Files.createTempDirectory("cpc-mfc-ckpt").toString
    val target = s"$out/titles_current"
    def publish(): Unit =
      EventsStream.incrementalUpsertTitles(spark, landing.toString, out, ckpt)

    Files.writeString(landing.resolve("d1.txt"),
      "A01B1/00 0 Hand tools\nB01D1/00 0 Evaporating")
    publish()
    assert(ManifestCommit.readManifested(spark, target).count() == 2)
    val snap1 = ManifestCommit.currentSnapshot(spark, target).get
    assert(snap1.version == 1L)

    Files.writeString(landing.resolve("d2.txt"),
      "A01B1/00 0 Hand tools RENAMED\nA01B1/02 1 Spades")
    publish()
    val t2 = ManifestCommit.readManifested(spark, target)
    assert(t2.count() == 3)
    assert(t2.where(col("symbol") === "A01B1/00")
      .select("title").collect()(0).getString(0) == "Hand tools RENAMED")
    val snap2 = ManifestCommit.currentSnapshot(spark, target).get
    assert(snap2.version == 2L)
    // untouched section B still points at its original txn; section A moved
    assert(snap2.entries("section=B") == snap1.entries("section=B"))
    assert(snap2.entries("section=A") != snap1.entries("section=A"))

    // replay with no new files: checkpoint skips, manifest version unchanged
    publish()
    assert(ManifestCommit.currentSnapshot(spark, target).get.version == 2L)
    assert(ManifestCommit.readManifested(spark, target).count() == 3)
  }
}
