package graft

import graft.operators.{CpcPipeline, CpcValidator}
import graft.sources.{Acquisition, CpcDimSources, LocalFixtureFetcher}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

class CpcSourcesSpec extends GraftSpec {

  lazy val dir = CpcFixtures.dataDir()
  val v = CpcFixtures.Version

  test("title list zip: parses only cpc-section members, drops blanks/invalid") {
    val titles = CpcPipeline.parseTitles(spark, dir.resolve(s"CPCTitleList$v.zip").toString)
    val rows = titles.orderBy("symbol").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("A", "A01", "A01B", "A01B1/00", "A01B1/02", "Y02E"))
    val byLvl = rows.map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(byLvl("A").isEmpty && byLvl("A01").isEmpty)
    assert(byLvl("A01B1/00").contains(0.0) && byLvl("A01B1/02").contains(1.0))
    assert(titles.schema("level").dataType.typeName == "double")
  }

  test("symbol list: header skipped, whitespace-normalized, status recode") {
    val sl = CpcDimSources.symbolList(spark, dir.resolve(s"CPCSymbolList$v.zip").toString)
    val m = sl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("A") == "ACTIVE") // published -> ACTIVE
    assert(m("A01B1/00") == "ACTIVE") // "A01B 1/00" normalized
    assert(m("A01B1/02") == "UNKNOWN") // short row
    assert(m("B99X") == "retired") // non-published kept verbatim
    assert(!m.contains("symbol")) // header gone
  }

  test("validity file: from/to decode") {
    val vf = CpcDimSources.validityFile(spark, dir.resolve(s"CPCValidityFile$v.zip").toString)
    val m = vf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("A01B1/00") == "ACTIVE" && m("A01B1/02") == "ACTIVE")
    assert(m("B99X") == "INACTIVE")
  }

  test("scheme xml: child->parent edges with whitespace normalization") {
    val ed = CpcDimSources.schemeEdges(spark, dir.resolve(s"CPCSchemeXML$v.zip").toString)
    val m = ed.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("A01" -> "A", "A01B" -> "A01",
      "A01B1/00" -> "A01B", "A01B1/02" -> "A01B1/00"))
  }

  test("end-to-end pipeline: clean validation publishes versioned parquet+csv") {
    val out = Files.createTempDirectory("cpc-out")
    val rep = CpcPipeline.run(spark, dir.resolve(s"CPCTitleList$v.zip").toString,
      dir.toString, v, out.toString)
    assert(rep.total == 6 && rep.invalid == 0)
    val published = spark.read.parquet(s"$out/cpc_schema_$v.parquet")
    assert(published.count() == 6)
    assert(published.columns.toSeq ==
      Seq("symbol", "level", "title", "section", "class", "subclass", "cpc_schema_date"))
    assert(published.select("cpc_schema_date").distinct().collect()(0).getString(0) == v)
    assert(Files.exists(out.resolve(s"cpc_schema_$v.csv")))
  }

  test("validation details: warnings order and content (validator.py:186-207)") {
    val titles = CpcPipeline.parseTitles(spark, dir.resolve(s"CPCTitleList$v.zip").toString)
    val validated = CpcPipeline.validateTitles(spark, titles, dir.toString, v)
    val byIdx = validated.collect().map(r => r.getString(0) -> r).toMap
    val y = byIdx("Y02E")
    assert(y.getAs[Boolean]("symbol_valid"))
    assert(y.getAs[Boolean]("in_symbol_list"))
    assert(y.getAs[String]("validity_status") == "ACTIVE")
    assert(!y.getAs[Boolean]("schema_valid")) // root in XML but no parent... Y02E IS a root
    assert(y.getAs[scala.collection.Seq[String]]("validation_warnings") ==
      Seq("Symbol not found in schema hierarchy"))
    val a12 = byIdx("A01B1/02")
    // J4: validity file ACTIVE overwrote symbol-list UNKNOWN
    assert(a12.getAs[String]("validity_status") == "ACTIVE")
    assert(a12.getAs[Boolean]("schema_valid") &&
      a12.getAs[String]("parent_symbol") == "A01B1/00")
    assert(a12.getAs[scala.collection.Seq[String]]("validation_warnings").isEmpty)
  }

  test("gate blocks publish when symbols are invalid") {
    import spark.implicits._
    val titles = Seq(("Z99", Option.empty[Double], "bogus", "Z", "Z99", null: String))
      .toDF("symbol", "level", "title", "section", "class", "subclass")
    val validated = CpcPipeline.validateTitles(spark, titles, dir.toString, v)
    val rep = CpcPipeline.report(validated)
    assert(rep.invalid == 1)
    assert(rep.firstInvalid.head._1 == "Z99")
    assert(rep.firstInvalid.head._2 == Seq("Invalid symbol format",
      "Symbol not found in symbol list", "Symbol status: UNKNOWN",
      "Symbol not found in schema hierarchy"))
  }

  test("acquisition error paths: empty page raises, fetch failure -> available=false") {
    val raw = Files.createTempDirectory("cpc-raw-err")
    val emptyAcq = new Acquisition(new LocalFixtureFetcher("<html><body>no links</body></html>",
      Map.empty), rawDir = raw)
    intercept[RuntimeException](emptyAcq.availableVersions)
    assert(!emptyAcq.checkFileAvailability()) // error propagated as false (downloader.py:169-176)
    val throwingAcq = new Acquisition(new graft.sources.PageFetcher {
      override def fetchPage(url: String) = throw new RuntimeException("boom")
      override def fetchFile(url: String, dest: java.nio.file.Path) = ()
    }, rawDir = raw)
    assert(!throwingAcq.checkFileAvailability())
  }

  test("property: parse(format(symbol, level, title)) round-trips") {
    import org.scalacheck.Gen
    import graft.operators.CpcTitleParser
    import spark.implicits._
    val gen = for {
      sec <- Gen.oneOf("ABCDEFGHY".toSeq)
      cls <- Gen.choose(0, 99).map(n => f"$n%02d")
      sub <- Gen.oneOf("B", "K", "L")
      grp <- Gen.choose(1, 99)
      lvl <- Gen.option(Gen.choose(0, 15))
      title <- Gen.nonEmptyListOf(Gen.oneOf("Hand", "tools;", "(lawn)", "Spades")).map(_.mkString(" "))
    } yield (s"$sec$cls$sub$grp/00", lvl, title)
    val cases = Gen.listOfN(50, gen).sample.get.distinctBy(_._1)
    val lines = cases.map { case (sym, lvl, t) =>
      lvl.fold(s"$sym $t")(l => s"$sym $l $t")
    }
    val parsed = CpcTitleParser.parseLines(lines.toDF("line"))
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1).toInt)), r.getString(2))).toMap
    cases.foreach { case (sym, lvl, t) =>
      assert(parsed(sym) == ((lvl, t)), s"case $sym")
    }
  }

  test("acquisition: version resolution + force download from fixture page") {
    val html =
      """<html><body>
        |<a href="/files/CPCSchemeXML202401.zip">old</a>
        |<a href="/files/CPCSchemeXML202505.zip">xml</a>
        |<a href="/files/CPCTitleList202505.zip">titles</a>
        |<a href="/other/page.html">not a zip</a>
        |</body></html>""".stripMargin
    val raw = Files.createTempDirectory("cpc-raw")
    val acq = new Acquisition(new LocalFixtureFetcher(html, Map(
      s"CPCSchemeXML$v.zip" -> dir.resolve(s"CPCSchemeXML$v.zip"),
      s"CPCTitleList$v.zip" -> dir.resolve(s"CPCTitleList$v.zip"))), rawDir = raw)
    assert(acq.availableVersions == Seq("202401", "202505"))
    assert(acq.version == "202505")
    assert(acq.checkFileAvailability())
    val landed = acq.downloadBulkFiles()
    assert(landed.forall(Files.exists(_)))
    assert(landed.map(_.getFileName.toString).toSet ==
      Set(s"CPCSchemeXML$v.zip", s"CPCTitleList$v.zip"))
  }

  /** The two-query report that `CpcPipeline.report` folded into one
    * aggregate, kept as its oracle. */
  private def twoQueryReport(validated: DataFrame): CpcPipeline.Report = {
    val counts = validated.agg(
      count(lit(1)).as("total"),
      sum(when(CpcValidator.invalidCond, 1L).otherwise(0L)).as("invalid"))
      .collect()(0)
    val first = validated.where(CpcValidator.invalidCond)
      .select("symbol", "validation_warnings").orderBy("symbol").limit(10)
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    CpcPipeline.Report(counts.getLong(0), Option(counts.get(1)).fold(0L)(_.asInstanceOf[Long]), first.toSeq)
  }

  private def validatedSymbols(symbols: Seq[String]): DataFrame = {
    import spark.implicits._
    CpcPipeline.validateTitles(spark, symbols.toDF("symbol"), dir.toString, v)
  }

  test("report parity: one bounded aggregate == the two-query oracle") {
    val titles = CpcPipeline.parseTitles(spark, dir.resolve(s"CPCTitleList$v.zip").toString)
    val clean = CpcPipeline.validateTitles(spark, titles, dir.toString, v)
    // 25 invalid rows over 7 symbols (one null), spread over 4 partitions
    // so the partial buffers merge, with a tie across the 10th place; 6
    // valid rows interleaved
    val repeated = validatedSymbols(
      Seq("Z99", "A01", "Q12", "B99X", null, "A01B", "Z01", "Q12", "M7", "Z99", "A",
        "Z01", "Q12", "K3", "Y02E", "M7", "Z99", "Z01", "A01B1/00", "Q12", "K3", "K3",
        "M7", "Z99", "Q12", "Z01", "M7", "K3", "A01B1/02", "Z99", "M7")).repartition(4)
    // UTF-16 order puts the surrogate pair of U+1F600 before U+FF21; UTF-8
    // byte order, which `orderBy` uses, puts U+FF21 first
    val utf8 = validatedSymbols(Seq.fill(10)("\uD83D\uDE00") :+ "\uFF21")
    val cases = Seq(
      "defect" -> validatedSymbols(Seq("Z99")),
      "defect among valid" -> clean.unionByName(validatedSymbols(Seq("Z99")), allowMissingColumns = true),
      "all valid" -> clean,
      "empty" -> clean.where(lit(false)),
      "repeated" -> repeated,
      "utf8 order" -> utf8)
    cases.foreach { case (name, validated) =>
      assert(CpcPipeline.report(validated) == twoQueryReport(validated), name)
    }
    assert(CpcPipeline.report(clean) == CpcPipeline.Report(6, 0, Nil))
    assert(CpcPipeline.report(clean.where(lit(false))) == CpcPipeline.Report(0, 0, Nil))
    val rep = CpcPipeline.report(repeated)
    assert(rep.invalid == 25 && rep.firstInvalid.size == 10)
    assert(rep.firstInvalid.map(_._1) ==
      Seq(null, "B99X", "K3", "K3", "K3", "K3", "M7", "M7", "M7", "M7"))
    assert(CpcPipeline.report(utf8).firstInvalid.map(_._1) ==
      "\uFF21" +: Seq.fill(9)("\uD83D\uDE00"))
  }

  test("report is one SQL execution") {
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    val validated = validatedSymbols(Seq("Z99", "A01", "Q12"))
    spark.listenerManager.register(l)
    try {
      CpcPipeline.report(validated)
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(executions.get == 1)
  }

  test("keep-last dims plan no shuffle exchange") {
    object Plans extends AdaptiveSparkPlanHelper
    Seq(
      CpcDimSources.symbolList(spark, dir.resolve(s"CPCSymbolList$v.zip").toString),
      CpcDimSources.validityFile(spark, dir.resolve(s"CPCValidityFile$v.zip").toString),
      CpcDimSources.schemeEdges(spark, dir.resolve(s"CPCSchemeXML$v.zip").toString)
    ).foreach { dim =>
      dim.collect()
      val plan = dim.queryExecution.executedPlan
      assert(Plans.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
    }
  }

  /** The listener events `body` causes, all delivered before this returns. */
  private def eventsOf(body: => Any): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = events.add(j)
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    sc.addSparkListener(l)
    try { body; ListenerBusDrain.drain(sc) } finally sc.removeSparkListener(l)
    events.asScala.toSeq
  }

  private def runClean(out: java.nio.file.Path): CpcPipeline.Report =
    CpcPipeline.run(spark, dir.resolve(s"CPCTitleList$v.zip").toString, dir.toString, v, out.toString)

  test("warm clean-month run: at most 9 Spark jobs") {
    // per month: 3 dim broadcasts, the cached titles, the report's partial
    // and final aggregate stages, and 3 publish writes
    val out = Files.createTempDirectory("cpc-jobs")
    runClean(out)
    val jobs = eventsOf(runClean(out)).collect { case j: SparkListenerJobStart => j }
    assert(jobs.size <= 9, jobs.map(_.stageInfos.map(_.name)))
  }

  test("publish writes carry the caller's job group") {
    val out = Files.createTempDirectory("cpc-group")
    val sc = spark.sparkContext
    sc.setJobGroup("cpc-publish-group", "publish job group spec")
    val events = try eventsOf(runClean(out)) finally sc.clearJobGroup()
    val writes = events.collect {
      case e: SparkListenerSQLExecutionStart
        if e.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") => e.executionId
    }.toSet
    val writeJobs = events.collect {
      case j: SparkListenerJobStart
        if Option(j.properties.getProperty("spark.sql.execution.id")).exists(id => writes(id.toLong)) => j
    }
    assert(writes.size == 3)
    assert(writeJobs.map(_.properties.getProperty("spark.sql.execution.id")).distinct.size == 3)
    assert(writeJobs.forall(_.properties.getProperty("spark.jobGroup.id") == "cpc-publish-group"))
  }

  test("a failed publish write throws after the other writes settle") {
    val out = Files.createTempDirectory("cpc-blocked")
    // a regular file where the snapshot table's directory must go
    Files.write(out.resolve("cpc_schema_snapshots"), Array[Byte](1))
    intercept[Exception](runClean(out))
    assert(Files.exists(out.resolve(s"cpc_schema_$v.parquet/_SUCCESS")))
    assert(Files.exists(out.resolve(s"cpc_schema_$v.csv/_SUCCESS")))
  }
}
