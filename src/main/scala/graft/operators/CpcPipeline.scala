package graft.operators

import graft.sources.{CpcDimSources, ZipTextSource}
import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.Try

/** End-to-end orchestration of the reference pipeline (SURVEY §3 E1/E2):
  * parse the title list, validate every symbol against the three auxiliary
  * datasets, and publish a version-stamped snapshot only when validation is
  * fully clean (the all-or-nothing gate, reference: main.py:89-121).
  *
  * Acquisition (HTTP download, S1-S3) is driver-side I/O behind
  * [[graft.sources.Acquisition]]; this object starts from landed zip files.
  *
  * SCALE: per release month the Spark work is three dim broadcast builds
  * (one task each, no exchange — see [[graft.sources.CpcDimSources]]), ONE
  * report query that computes the gate counts and the bounded first-10
  * sample together, and, only when the month is clean, three publish writes
  * submitted at once. The titles are parsed once into a cache that the
  * report and the writes share; only the report reads the validated frame,
  * so it is not cached. The driver collects one row holding at most 10
  * sample entries. Publish writes partitioned by `cpc_schema_date`, so
  * repeated monthly runs append new partitions instead of rewriting.
  */
object CpcPipeline {

  case class Report(total: Long, invalid: Long, firstInvalid: Seq[(String, Seq[String])])

  /** Parse a CPCTitleList zip into the 6-column titles frame
    * (members `cpc-section-*`, parser.py:78-93). */
  def parseTitles(spark: SparkSession, titleZip: String): DataFrame = {
    val lines = ZipTextSource.lines(spark, titleZip, _.startsWith("cpc-section-"))
    CpcTitleParser.parseLines(lines.toDF())
  }

  def validateTitles(spark: SparkSession, titles: DataFrame, dataDir: String,
      version: String): DataFrame = {
    val dir = dataDir.stripSuffix("/")
    CpcValidator.validate(
      titles,
      CpcDimSources.symbolList(spark, s"$dir/CPCSymbolList$version.zip"),
      CpcDimSources.validityFile(spark, s"$dir/CPCValidityFile$version.zip"),
      CpcDimSources.schemeEdges(spark, s"$dir/CPCSchemeXML$version.zip"))
  }

  /** (symbol, validation_warnings) of one invalid row. */
  private type Sample = (String, Seq[String])

  /** Typed bounded aggregate (the [[TopK]] surface): the first `k`
    * (symbol, warnings) of the rows flagged invalid, in the order
    * `orderBy("symbol").limit(k)` returns them — Spark's string order,
    * which is UTF-8 byte order (not UTF-16 `String.compareTo`), nulls
    * first, duplicate symbols kept. The buffer stays sorted and holds at
    * most `k` entries; once full, a row that sorts at or after the k-th is
    * rejected with one comparison. */
  private def firstInvalid(k: Int): Aggregator[(String, Seq[String], Boolean), Seq[Sample], Seq[Sample]] =
    new Aggregator[(String, Seq[String], Boolean), Seq[Sample], Seq[Sample]] {
      private def cmp(a: String, b: String): Int =
        if (a == null) (if (b == null) 0 else -1)
        else if (b == null) 1
        else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
      /** Inserts after equal symbols, so an earlier entry wins a tie at k. */
      private def add(buf: Seq[Sample], s: Sample): Seq[Sample] =
        if (buf.size == k && cmp(s._1, buf.last._1) >= 0) buf
        else {
          val at = buf.indexWhere(e => cmp(e._1, s._1) > 0)
          buf.patch(if (at < 0) buf.size else at, Seq(s), 0).take(k)
        }
      override def zero: Seq[Sample] = Vector.empty
      override def reduce(buf: Seq[Sample], in: (String, Seq[String], Boolean)): Seq[Sample] =
        if (in._3) add(buf, (in._1, in._2)) else buf
      override def merge(a: Seq[Sample], b: Seq[Sample]): Seq[Sample] = b.foldLeft(a)(add)
      override def finish(buf: Seq[Sample]): Seq[Sample] = buf
      override def bufferEncoder: Encoder[Seq[Sample]] = samplesEncoder
      override def outputEncoder: Encoder[Seq[Sample]] = samplesEncoder
    }

  /** The report's sample aggregate and its encoders, derived once per JVM.
    * Deriving an encoder walks Scala runtime reflection, which is slow and
    * uneven from call to call, and Spark asks the aggregate for its output
    * encoder again on every copy of the expression and in every task. */
  private lazy val samplesEncoder = ExpressionEncoder[Seq[Sample]]()
  private lazy val firstInvalidSample =
    udaf(firstInvalid(10), ExpressionEncoder[(String, Seq[String], Boolean)]())

  /** Validation report: total rows, invalid rows, first 10 invalid symbols
    * with warnings — ordered by symbol for determinism where the reference
    * relied on iteration order (SURVEY §7.4 risk 2). One aggregate, so one
    * Spark job over `validated`. */
  def report(validated: DataFrame): Report = {
    val invalid = coalesce(CpcValidator.invalidCond, lit(false))
    val r = validated.agg(
      count(lit(1)),
      sum(when(invalid, 1L).otherwise(0L)),
      // valid rows reach the aggregate as nulls, so their warnings are
      // never built and nothing is decoded for them
      firstInvalidSample(when(invalid, col("symbol")), when(invalid, col("validation_warnings")), invalid))
      .head()
    Report(r.getLong(0), Option(r.get(1)).fold(0L)(_.asInstanceOf[Long]),
      r.getSeq[Row](2).map(e => (e.getString(0), e.getSeq[String](1))))
  }

  /** The publish gate (main.py:89-121): write the version-stamped snapshot
    * only when every symbol validates clean. Returns the report. */
  def run(spark: SparkSession, titleZip: String, dataDir: String, version: String,
      outDir: String, csvToo: Boolean = true): Report = {
    val titles = parseTitles(spark, titleZip).cache()
    try {
      val rep = report(validateTitles(spark, titles, dataDir, version))
      if (rep.invalid == 0) {
        val stamped = titles.withColumn("cpc_schema_date", lit(version))
        val parquet = () =>
          stamped.write.mode("overwrite").parquet(s"$outDir/cpc_schema_$version.parquet")
        val csv = () => stamped.write.mode("overwrite").option("header", true)
          .csv(s"$outDir/cpc_schema_$version.csv")
        // scale path: one partitioned snapshot table instead of per-version
        // files — monthly runs add a partition, never rewrite history, and
        // readers get partition pruning on cpc_schema_date
        val snapshot = () => stamped.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cpc_schema_date")
          .parquet(s"$outDir/cpc_schema_snapshots")
        concurrently(spark, if (csvToo) Seq(parquet, csv, snapshot) else Seq(parquet, snapshot))
      }
      rep
    } finally titles.unpersist()
  }

  /** Runs independent Spark actions at once, each on a thread that carries
    * the caller's active session and local properties (job group, pool,
    * description), which pooled threads do not reliably inherit. Waits for
    * all of them, then rethrows the first failure in `actions` order. */
  private def concurrently(spark: SparkSession, actions: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(actions.size)
    val failures = try {
      actions
        .map(a => SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(a()))
        .flatMap(f => Try(f.get()).failed.toOption)
        .map { case e: ExecutionException if e.getCause != null => e.getCause; case e => e }
    } finally pool.shutdown()
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
