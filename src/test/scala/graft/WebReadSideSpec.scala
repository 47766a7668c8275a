package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Dedup
import graft.sources.WarcSource
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The read side of a crawl landing: WARC shards read one task each, the
  * response frame's fixed schema, and paragraph dedup against the
  * digest-join implementation it replaced. */
class WebReadSideSpec extends GraftSpec {

  private def docsFrame(rows: Seq[(java.lang.Long, String)], parts: Int = 1): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, parts),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("warc read: one partition per shard") {
    val docs = spark.range(1, 61).select(col("id").as("doc_id"),
      concat(lit("page body "), col("id").cast("string")).as("text"))
    val dir = Files.createTempDirectory("warc-shards").toString
    assert(WarcSource.exportWarc(docs, dir, 6, "p", gzip = true) == 60L)
    assert(WarcSource.records(spark, dir).rdd.getNumPartitions == 6)
    val bodies = WarcSource.responseBodies(spark, dir)
    assert(bodies.rdd.getNumPartitions == 6)
    assert(bodies.select("body").collect().map(_.getString(0)).toSet ==
      (1 to 60).map(i => s"page body $i").toSet)
  }

  test("warc read: responseBodies schema is fixed") {
    val dir = Files.createTempDirectory("warc-schema").toString
    WarcSource.exportWarc(docsFrame(Seq((1L, "a"))), dir, 1, "s")
    val want = StructType(Seq(
      StructField("file", StringType),
      StructField("record_idx", IntegerType, nullable = false),
      StructField("uri", StringType),
      StructField("status", StringType),
      StructField("status_code", IntegerType, nullable = false),
      StructField("location", StringType),
      StructField("body", StringType),
      StructField("charset", StringType),
      StructField("was_transcoded", BooleanType, nullable = false),
      StructField("content_encoding", StringType),
      StructField("was_chunked", BooleanType, nullable = false),
      StructField("transfer_encoding", StringType)))
    assert(WarcSource.responseBodies(spark, dir).schema == want)
  }

  test("warc read: no matching shard is an error naming the pattern") {
    val empty = Files.createTempDirectory("warc-none").toString
    Files.write(java.nio.file.Paths.get(empty, "notes.txt"), Array[Byte](1))
    Seq(empty, s"$empty/missing").foreach { dir =>
      val e1 = intercept[Exception](WarcSource.records(spark, dir).collect())
      assert(e1.getMessage.contains("shard-*.warc*"), e1.getMessage)
      val e2 = intercept[Exception](WarcSource.responseBodies(spark, dir).collect())
      assert(e2.getMessage.contains("shard-*.warc*"), e2.getMessage)
    }
  }

  /** The digest-join implementation: the paragraph rows join back to their
    * winners on the digest and regroup their text by doc. */
  private def oracle(docs: DataFrame, sep: String): DataFrame = {
    val (idCol, textCol) = ("doc_id", "text")
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("idx", "para")))
      .where(trim(col("para")) =!= "")
      .select(col(idCol), col("idx"), col("para"), md5(col("para")).as("ph"))
    val winners = paras
      .groupBy("ph")
      .agg(min(struct(col(idCol), col("idx"))).as("w"))
      .select(col("ph"), col("w").getField(idCol).as("w_id"),
        col("w").getField("idx").as("w_idx"))
    val kept = paras.join(winners, Seq("ph"))
      .withColumn("keep", col(idCol) === col("w_id") && col("idx") === col("w_idx"))
    val perDoc = kept.groupBy(idCol)
      .agg(
        array_join(transform(array_sort(
          collect_list(when(col("keep"), struct(col("idx"), col("para"))))),
          _.getField("para")), sep).as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  private def sameAsOracle(docs: DataFrame, sep: String = "\n"): Unit = {
    val got = Dedup.paragraphDedup(docs, sep = sep)
    val want = oracle(docs, sep)
    assert(got.schema == want.schema)
    assert(got.orderBy("doc_id").collect().toSeq == want.orderBy("doc_id").collect().toSeq)
  }

  test("paragraph dedup matches the digest-join implementation on edge cases") {
    val (a, b, c) = ("alpha para", "beta para", "gamma para")
    sameAsOracle(docsFrame(Seq(
      (1L, null),                   // null text
      (2L, " \n  \n "),             // blank-only paragraphs
      (3L, s"$a\n$b\n"),            // trailing separator
      (4L, s"$c\n$c\n\n$a"),        // repeated within the doc
      (5L, s"$b\n$a"),              // fully excised
      (6L, ""),
      (7L, s"\n$c\n\n"))))
    sameAsOracle(docsFrame(Seq(
      (1L, s"$a||$b||"), (2L, s"$b||||$c"), (3L, s"$c||$a|$b"), (4L, "||"))), sep = "||")
  }

  /** Seeded documents drawn from a small paragraph pool (with blanks), in
    * shuffled id order over 4 partitions. */
  private def randomDocs(seed: Long, n: Int, sep: String): DataFrame = {
    val r = new scala.util.Random(seed)
    val pool = IndexedSeq.tabulate(12)(i => s"pool paragraph $i") ++ Seq("", " ")
    val rows = r.shuffle((1L to n.toLong).toVector).map { id =>
      val ps = Seq.fill(r.nextInt(7))(pool(r.nextInt(pool.size)))
      (java.lang.Long.valueOf(id), if (r.nextInt(20) == 0) null else ps.mkString(sep))
    }
    docsFrame(rows, 4)
  }

  test("paragraph dedup matches the digest-join implementation on seeded docs") {
    Seq(1L, 2L, 3L).foreach(seed => sameAsOracle(randomDocs(seed, 300, "\n")))
    sameAsOracle(randomDocs(4L, 300, "||"), sep = "||")
  }

  test("paragraph dedup: a null id never wins a paragraph, duplicate ids keep their own text") {
    val (a, b, c, d) = ("alpha para", "beta para", "gamma para", "delta para")
    def run(rows: Seq[(java.lang.Long, String)]) =
      Dedup.paragraphDedup(docsFrame(rows)).collect().toSeq
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1), r.getLong(2), r.getLong(3)))
    val withNull = run(Seq((null, s"$a\n$b"), (1L, s"$a\n$c"), (2L, b)))
    assert(withNull.toSet == Set(
      (None, "", 0L, 2L), (Some(1L), s"$a\n$c", 2L, 0L), (Some(2L), b, 1L, 0L)))
    // ids are expected unique; when they are not, each row still rebuilds
    // from its own text and no paragraph leaves the corpus
    val dup = run(Seq((1L, s"$a\n$b"), (1L, s"$c\n$a"), (2L, s"$b\n$d")))
    assert(dup.filter(_._1.contains(1L)).map(_._2).sorted == Seq(s"$a\n$b", s"$c\n$a"))
    assert(dup.find(_._1.contains(2L)).contains((Some(2L), d, 1L, 1L)))
    assert(dup.flatMap(_._2.split("\n")).toSet == Set(a, b, c, d))
  }

  /** The deduped frame of a warm call, after its collect, and the number
    * of Spark jobs that collect ran. */
  private def warmCall(): (DataFrame, Int) = {
    val docs = randomDocs(5L, 400, "\n")
    Dedup.paragraphDedup(docs).collect()
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val out = Dedup.paragraphDedup(docs)
    sc.addSparkListener(l)
    try { out.collect(); ListenerBusDrain.drain(sc) } finally sc.removeSparkListener(l)
    (out, jobs.get)
  }

  test("paragraph dedup: a warm call runs at most 5 jobs") {
    val (_, jobs) = warmCall()
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("paragraph dedup: no exchange carries the exploded paragraph text") {
    val (out, _) = warmCall()
    object Plans extends AdaptiveSparkPlanHelper
    val exchanges = Plans.collect(out.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    // "para" is the exploded paragraph column
    exchanges.foreach(e => assert(!e.output.exists(_.name == "para"), e.treeString))
  }
}
