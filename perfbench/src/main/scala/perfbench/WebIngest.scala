package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import graft.expressions.{ExtractBlocks, ShingleHashes, TextStats}
import graft.operators.{Dedup, HtmlExtract}
import graft.sources.{ManifestCommit, WarcSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}

/** A crawl landing: seeded gzip WARC shards of pages with navigation,
  * footers and repeated paragraphs, through WARC decode, main-text
  * extraction and paragraph dedup into a manifest-committed table, then a
  * 10% recrawl upserted and a pruned read-back. */
final class WebIngest extends Workload {
  import WebIngest._

  val name = "web_ingest"
  val steps = Seq("warc_decode", "html_extract", "paragraph_dedup",
    "manifest_commit", "manifest_upsert", "manifest_read")

  val Pages = 1200
  val Hosts = 12
  val Buckets = 8

  private var crawl: Crawl = _
  private var recrawl: Crawl = _
  private var finalKept: Map[Long, Long] = Map.empty
  private var readRange: (Long, Long) = (0L, 0L)
  private var readCount = 0L
  private var bucketWidth = 1L

  def records: Long = (crawl.pages.size + recrawl.pages.size).toLong
  def inputBytes: Long = crawl.bytes + recrawl.bytes
  def inputSizes: Map[String, Any] = Map(
    "pages" -> crawl.pages.size, "warc_bytes" -> crawl.bytes,
    "recrawl_pages" -> recrawl.pages.size, "recrawl_warc_bytes" -> recrawl.bytes,
    "recrawl_new_pages" -> recrawl.pages.count(_.id > Pages))

  private def html(r: SplittableRandom, vocab: Vocab, p: Page): String = {
    val host = p.uri.split("/")(2)
    val b = new StringBuilder("<!DOCTYPE html><html><head><title>")
    b ++= vocab.sentence(r, 5).mkString(" ")
    b ++= "</title><style>body{margin:0}</style><script>var t=1;</script></head>\n<body><header><nav><ul>"
    Seq("home", "news", "sports", "weather", "about us", "contact").foreach { l =>
      b ++= s"""<li><a href="/${l.replace(' ', '-')}">$l</a></li>"""
    }
    b ++= "</ul></nav></header>\n<main><h1>"
    b ++= vocab.sentence(r, 4).mkString(" ")
    b ++= "</h1>\n"
    p.paras.foreach(t => b ++= s"<p>$t</p>\n")
    b ++= "</main>\n<aside><ul>"
    (1 to 4).foreach { i =>
      b ++= s"""<li><a href="/p/${r.nextInt(Pages) + 1}">${vocab.sentence(r, 3 + i % 3).mkString(" ")}</a></li>"""
    }
    b ++= s"</ul></aside>\n<footer><p>copyright $host all rights reserved</p></footer>"
    b ++= "<!-- rendered --><script>track();</script></body></html>\n"
    b.toString
  }

  private def record(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    val head = ("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" } :+
      s"Content-Length: ${payload.length}").mkString("", "\r\n", "\r\n\r\n")
    val raw = new ByteArrayOutputStream()
    raw.write(head.getBytes(UTF_8)); raw.write(payload); raw.write("\r\n\r\n".getBytes(UTF_8))
    val gz = new ByteArrayOutputStream()
    val z = new GZIPOutputStream(gz); z.write(raw.toByteArray); z.close()
    gz.toByteArray
  }

  /** Gzip-per-record WARC shards: a warcinfo record, then a request and a
    * response record per page. */
  private def writeWarc(dir: Path, pages: Seq[Page], shards: Int,
      r: SplittableRandom, vocab: Vocab): Long = {
    pages.grouped((pages.size + shards - 1) / shards).zipWithIndex.map { case (ps, s) =>
      val out = new ByteArrayOutputStream()
      out.write(record(Seq("WARC-Type" -> "warcinfo", "WARC-Date" -> "2025-01-15T00:00:00Z",
        "WARC-Record-ID" -> s"<urn:uuid:00000000-0000-0000-0000-${f"$s%012d"}>",
        "Content-Type" -> "application/warc-fields"), "software: perfbench\r\n".getBytes(UTF_8)))
      ps.foreach { p =>
        val body = html(r, vocab, p).getBytes(UTF_8)
        val req = s"GET ${p.uri} HTTP/1.1\r\nHost: ${p.uri.split("/")(2)}\r\n\r\n".getBytes(UTF_8)
        val resp = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
        def hdrs(kind: String) = Seq("WARC-Type" -> kind,
          "WARC-Target-URI" -> p.uri, "WARC-Date" -> "2025-01-15T00:00:00Z",
          "WARC-Record-ID" -> s"<urn:uuid:${new java.util.UUID(p.id, kind.length).toString}>",
          "Content-Type" -> s"application/http; msgtype=$kind")
        out.write(record(hdrs("request"), req))
        out.write(record(hdrs("response"), resp))
      }
      Disk.write(dir.resolve(f"shard-$s%05d.warc.gz"), out.toByteArray)
      out.size().toLong
    }.sum
  }

  /** Paragraph dedup truth: the first (doc, index) of each paragraph keeps
    * it. */
  private def keptCounts(pages: Seq[Page]): Map[Long, (Long, Long)] = {
    val seen = mutable.HashSet.empty[String]
    pages.sortBy(_.id).map { p =>
      val kept = p.paras.count(seen.add).toLong
      p.id -> (kept, p.paras.size - kept)
    }.toMap
  }

  def generate(spark: SparkSession, in: Path, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    val vocab = new Vocab(r, 3000, 1.0)
    def para(): String = vocab.sentence(r, 12 + r.nextInt(29)).mkString(" ")
    val about = IndexedSeq.fill(Hosts)(para())
    val syndicated = IndexedSeq.fill(30)(para())
    def page(id: Long): Page = {
      val own = Seq.fill(2 + r.nextInt(5))(para())
      val extra = (if (r.nextInt(100) < 40) Seq(about((id % Hosts).toInt)) else Nil) ++
        (if (r.nextInt(100) < 20) Seq(syndicated(r.nextInt(syndicated.size))) else Nil)
      val paras = extra.foldLeft(own)((ps, x) => { val at = r.nextInt(ps.size + 1); ps.take(at) ++ (x +: ps.drop(at)) })
      Page(id, s"http://site${id % Hosts}.example/p/$id", paras)
    }
    val pages = (1L to Pages.toLong).map(page)
    val refetched = pages.indices.filter(_ => r.nextInt(20) == 0).map(i => page(pages(i).id))
    val added = (1 to Pages / 20).map(i => page(Pages.toLong + i))
    val again = refetched ++ added
    crawl = Crawl(in.resolve("crawl"), pages, writeWarc(in.resolve("crawl"), pages, Profile.nproc, r, vocab),
      keptCounts(pages))
    recrawl = Crawl(in.resolve("recrawl"), again, writeWarc(in.resolve("recrawl"), again, 2, r, vocab),
      keptCounts(again))

    bucketWidth = (Pages + Pages / 20 + Buckets) / Buckets
    finalKept = crawl.kept.map { case (id, kd) => id -> kd._1 } ++
      recrawl.kept.map { case (id, kd) => id -> kd._1 }
    val lo = 1L + r.nextInt(Pages / 2)
    readRange = (lo, lo + Pages / 4)
    readCount = finalKept.keys.count(id => id >= readRange._1 && id <= readRange._2).toLong
  }

  /** WARC decode, extraction and paragraph dedup of one landing; returns
    * the table rows. */
  private def land(spark: SparkSession, c: Crawl, t: Tracer, checks: Checks): DataFrame = {
    val bodies = t.span("sources.warc_decode") {
      WarcSource.responseBodies(spark, c.dir.toString)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("body").as("html"))
        .localCheckpoint()
    }
    val pages = t.span("operators.html_extract") { HtmlExtract.extract(bodies).localCheckpoint() }
    val dedup = t.span("operators.paragraph_dedup") { Dedup.paragraphDedup(pages).localCheckpoint() }
    checks.add("warc_decode") {
      Checks.sameSet("page ids", bodies.select("doc_id").collect().map(_.getLong(0)).toSeq,
        c.pages.map(_.id))
    }
    checks.add("html_extract") {
      val want = c.pages.map(p => p.id -> p.text).toMap
      val got = pages.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val bad = want.keys.filter(k => !got.get(k).contains(want(k)))
      if (bad.isEmpty && got.size == want.size) None
      else Some(s"${bad.size} of ${want.size} pages extract wrongly, e.g. ${bad.take(3).mkString(",")}")
    }
    checks.add("paragraph_dedup") {
      Checks.eq("kept/dropped per doc", dedup.select("doc_id", "n_kept", "n_dropped").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap, c.kept)
    }
    checks.cleanup(Seq(bodies, pages, dedup).foreach(Frames.release))
    dedup.withColumn("bucket", ((col("doc_id") - 1) / bucketWidth).cast("int"))
  }

  def pass(spark: SparkSession, out: Path, t: Tracer, checks: Checks): Unit = {
    val table = out.resolve("pages").toString
    val rows = land(spark, crawl, t, checks)
    val committed = t.span("sources.manifest_commit") {
      ManifestCommit.overwriteViaManifest(spark, table, Seq("bucket"), replaceAll = true,
        statCols = Seq("doc_id")) { dir => rows.write.partitionBy("bucket").parquet(dir) }
    }
    checks.add("manifest_commit") {
      Checks.eq("committed rows",
        ManifestCommit.readManifested(spark, table, Some(committed.version)).count(), crawl.pages.size.toLong)
    }
    val updates = land(spark, recrawl, t, checks)
    t.span("sources.manifest_upsert") {
      ManifestCommit.upsertManifested(spark, table, updates, Seq("doc_id"), Seq("bucket"),
        statCols = Seq("doc_id"))
    }
    checks.add("manifest_upsert") {
      Checks.eq("n_kept per doc", ManifestCommit.readManifested(spark, table).select("doc_id", "n_kept")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, finalKept)
    }
    val n = t.span("sources.manifest_read") {
      val (df, _, _) = ManifestCommit.readManifestedPruned(spark, table, "doc_id",
        readRange._1, readRange._2)
      df.where(col("doc_id").between(readRange._1, readRange._2)).count()
    }
    checks.add("manifest_read") { Checks.eq("pruned read-back rows", n, readCount) }
  }

  def extras(spark: SparkSession, out: Path, checks: Checks,
      spans: Map[String, Map[String, Double]]): Map[String, Double] = {
    def self(s: String) = spans.get(s).map(_("self_s")).getOrElse(0.0)
    val bodies = WarcSource.responseBodies(spark, crawl.dir.toString).select(col("body").as("html")).cache()
    val text = HtmlExtract.extract(bodies).select("text").cache()
    val kernels = Map(
      "expressions.html_blocks.ns_per_row" ->
        Frames.kernelNsPerRow(bodies, ExtractBlocks.extract_blocks(col("html"))),
      "expressions.text_stats.ns_per_row" -> Frames.kernelNsPerRow(text, TextStats.text_stats(col("text"))),
      "expressions.shingle_hashes.ns_per_row" ->
        Frames.kernelNsPerRow(text, ShingleHashes.shingle_hashes(col("text"), 3)))
    Seq(bodies, text).foreach(_.unpersist())
    // the last pass's table: version 1 is the commit, the current one the upsert
    val table = out.resolve("pages")
    def txns(v: Option[Long]) = ManifestCommit.snapshotAt(spark, table.toString, v).get.entries.values.toSet
    val (committed, upserted) = (txns(Some(1L)), txns(None) -- txns(Some(1L)))
    def bytes(ts: Set[String]) = ts.toSeq.map(t => Disk.bytes(table.resolve("data").resolve(t))).sum
    val updatedShare = recrawl.pages.size.toDouble / crawl.pages.size
    kernels ++ Map(
      "sources.warc_decode.mb_per_s" -> inputBytes / 1048576.0 / self("sources.warc_decode"),
      "operators.html_extract.ns_per_row" -> self("operators.html_extract") * 1e9 / records,
      "sources.manifest_commit.files" ->
        committed.toSeq.map(t => Disk.dataFiles(table.resolve("data").resolve(t))).sum.toDouble,
      "sources.manifest_upsert.bytes_rewritten_per_updated_byte" ->
        bytes(upserted) / math.max(1.0, bytes(committed) * updatedShare))
  }
}

object WebIngest {
  final case class Page(id: Long, uri: String, paras: Seq[String]) {
    def text: String = paras.mkString("\n")
  }

  /** One WARC landing: its pages and per-doc (n_kept, n_dropped). */
  final case class Crawl(dir: Path, pages: Seq[Page], bytes: Long,
      kept: Map[Long, (Long, Long)])
}
