package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, EOFException, IOException, InputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.{Partitioner, SerializableWritable, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, IntegerType, StringType, StructField, StructType}

/** One WARC record with its parsed named headers (the ISO 28500 set the
  * engine consumes) plus the raw payload block. `recordIdx` is the
  * within-file ordinal so sample order is recoverable. */
case class WarcRecord(file: String, recordIdx: Int, warcType: String,
    recordId: String, targetUri: String, date: String,
    contentType: String, contentLength: Long, payload: Array[Byte])

/** WARC (ISO 28500) read/write — the landing format of CommonCrawl and
  * every public web-crawl corpus: the stage BEFORE
  * [[graft.operators.HtmlExtract]] in a crawl→training-data pipeline.
  *
  * Write side: the [[TarShards]] discipline — deterministic (shard, pos)
  * slotting via [[graft.operators.TrainingPrep.shardExport]], ONE ranged
  * exchange whose shuffle delivers within-shard order, then each task
  * streams its shard with O(one record) memory. Every volatile WARC
  * field is pinned (WARC-Date epoch, record IDs = md5-derived urn:uuid
  * of the salted doc id, gzip headers zeroed by the JDK), so re-exports
  * are byte-identical and shards content-address.
  *
  * Records are WARC-Type: response carrying a full HTTP/1.1 response
  * (status line + headers + body) as `application/http; msgtype=response`
  * — the CommonCrawl shape — preceded by one warcinfo record per shard.
  * With the `gzip` codec, each record is its OWN gzip member and members
  * are concatenated: the CommonCrawl .warc.gz layout, which lets readers
  * split at member boundaries; the `zstd` codec writes one zstd FRAME
  * per record the same way (the emerging .warc.zst companion layout).
  *
  * Read side: one read task per shard file (WARC, like tar/zip, has no
  * native Spark codec) + a strict record walker — version line, header block,
  * Content-Length framing, CRLF CRLF record boundary — that throws with
  * file+offset on any framing violation rather than resyncing silently.
  * The walker is a STREAMING parser over an InputStream: compressed
  * shards decompress through GZIPInputStream / ZstdInputStream member by
  * member, so decompressed memory is O(one record) — never a whole-shard
  * buffer (a ~1 GB .warc.gz shard decompresses 3-4×; buffering that per
  * task on top of binaryFile's compressed bytes was the round-18 scale
  * watch-item).
  *
  * SCALE: parallelism = shard count on both sides (a 100-TB crawl at the
  * customary ~1 GB/shard is ~10^5 tasks). The batch reader makes one
  * partition per listed shard itself: `sc.binaryFiles` would pack whole
  * files into splits of up to max(`spark.files.openCostInBytes`, total
  * bytes / parallelism), so shards under that cap share one task (four
  * 372 KB shards read as ONE partition). Each read task opens its shard
  * and streams it — memory is O(one record) TOTAL, no whole-file buffer
  * at either layer; the streaming twin still pays the binaryFile
  * whole-content envelope (the file-source has no streamed-content form)
  * plus one decompressed record. No state, no shuffle beyond the
  * writer's single ranged exchange.
  */
object WarcSource {

  private val CRLF = "\r\n"
  private val Epoch = "1970-01-01T00:00:00Z"

  /** Longest header block the strict walker accepts before declaring the
    * frame corrupt (real WARC headers are a few hundred bytes). */
  private val MaxHeaderBytes = 64 * 1024

  private final class ShardPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int =
      key.asInstanceOf[(Long, Long)]._1.toInt
  }

  /** Deterministic urn:uuid from a seed string (md5 bytes in 8-4-4-4-12
    * layout): record IDs must be unique but the export must be
    * reproducible, so they derive from content identity, not randomness. */
  def urnUuid(seed: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"<urn:uuid:${h.substring(0, 8)}-${h.substring(8, 12)}-" +
      s"${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}>"
  }

  private def record(headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val head = (Seq("WARC/1.0") ++
      headers.map { case (k, v) => s"$k: $v" } ++
      Seq(s"Content-Length: ${payload.length}", "", ""))
      .mkString(CRLF).getBytes(StandardCharsets.US_ASCII)
    val out = new ByteArrayOutputStream(head.length + payload.length + 4)
    out.write(head)
    out.write(payload)
    out.write(s"$CRLF$CRLF".getBytes(StandardCharsets.US_ASCII))
    out.toByteArray
  }

  /** One member per record (CommonCrawl layout). JDK gzip headers are
    * all-zero (mtime 0, OS 0), so this is deterministic. */
  private def gzMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  /** One zstd frame per record (the .warc.zst twin of [[gzMember]]);
    * fixed level, no checksum — deterministic for fixed input. */
  private def zstMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val zs = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
    zs.write(bytes)
    zs.close()
    bos.toByteArray
  }

  private def httpResponse(body: Array[Byte], contentType: String,
      status: String = "200 OK", location: String = "",
      extraHeaders: Seq[String] = Nil,
      contentLength: Boolean = true): Array[Byte] = {
    val loc = if (location.isEmpty) "" else s"Location: $location$CRLF"
    val extras = extraHeaders.map(_ + CRLF).mkString
    val cl = if (contentLength) s"Content-Length: ${body.length}$CRLF" else ""
    val head = (s"HTTP/1.1 $status${CRLF}Content-Type: $contentType$CRLF" +
      loc + extras + cl + CRLF).getBytes(StandardCharsets.US_ASCII)
    val out = new ByteArrayOutputStream(head.length + body.length)
    out.write(head)
    out.write(body)
    out.toByteArray
  }

  /** zlib (RFC 9110 `deflate` = zlib-wrapped) compression twin of
    * [[gzMember]]; JDK Deflater defaults are deterministic. */
  private def deflateBytes(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val d = new java.util.zip.DeflaterOutputStream(bos)
    d.write(bytes)
    d.close()
    bos.toByteArray
  }

  /** HTTP/1.1 chunked transfer framing with fixed 256-byte chunks —
    * deterministic, so re-exports stay byte-identical. */
  private val ChunkSize = 256
  private def chunkFrame(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length + bytes.length / 32 + 16)
    var i = 0
    while (i < bytes.length) {
      val n = math.min(ChunkSize, bytes.length - i)
      bos.write(s"${n.toHexString}$CRLF".getBytes(StandardCharsets.US_ASCII))
      bos.write(bytes, i, n)
      bos.write(CRLF.getBytes(StandardCharsets.US_ASCII))
      i += n
    }
    bos.write(s"0$CRLF$CRLF".getBytes(StandardCharsets.US_ASCII))
    bos.toByteArray
  }

  /** Applies a per-row HTTP encoding spec to a body: tokens from
    * {gzip, deflate, chunked} joined by ','. Content coding (gzip XOR
    * deflate) compresses first, chunked framing wraps LAST — the wire
    * order RFC 9112 defines (Transfer-Encoding is applied to the
    * already-content-coded representation). Returns (wire bytes, HTTP
    * headers to emit, suppress-Content-Length) — a chunked message
    * carries no Content-Length (RFC 9112 §6.1). */
  private def applyHttpEncoding(body: Array[Byte],
      enc: String): (Array[Byte], Seq[String], Boolean) = {
    val tokens = enc.toLowerCase.split(",").map(_.trim).filter(_.nonEmpty)
    val bad = tokens.filterNot(Set("gzip", "deflate", "chunked"))
    require(bad.isEmpty,
      s"unknown HTTP encoding token(s) ${bad.mkString(",")} in '$enc'")
    val ce = tokens.filter(t => t == "gzip" || t == "deflate")
    require(ce.length <= 1, s"at most one content coding per row, got '$enc'")
    val chunked = tokens.contains("chunked")
    val coded = ce.headOption match {
      case Some("gzip") => gzMember(body)
      case Some("deflate") => deflateBytes(body)
      case _ => body
    }
    val wire = if (chunked) chunkFrame(coded) else coded
    val headers =
      ce.headOption.map(c => s"Content-Encoding: $c").toSeq ++
        (if (chunked) Seq("Transfer-Encoding: chunked") else Nil)
    (wire, headers, chunked)
  }

  private def extFor(codec: String): String = codec match {
    case "" | "none" => ".warc"
    case "gzip" => ".warc.gz"
    case "zstd" => ".warc.zst"
    case c => throw new IllegalArgumentException(
      s"unknown WARC codec '$c' (none|gzip|zstd)")
  }

  /** Exports `docs` as `nShards` WARC files at
    * `path/shard-NNNNN.warc[.gz|.zst]`: per shard one warcinfo record,
    * then one response record per document in deterministic slot order,
    * with WARC-Target-URI `https://example.org/doc/<id>` and the
    * `bodyCol` cell as the HTTP body — a string column is UTF-8-encoded,
    * a binary column ships byte-exact (the path for non-UTF-8 charset
    * fixtures and real fetched bodies). The HTTP Content-Type is
    * `bodyContentType`, or per-row from `contentTypeCol` when set.
    * Any `shard-*.warc*` files already under `path` are deleted first —
    * exporting fewer shards (or a different codec) over a previous
    * export must not leave stale members for the glob reader to pick up.
    *
    * Returns the response-record count read back from what landed; with
    * `verify = false` the doubled read I/O is skipped (the 100-TB
    * production setting — re-scanning everything just written is a
    * test-scale gate) and -1 is returned.
    *
    * Task retries are safe (one shard per task, create-overwrite); for
    * an atomic multi-shard publish stage + rename at the caller (the
    * [[ManifestCommit]] discipline). */
  def exportWarc(docs: DataFrame, path: String, nShards: Int, salt: String,
      idCol: String = "doc_id", bodyCol: String = "text",
      bodyContentType: String = "text/html; charset=utf-8",
      gzip: Boolean = false, codec: String = "",
      contentTypeCol: String = "", verify: Boolean = true,
      statusCol: String = "", locationCol: String = "",
      encodingCol: String = ""): Long = {
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    val codecName =
      if (codec.nonEmpty) codec else if (gzip) "gzip" else "none"
    val spark = docs.sparkSession
    val nNull = docs.where(col(bodyCol).isNull).limit(1).count()
    require(nNull == 0L,
      s"exportWarc: column '$bodyCol' contains null cells; clean them first")
    val slots = graft.operators.TrainingPrep
      .shardExport(docs.select(idCol), nShards, salt, idCol)
    val bodyBytes =
      if (docs.schema(bodyCol).dataType == BinaryType) col(bodyCol)
      else encode(col(bodyCol), "UTF-8")
    val ctypeCol =
      if (contentTypeCol.nonEmpty) col(contentTypeCol).cast("string")
      else lit(bodyContentType)
    // per-row HTTP status ("301 Moved Permanently") and Location header
    // — the shapes a real fetcher lands for redirects; defaults keep
    // every existing export byte-identical
    val statCol =
      if (statusCol.nonEmpty) col(statusCol).cast("string")
      else lit("200 OK")
    val locCol =
      if (locationCol.nonEmpty)
        coalesce(col(locationCol).cast("string"), lit(""))
      else lit("")
    // per-row HTTP body encoding spec: "", "gzip", "deflate", "chunked",
    // or "gzip,chunked" — real fetchers land raw wire bytes, compressed
    // and/or chunk-framed, and the reader must undo both
    val encCol =
      if (encodingCol.nonEmpty)
        coalesce(col(encodingCol).cast("string"), lit(""))
      else lit("")
    val payload = docs.join(slots, Seq(idCol)).select(
      col("shard"), col("pos"),
      col(idCol).cast("long").as("id"), bodyBytes.as("body"),
      ctypeCol.as("ctype"), statCol.as("stat"), locCol.as("loc"),
      encCol.as("enc"))
    val sc = new TarShards.SerializableConf(spark.sessionState.newHadoopConf())
    val dir = path
    val ext = extFor(codecName)
    val root = new Path(dir)
    val fs0 = root.getFileSystem(sc.conf)
    // stale-member sweep: a prior export with more shards or another
    // codec would otherwise survive the overwrite and corrupt read-back
    if (fs0.exists(root))
      Option(fs0.globStatus(new Path(root, "shard-*.warc*")))
        .getOrElse(Array.empty)
        .foreach(s => fs0.delete(s.getPath, false))
    payload.rdd
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getAs[Array[Byte]](3), r.getString(4),
          r.getString(5), r.getString(6), r.getString(7))))
      .repartitionAndSortWithinPartitions(new ShardPartitioner(nShards))
      .foreachPartition { it =>
        if (it.hasNext) {
          val first = it.next()
          val shard = first._1._1
          val p = new Path(dir, f"shard-$shard%05d$ext")
          val fs = p.getFileSystem(sc.conf)
          val out = new DataOutputStream(fs.create(p, true))
          try {
            def emit(rec: Array[Byte]): Unit = out.write(codecName match {
              case "gzip" => gzMember(rec)
              case "zstd" => zstMember(rec)
              case _ => rec
            })
            val infoBody = (s"software: graft-warc/1.0${CRLF}format: " +
              s"WARC File Format 1.0$CRLF").getBytes(StandardCharsets.US_ASCII)
            emit(record(Seq(
              "WARC-Type" -> "warcinfo",
              "WARC-Record-ID" -> urnUuid(s"$salt:warcinfo:$shard"),
              "WARC-Date" -> Epoch,
              "WARC-Filename" -> f"shard-$shard%05d$ext",
              "Content-Type" -> "application/warc-fields"), infoBody))
            (Iterator(first) ++ it).foreach {
              case (_, (id, body, ct, st, lo, en)) =>
              val (wire, extraHdrs, chunked) = applyHttpEncoding(body, en)
              val http = httpResponse(wire, ct, st, lo,
                extraHeaders = extraHdrs, contentLength = !chunked)
              emit(record(Seq(
                "WARC-Type" -> "response",
                "WARC-Record-ID" -> urnUuid(s"$salt:response:$id"),
                "WARC-Date" -> Epoch,
                "WARC-Target-URI" -> s"https://example.org/doc/$id",
                "Content-Type" -> "application/http; msgtype=response"),
                http))
            }
          } finally out.close()
        }
      }
    if (!verify) -1L
    else if (!fs0.exists(root) ||
        Option(fs0.globStatus(new Path(root, s"shard-*$ext"))).forall(_.isEmpty)) 0L
    else records(spark, dir).filter(_.warcType == "response").count()
  }

  /** Derived once per JVM: a product encoder built through runtime
    * reflection costs tens of ms per derivation. */
  private lazy val RecordEncoder: Encoder[WarcRecord] = Encoders.product[WarcRecord]

  /** All records of all `shard-*.warc[.gz|.zst]` files under `path`, in
    * record order with ordinals, every record strictly framed. Throws
    * when no shard matches. */
  def records(spark: SparkSession, path: String): Dataset[WarcRecord] =
    spark.createDataset(recordRdd(spark, path))(RecordEncoder)

  /** One partition per shard, in path order. The driver lists the shards;
    * each task opens its own through the session's Hadoop conf and the
    * walker consumes it record by record, so task memory is O(one
    * record) TOTAL: not even the compressed shard bytes are buffered. At
    * the customary ~1 GB .warc.gz shard that is the difference between
    * ~5 GB/task (whole-file + inflate) and a few hundred KB. */
  private def recordRdd(spark: SparkSession, path: String): RDD[WarcRecord] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val pattern = new Path(path, "shard-*.warc*")
    val shards = Option(pattern.getFileSystem(hadoopConf).globStatus(pattern))
      .getOrElse(Array.empty).map(_.getPath.toString).sorted
    if (shards.isEmpty) throw new java.io.FileNotFoundException(
      s"no WARC shard matches $pattern")
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableWritable(hadoopConf))
    sc.parallelize(shards.toSeq, shards.length).flatMap { file =>
      val p = new Path(file)
      val in = wrap(file, p.getFileSystem(conf.value.value).open(p))
      TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
      parse(file, in)
    }
  }

  /** Streaming twin of [[records]]: a `binaryFile` file-source stream
    * over a LANDING directory — each WARC file ingests exactly once per
    * checkpoint (the source tracks seen paths), so a scheduled
    * `Trigger.AvailableNow` run picks up only newly-landed shards. Land
    * under unique names: the tracker keys by path. */
  def recordsStream(spark: SparkSession, landingDir: String): Dataset[WarcRecord] = {
    val binarySchema = StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
    spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.warc*")
      .load(landingDir)
      .select("path", "content")
      .flatMap { r =>
        val file = r.getString(0)
        parse(file, open(file, r.getAs[Array[Byte]](1)))
      }(RecordEncoder)
  }

  /** Splits an `application/http` payload at the first CRLF CRLF into
    * (status line, body bytes); strict on the HTTP/ prefix. */
  def httpParts(payload: Array[Byte]): (String, Array[Byte]) = {
    val (status, _, body) = httpPartsWithHeaders(payload)
    (status, body)
  }

  /** [[httpParts]] plus the parsed header map (lowercased names, values
    * trimmed) — what charset resolution reads. */
  def httpPartsWithHeaders(
      payload: Array[Byte]): (String, Map[String, String], Array[Byte]) = {
    val sep = indexOfCrlfCrlf(payload, 0)
    require(sep >= 0, "http payload has no header/body separator")
    val head = new String(payload, 0, sep, StandardCharsets.US_ASCII)
    require(head.startsWith("HTTP/"),
      s"payload is not an HTTP response: ${head.take(20)}")
    val lines = head.split("\r\n")
    val hdrs = lines.drop(1).flatMap { l =>
      val c = l.indexOf(':')
      if (c < 0) None
      else Some(l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim)
    }.toMap
    (lines(0), hdrs,
      java.util.Arrays.copyOfRange(payload, sep + 4, payload.length))
  }

  /** Un-frames an HTTP/1.1 chunked body: hex-size line (chunk
    * extensions after ';' ignored), chunk bytes, CRLF, repeated to the
    * 0-size terminator; trailer fields after the terminator are
    * ignored. Strict on framing — a corrupt length or missing CRLF
    * throws rather than resyncing silently (the WARC walker
    * discipline). */
  private[graft] def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length)
    var i = 0
    def readLine(): String = {
      val start = i
      while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
      if (i + 1 >= b.length) throw new IOException(
        s"chunked body: unterminated line at offset $start")
      val s = new String(b, start, i - start, StandardCharsets.US_ASCII)
      i += 2
      s
    }
    var size = -1L
    while (size != 0L) {
      val line = readLine()
      val hex = line.split(";", 2)(0).trim
      // long math + explicit sign/magnitude checks: a corrupt size like
      // '7fffffff' must fail as a framing error, never overflow the
      // bounds guard into a raw IndexOutOfBounds; parseLong's '-'
      // acceptance is gated the same way
      size =
        try java.lang.Long.parseLong(hex, 16)
        catch { case _: NumberFormatException => throw new IOException(
          s"chunked body: bad chunk size line '${line.take(20)}'") }
      if (size < 0L || size > b.length.toLong) throw new IOException(
        s"chunked body: chunk size $size out of range for a " +
          s"${b.length}-byte message")
      if (size > 0L) {
        val n = size.toInt
        if (i.toLong + n + 2L > b.length.toLong) throw new IOException(
          s"chunked body: chunk of $n bytes overruns the message")
        out.write(b, i, n)
        i += n
        if (!(b(i) == '\r' && b(i + 1) == '\n')) throw new IOException(
          "chunked body: missing CRLF after chunk data")
        i += 2
      }
    }
    out.toByteArray
  }

  private def readAll(in: InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream(8 * 1024)
    val buf = new Array[Byte](8 * 1024)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  private def gunzipBytes(b: Array[Byte]): Array[Byte] =
    readAll(new GZIPInputStream(new ByteArrayInputStream(b)))

  /** RFC 9110 deflate is zlib-wrapped, but raw-deflate servers are a
    * known real-world slip: retry headerless on a zlib error. */
  private def inflateBytes(b: Array[Byte]): Array[Byte] =
    try readAll(new java.util.zip.InflaterInputStream(
      new ByteArrayInputStream(b)))
    catch { case _: java.util.zip.ZipException | _: EOFException =>
      readAll(new java.util.zip.InflaterInputStream(
        new ByteArrayInputStream(b),
        new java.util.zip.Inflater(true)))
    }

  /** Undoes the wire encodings of an HTTP body. Transfer-Encoding is a
    * LIST applied last-coding-outermost (RFC 9112: `TE: gzip, chunked`
    * means chunked wraps the gzipped representation), so decode walks
    * the tokens in reverse — chunked de-frames, gzip/x-gzip/deflate
    * decompress; an unrecognized TE coding stops the walk (the layers
    * beneath it are unreadable) and the raw header value in the
    * `transfer_encoding` audit column records what was left undone.
    * Then Content-Encoding `gzip`/`x-gzip`/`deflate` decompresses the
    * representation itself. Real CommonCrawl WARC payloads preserve
    * the raw HTTP bytes, so a reader that skips this hands compressed
    * or chunk-framed garbage to charset resolution — the same
    * silent-poison class the charset step closed in r19.
    *
    * Returns (decoded bytes, content-coding audit value, was_chunked).
    * An unrecognized Content-Encoding (e.g. `br` with no classpath
    * codec) passes bytes through untouched — the audit columns carry
    * the names so a corpus can quantify what it could not decode. */
  private[graft] def decodeHttpBody(hdrs: Map[String, String],
      raw: Array[Byte]): (Array[Byte], String, Boolean) = {
    val teTokens = hdrs.getOrElse("transfer-encoding", "").toLowerCase
      .split(",").map(_.trim).filter(_.nonEmpty)
    var cur = raw
    var chunked = false
    var blocked = false
    teTokens.reverse.foreach { t =>
      if (!blocked) t match {
        case "chunked" => cur = dechunk(cur); chunked = true
        case "gzip" | "x-gzip" => cur = gunzipBytes(cur)
        case "deflate" => cur = inflateBytes(cur)
        case "identity" => ()
        case _ => blocked = true
      }
    }
    val ce = hdrs.getOrElse("content-encoding", "").trim.toLowerCase
    val decoded =
      if (blocked) cur
      else ce match {
        case "" | "identity" => cur
        case "gzip" | "x-gzip" => gunzipBytes(cur)
        case "deflate" => inflateBytes(cur)
        case _ => cur
      }
    (decoded, ce, chunked)
  }

  private val HeaderCharsetRe =
    """(?i)charset\s*=\s*"?([A-Za-z0-9_.:+-]+)"?""".r
  private val MetaCharsetRe =
    """(?is)<meta[^>]*charset\s*=\s*["']?([A-Za-z0-9_.:+-]+)""".r

  /** Charset resolution for an HTTP response body, the WHATWG/HTTP
    * precedence order a real crawl needs (real CommonCrawl is ~5-10%
    * non-UTF-8; decoding those as UTF-8 mojibakes every downstream text
    * operator):
    *   1. a byte-order mark — UTF-8 (EF BB BF), UTF-16LE (FF FE),
    *      UTF-16BE (FE FF) — which the WHATWG decode algorithm ranks
    *      above even the HTTP header (a UTF-16 page defeats the
    *      ASCII-compatible meta sniff: its tag bytes are NUL-interleaved,
    *      so without the BOM it would mojibake through the fallback);
    *      the BOM bytes are stripped from the decoded text;
    *   2. the `charset=` parameter of the Content-Type HTTP header;
    *   3. a `<meta charset=...>` / `<meta http-equiv="Content-Type"
    *      content="...charset=...">` sniffed in the first `sniffLimit`
    *      body bytes (read as ISO-8859-1 — charset names are ASCII, and
    *      every ASCII-compatible encoding exposes the tag bytes);
    *   4. UTF-8.
    * Unknown/unsupported names fall through to the next step. Returns
    * (canonical charset name used, decoded text). */
  def resolveCharset(contentType: Option[String], body: Array[Byte],
      sniffLimit: Int = 1024): (String, String) = {
    def at(i: Int, v: Int): Boolean =
      body.length > i && body(i) == v.toByte
    if (at(0, 0xEF) && at(1, 0xBB) && at(2, 0xBF))
      return ("UTF-8",
        new String(body, 3, body.length - 3, StandardCharsets.UTF_8))
    if (at(0, 0xFF) && at(1, 0xFE))
      return ("UTF-16LE",
        new String(body, 2, body.length - 2, StandardCharsets.UTF_16LE))
    if (at(0, 0xFE) && at(1, 0xFF))
      return ("UTF-16BE",
        new String(body, 2, body.length - 2, StandardCharsets.UTF_16BE))
    def lookup(name: String): Option[Charset] =
      try Some(Charset.forName(name)) catch { case _: Exception => None }
    val fromHeader = contentType
      .flatMap(ct => HeaderCharsetRe.findFirstMatchIn(ct).map(_.group(1)))
      .flatMap(lookup)
    val cs = fromHeader.orElse {
      val headBytes = java.util.Arrays.copyOfRange(
        body, 0, math.min(sniffLimit, body.length))
      val head = new String(headBytes, StandardCharsets.ISO_8859_1)
      MetaCharsetRe.findFirstMatchIn(head).map(_.group(1)).flatMap(lookup)
    }.getOrElse(StandardCharsets.UTF_8)
    (cs.name(), new String(body, cs))
  }

  /** Response records as (recordIdx, targetUri, decoded body) rows — the
    * convenience frame a crawl pipeline starts from. The raw HTTP bytes
    * first undo their wire encodings ([[decodeHttpBody]]: chunked
    * de-framing, then gzip/deflate decompression — CommonCrawl payloads
    * preserve what the server sent), then decode charset-aware
    * ([[resolveCharset]]: BOM → Content-Type header param →
    * `<meta charset>` sniff → UTF-8). The resolved charset, a
    * was_transcoded flag (anything that did not decode as plain UTF-8),
    * the content-coding name, a was_chunked flag, and the raw
    * Transfer-Encoding header are carried alongside so a corpus can
    * audit its encoding mix. */
  def responseBodies(spark: SparkSession, path: String): DataFrame = {
    val rows = recordRdd(spark, path).filter(_.warcType == "response").map { r =>
      val (status, hdrs, rawBody) = httpPartsWithHeaders(r.payload)
      val (body, contentEnc, chunked) = decodeHttpBody(hdrs, rawBody)
      val (cs, text) = resolveCharset(hdrs.get("content-type"), body)
      val code = status.split(" ", 3) match {
        case parts if parts.length >= 2 && parts(1).forall(_.isDigit) =>
          parts(1).toInt
        case _ => -1
      }
      Row(r.file, r.recordIdx, r.targetUri, status, code,
        hdrs.getOrElse("location", ""), text, cs,
        cs != StandardCharsets.UTF_8.name(), contentEnc, chunked,
        hdrs.getOrElse("transfer-encoding", "").trim.toLowerCase)
    }
    spark.createDataFrame(rows, ResponseSchema)
  }

  /** [[responseBodies]]' columns; the primitive ones are never null. */
  private val ResponseSchema: StructType = StructType(Seq(
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

  /** Decompression wrapper for one shard stream: gzip and zstd both
    * read their concatenated per-record members transparently, member
    * by member — decompressed bytes never buffer beyond the codec's
    * window. */
  private def wrap(file: String, raw: InputStream): InputStream =
    // no consumer-side BufferedInputStream: the walker buffers
    // internally (bulk 64 KB reads), so the codec streams only ever see
    // large reads
    if (file.endsWith(".gz")) new GZIPInputStream(raw, 64 * 1024)
    else if (file.endsWith(".zst"))
      new com.github.luben.zstd.ZstdInputStream(raw)
    else raw

  /** [[wrap]] over in-memory content (the streaming file-source path,
    * which delivers whole-file bytes). */
  private def open(file: String, bytes: Array[Byte]): InputStream =
    wrap(file, new ByteArrayInputStream(bytes))

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** Strict ISO 28500 walker over a STREAM: version line, header block,
    * Content-Length framing, CRLF CRLF boundary. Throws with
    * file+offset (offsets in the decompressed stream) on violations.
    * Memory is O(one record): the header block grows a small buffer to
    * the CRLF CRLF, the payload allocates exactly Content-Length bytes,
    * nothing upstream is retained.
    *
    * Buffering is INTERNAL (a plain array + cursor): header bytes are
    * consumed one at a time, and doing that through
    * BufferedInputStream/PushbackInputStream costs two synchronized
    * virtual calls per byte — measured ~2× on the whole read path at
    * 50k records. Payload reads drain the buffer then go straight to
    * the source in bulk. */
  private[graft] def parse(file: String,
      in0: InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private val buf = new Array[Byte](64 * 1024)
      private var pos = 0
      private var lim = 0
      private var off = 0L
      private var idx = 0
      // latched at source EOF so hasNext is idempotent: Iterator.flatMap
      // re-evaluates an exhausted child's hasNext, and a second fill()
      // against the already-closed codec stream would throw instead of
      // returning false
      private var done = false

      /** Ensures at least one buffered byte; false at source EOF. */
      private def fill(): Boolean = !done && (pos < lim || {
        lim = in0.read(buf)
        pos = 0
        lim > 0
      })

      def hasNext: Boolean = fill() || {
        if (!done) { done = true; in0.close() }
        false
      }

      private def readFully(dst: Array[Byte]): Unit = {
        var got = 0
        val fromBuf = math.min(lim - pos, dst.length)
        if (fromBuf > 0) {
          System.arraycopy(buf, pos, dst, 0, fromBuf)
          pos += fromBuf
          got = fromBuf
        }
        while (got < dst.length) {
          val n = in0.read(dst, got, dst.length - got)
          if (n < 0) throw new EOFException(
            s"$file: record at offset $off overruns the file " +
              s"(wanted ${dst.length} bytes, got $got)")
          got += n
        }
      }

      /** Bytes up to AND consuming the next CRLF CRLF (exclusive). */
      private def readHeaderBlock(): Array[Byte] = {
        val out = new ByteArrayOutputStream(256)
        var tail = 0 // how much of \r\n\r\n is matched so far
        while (tail < 4) {
          if (!fill()) throw new EOFException(
            s"$file: unterminated WARC header block at offset $off")
          if (out.size() > MaxHeaderBytes) throw new IOException(
            s"$file: WARC header block at offset $off exceeds " +
              s"$MaxHeaderBytes bytes — corrupt framing")
          val b = buf(pos) & 0xFF
          pos += 1
          out.write(b)
          val expect = if (tail % 2 == 0) '\r' else '\n'
          tail = if (b == expect) tail + 1 else if (b == '\r') 1 else 0
        }
        val all = out.toByteArray
        java.util.Arrays.copyOfRange(all, 0, all.length - 4)
      }

      def next(): WarcRecord = {
        val headBytes = readHeaderBlock()
        val head = new String(headBytes, StandardCharsets.US_ASCII)
        val lines = head.split("\r\n")
        if (!lines(0).startsWith("WARC/")) throw new IOException(
          s"$file: expected WARC version line at offset $off, got '${lines(0).take(20)}'")
        val hdrs = lines.drop(1).map { l =>
          val c = l.indexOf(':')
          if (c < 0) throw new IOException(
            s"$file: malformed WARC header '$l' at offset $off")
          l.substring(0, c).toLowerCase -> l.substring(c + 1).trim
        }.toMap
        val len = hdrs.getOrElse("content-length", throw new IOException(
          s"$file: record at offset $off has no Content-Length")).toLong
        if (len > Int.MaxValue - 8) throw new IOException(
          s"$file: record at offset $off claims $len payload bytes")
        val payload = new Array[Byte](len.toInt)
        readFully(payload)
        val bnd = new Array[Byte](4)
        try readFully(bnd) catch {
          case _: EOFException => throw new IOException(
            s"$file: record at offset $off overruns the file " +
              s"(missing CRLF CRLF boundary after $len payload bytes)")
        }
        if (!(bnd(0) == '\r' && bnd(1) == '\n' && bnd(2) == '\r' && bnd(3) == '\n'))
          throw new IOException(
            s"$file: record at offset $off missing CRLF CRLF boundary")
        val rec = WarcRecord(file, idx,
          hdrs.getOrElse("warc-type", ""),
          hdrs.getOrElse("warc-record-id", ""),
          hdrs.getOrElse("warc-target-uri", ""),
          hdrs.getOrElse("warc-date", ""),
          hdrs.getOrElse("content-type", ""), len, payload)
        off += headBytes.length + 4 + len + 4
        idx += 1
        rec
      }
    }
}
