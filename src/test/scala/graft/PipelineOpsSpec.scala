package graft

import graft.operators.{Dedup, IterUtils, Multimodal, Similarity, TextAnalysis}
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Verification for the sketch/stream/multimodal operators that have no
  * DuckDB oracle: consistency against exact variants, planted-duplicate
  * recall, and deterministic stubs. */
class PipelineOpsSpec extends GraftSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"$sf001/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet").cache()

  test("minhash LSH finds a high-recall subset of exact shingle-Jaccard pairs") {
    val exact = Dedup.shingleJaccardPairs(docs, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.minHashLshPairs(docs, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact), "LSH pairs must be exact-verified")
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(approx.size >= (exact.size * 0.8).toInt, s"recall ${approx.size}/${exact.size}")
  }

  test("planted near-dups: identical texts get identical minhash/simhash") {
    val twin = docs.limit(5).select(col("doc_id") + 100000, col("text"))
      .toDF("doc_id", "text")
    val both = docs.limit(5).select("doc_id", "text").union(twin)
    val pairs = Dedup.minHashLshPairs(both, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 5 && pairs.forall(_._3 == 1.0))
    val sh = Dedup.simHashPairs(both, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet.subsetOf(sh))
  }

  test("simhash hamming bound holds on reported pairs") {
    val pairs = Dedup.simHashPairs(docs, 3).collect()
    assert(pairs.forall(_.getLong(2) <= 3))
  }

  test("LSH ANN recall vs brute-force top-k") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.lshTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ann.intersect(brute).size >= 5, s"ANN recall too low: ${ann.intersect(brute).size}/10")
  }

  test("IVF ANN: probed cells recover most of the brute-force top-k") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, 0L, 10, nCells = 8, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    assert(ivf.intersect(brute).size >= 5, s"IVF recall ${ivf.intersect(brute).size}/10")
  }

  test("IVF ANN: empty corpus returns an empty result, not an exception") {
    val empty = emb.where(lit(false))
    val res = Similarity.ivfTopK(empty, 0L, 10)
    assert(res.columns.toSeq == Seq("vec_id", "cos"))
    assert(res.count() == 0)
  }

  test("int8 quantization: codes in [-127,127], max code saturates, error <= scale/2") {
    val rows = Similarity.quantizeInt8(emb).join(emb, "vec_id")
      .select(col("vec_id"), col("q"), col("qscale"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Long], Double, Seq[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, q, sc, v) =>
      assert(q.forall(x => x >= -127 && x <= 127))
      if (sc > 0) {
        assert(q.map(math.abs).max == 127)
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(x - qi * sc) <= sc / 2 + 1e-9)
        }
      }
    }
  }

  test("int8 two-stage ANN recovers the brute-force top-k") {
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val viaInt8 = Similarity.int8TopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(viaInt8 == exact)
  }

  test("chunking edges: stride beyond length, single-token and empty docs") {
    import graft.operators.TrainingPrep
    val df = Seq((1L, "a"), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val got = TrainingPrep.chunk(df, 2, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 0L, "a"), (2L, 0L, "a b"), (3L, 0L, "")))
  }

  test("pack auto-sizes shards to the cluster; explicit count still honored") {
    import graft.operators.TrainingPrep
    val df = (0L until 64L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val auto = TrainingPrep.pack(df, 4)
      .select("shard").distinct().count()
    assert(auto == spark.sparkContext.defaultParallelism,
      s"auto shard count $auto should track defaultParallelism")
    val pinned = TrainingPrep.pack(df, 4, shards = 8)
      .select("shard").distinct().count()
    assert(pinned == 8)
  }

  test("boilerplate removal: hot segments dropped, all-boilerplate docs vanish") {
    import graft.operators.TrainingPrep
    val df = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "u v x y"))
      .toDF("doc_id", "text")
    val got = TrainingPrep.removeBoilerplate(df, 2, 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(4L -> "u v")) // "x y" appears in 4 docs > maxDocs=2
  }

  test("cosine is 1.0 for identical vectors, symmetric bound") {
    val self = emb.limit(3)
      .select(round(Similarity.cosine(col("embedding"), col("embedding")), 9).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(_ == 1.0))
  }

  test("language id is deterministic and covers the profile languages") {
    val preds = docs.select(TextAnalysis.langId(col("text")).as("l"))
      .groupBy("l").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(preds.keySet.subsetOf(Set("en", "de", "es", "fr", "und")))
    assert(preds.values.sum == docs.count())
  }

  test("multimodal: stubbed decode is deterministic, partition-independent") {
    val assets = Multimodal.assets(spark, docs.limit(50))
    val f1 = Multimodal.extractFeatures(spark, assets, partitions = 1)
      .collect().map(f => f.doc_id -> f.features.toSeq).toMap
    val f8 = Multimodal.extractFeatures(spark, assets, partitions = 8)
      .collect().map(f => f.doc_id -> f.features.toSeq).toMap
    assert(f1 == f8)
    assert(f1.values.forall(_.length == Multimodal.FakeDecoder.Dim))
    val bytes = Multimodal.extractFeatures(spark, assets)
      .select("doc_id", "n_bytes").as[(Long, Long)].collect().toMap
    val expected = docs.limit(50)
      .select(col("doc_id"), octet_length(encode(col("text"), "UTF-8")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(bytes == expected)
  }

  test("streaming: windowed counts with watermark match the batch aggregation") {
    val stream = EventsStream.readEvents(spark, sf0001)
    val got = EventsStream.runToMemory(spark,
      EventsStream.windowedCounts(stream, "1 hour"), "win_counts",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = graft.queries.Tables.events(spark, sf0001)
      .groupBy(expr("ts div 3600000000000").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // append mode with watermark emits only closed windows; every emitted
    // window must match its batch twin, and most windows must have closed
    val gotMap = got.select((unix_timestamp(col("ws")) / 3600).cast("long").as("h"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batchMap = batch.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gotMap.nonEmpty)
    gotMap.foreach { case (k, n) => assert(batchMap(k) == n, s"window $k") }
  }

  test("streaming: dedup within watermark drops exact duplicates") {
    val stream = EventsStream.readEvents(spark, sf0001)
    val out = EventsStream.runToMemory(spark,
      EventsStream.dedupWithinWatermark(stream), "dedup_stream")
    val n = out.count()
    val distinctPairs = graft.queries.Tables.events(spark, sf0001)
      .select("user_id", "props").distinct().count()
    assert(n == distinctPairs)
  }

  test("streaming: trending terms top-k matches the batch rank per closed window") {
    val stream = EventsStream.readEvents(spark, sf0001)
    val got = EventsStream.trendingTerms(spark, stream, "props", "1 hour", k = 3)
    assert(got.nonEmpty, "some windows must have closed")
    // batch twin: same tokenize/window/rank on the static table
    val batch = graft.queries.Tables.events(spark, sf0001)
      .select((col("ts").cast("decimal(25,0)") / 3600000000000L).cast("long").as("h"),
        explode(split(col("props"), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("h", "term").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy(col("n").desc, col("term"))
    val batchTop = batch.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getString(1), r.getLong(2)))
      .toMap
    got.foreach { case (ws, term, n, rank) =>
      val h = ws.getTime / 3600000L
      assert(batchTop((h, rank)) == (term, n),
        s"window $h rank $rank: got ($term,$n), want ${batchTop((h, rank))}")
    }
  }

  test("streaming: trending terms table sink matches the batch ranks and replay converges") {
    val root = java.nio.file.Files.createTempDirectory("graft-trend").toString
    val target = s"$root/trending"
    def run(ckpt: String): Unit = EventsStream.trendingTermsToTable(spark,
      EventsStream.readEvents(spark, sf0001), "props", "1 hour", k = 3,
      target, s"$root/$ckpt")
    run("ckpt1")
    def snapshot() = graft.sources.ManifestCommit.readManifested(spark, target)
      .select("ws", "rank", "term", "n")
      .collect().map(r => (r.getTimestamp(0).getTime / 3600000L, r.getInt(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    val got = snapshot()
    assert(got.nonEmpty, "some windows must have closed")
    // the table must hold exactly the batch twin's ranks per closed window
    val batch = graft.queries.Tables.events(spark, sf0001)
      .select((col("ts").cast("decimal(25,0)") / 3600000000000L).cast("long").as("h"),
        explode(split(col("props"), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("h", "term").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy(col("n").desc, col("term"))
    val batchTop = batch.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getString(1), r.getLong(2)))
      .toMap
    got.foreach { case (k, v) => assert(batchTop(k) == v, s"window/rank $k") }
    // full replay with a FRESH checkpoint re-merges every key: converges
    run("ckpt2")
    assert(snapshot() == got, "replayed upsert must converge to the same table")
  }

  test("duplicate-span removal keeps the first occurrence, merges overlaps") {
    val d = Seq(
      (1L, "a b c d e f g h"),          // keeper of [a..e] (lowest doc,pos)
      (2L, "x a b c d e y z"),          // dup of [a..e] at pos 1 -> stripped
      (3L, "p q a b c d e f g h i j")   // dup [a..e]@2 and [d..h]@5 overlap -> one merged cut 2..9
    ).toDF("doc_id", "text")
    val got = graft.operators.TrainingPrep.removeDuplicateSpans(d, 5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got(0) == ((1L, "a b c d e f g h", 0L)), s"keeper intact: ${got(0)}")
    assert(got(1) == ((2L, "x y z", 5L)), s"dup stripped: ${got(1)}")
    // doc 3: grams a..e (pos 2) and d..h (pos 5, dup of doc1 pos 3) overlap
    // -> merged island [2,9] removed, leaving p q i j
    assert(got(2) == ((3L, "p q i j", 8L)), s"overlap merged: ${got(2)}")
  }

  test("pmi pairs: planted collocation ranks above independent terms") {
    val base = (1 to 40).map(i => (i.toLong,
      if (i <= 20) s"alpha beta noise$i" else s"gamma delta$i noise$i"))
    val got = graft.operators.TrainingPrep
      .pmiPairs(base.toDF("doc_id", "text"), 40, 5L, 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // (alpha,beta) co-occur in all 20 of their docs: n=20, na=nb=20, N=40
    // -> pmi = ln(20*40/400) = ln 2
    val ab = got.find(p => p._1 == "alpha" && p._2 == "beta").get
    assert(ab._3 == 20L && math.abs(ab._4 - math.log(2.0)) < 1e-3, s"$ab")
    assert(got.head._1 == "alpha" && got.head._2 == "beta", "top pair by pmi")
  }

  test("temperature mixture caps rates at 1.0 and reports exact picks") {
    val d = (1 to 100).map(i => (i.toLong,
      if (i <= 90) "big" else "small", "t " * 9 + "t")).toDF("doc_id", "source", "text")
    val rows = graft.operators.TrainingPrep
      .temperatureMixture(d, budgetTokens = 2000L, salt = "s")
      .orderBy("source").collect()
    val big = rows(0); val small = rows(1)
    assert(big.getString(0) == "big" && big.getLong(2) == 900L)
    // budget 2000 >= corpus 1000 tokens: every rate caps at 1.0, all picked
    assert(big.getDouble(3) == 1.0 && small.getDouble(3) == 1.0)
    assert(big.getLong(4) == 90L && small.getLong(4) == 10L)
    assert(big.getLong(5) == 900L && small.getLong(5) == 100L)
    // alpha<1 upsamples the small domain when the budget binds
    val binding = graft.operators.TrainingPrep
      .temperatureMixture(d, budgetTokens = 500L, salt = "s")
      .orderBy("source").collect()
    assert(binding(1).getDouble(3) > binding(0).getDouble(3),
      "small domain gets the higher rate under sqrt temperature")
  }

  test("funnel: converts inside the window, breaks on late or missing stages") {
    val h = 3600L // toy timestamps
    val ev = Seq(
      // user 1: full conversion inside 2h windows
      (1L, "view", 0L), (1L, "click", h), (1L, "purchase", 2 * h),
      // user 2: click arrives after the window -> stage 1
      (2L, "view", 0L), (2L, "click", 10 * h), (2L, "purchase", 11 * h),
      // user 3: converts off its SECOND view? no — first-touch: earliest
      // view at 0, click at 9h misses the 2h window even though the view
      // at 8h would have caught it
      (3L, "view", 0L), (3L, "view", 8 * h), (3L, "click", 9 * h),
      // user 4: no view at all -> not in the funnel
      (4L, "click", 0L), (4L, "purchase", h)
    ).toDF("user_id", "event_type", "ts")
    val got = graft.operators.EventOps
      .funnelStages(ev, Seq("view", "click", "purchase"), windowNs = 2 * h)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSeq
    assert(got == Seq((1L, 3L), (2L, 1L), (3L, 1L)), s"got $got")
  }

  test("fuzzy match: length band + verify inside blocks, blocking miss documented") {
    val names = Seq((1L, "alpha one"), (2L, "alpha onne"), (3L, "alpha zzzzzzzzz"),
      (4L, "bravo kit"), (5L, "bravo kat"), (6L, "charlie q"), (7L, "charlee q"))
      .toDF("id", "name")
    val got = graft.operators.Dedup.fuzzyMatchPairs(names, "id", "name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // in-block matches found with exact distances
    assert(got == Set((1L, 2L, 1L), (4L, 5L, 1L)), s"got $got")
    // 6/7 differ only in the first (blocking) token -> never compared:
    // the documented recall trade, not a bug
    assert(!got.exists(p => p._1 == 6L || p._2 == 7L))
    // ...and the multi-pass recipe recovers exactly that pair via the
    // last-token key, without inventing anything else
    val multi = graft.operators.Dedup
      .fuzzyMatchPairsMultiPass(names, "id", "name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(multi == got + ((6L, 7L, 1L)), s"multi=$multi")
  }

  test("span corruption: sentinel substitution reconstructs the original") {
    val got = graft.operators.TrainingPrep.spanCorrupt(docs).collect()
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sentinel = "<extra_id_(\\d+)>".r
    var masked = 0L; var total = 0L
    got.foreach { r =>
      val (id, corrupted, targets, n) =
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))
      // parse targets into sentinel -> hidden tokens
      val runs = scala.collection.mutable.Map.empty[Int, List[String]]
      var cur = -1
      targets.split(" ").filter(_.nonEmpty).foreach {
        case sentinel(k) => cur = k.toInt; runs(cur) = Nil
        case tok => runs(cur) = runs(cur) :+ tok
      }
      assert(runs.values.map(_.length).sum == n, s"doc $id target size")
      val rebuilt = corrupted.split(" ", -1).flatMap {
        case sentinel(k) => runs(k.toInt)
        case tok => Seq(tok)
      }.mkString(" ")
      assert(rebuilt == orig(id), s"doc $id does not reconstruct")
      // runs are maximal: a run's sentinel never directly follows another
      corrupted.split(" ").sliding(2).foreach { w =>
        if (w.length == 2)
          assert(!(sentinel.matches(w(0)) && sentinel.matches(w(1))),
            s"doc $id adjacent sentinels — runs not merged")
      }
      masked += n; total += orig(id).split(" ", -1).length
    }
    val rate = masked.toDouble / total
    assert(rate > 0.08 && rate < 0.22, s"corpus span-mask rate $rate")
  }

  test("mlm masking: exact reconstruction, ~15% rate, salt varies the mask") {
    val got = graft.operators.TrainingPrep.mlmMask(docs).collect()
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var maskSum = 0L; var tokSum = 0L
    got.foreach { r =>
      val (id, mtext, labels, n) =
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))
      val mt = mtext.split(" ", -1); val ot = orig(id).split(" ", -1)
      assert(mt.length == ot.length, s"doc $id token count changed")
      val lab = if (labels.isEmpty) Array.empty[String] else labels.split(" ", -1)
      assert(lab.length == n, s"doc $id label count != n_masked")
      var li = 0
      val rebuilt = mt.map { t =>
        if (t == "[MASK]") { val x = lab(li); li += 1; x } else t
      }
      assert(rebuilt.sameElements(ot), s"doc $id does not reconstruct")
      maskSum += n; tokSum += ot.length
    }
    val rate = maskSum.toDouble / tokSum
    assert(rate > 0.10 && rate < 0.20, s"corpus mask rate $rate out of band")
    val epoch2 = graft.operators.TrainingPrep.mlmMask(docs, salt = "epoch2")
      .collect().map(_.getString(1))
    assert(!epoch2.sameElements(got.map(_.getString(1))),
      "a different salt must produce a different masking")
  }

  test("bigram surprisal flags word-salad that unigram scoring misses") {
    val natural = (1 to 10).map(i => (i.toLong, "the cat sat on the mat"))
    val salad = Seq((99L, "mat the on cat the sat")) // same BAG of words
    val df = (natural ++ salad).toDF("doc_id", "text")
    def scores(res: org.apache.spark.sql.DataFrame) =
      res.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bg = scores(graft.operators.TrainingPrep.bigramSurprisal(df))
    val uni = scores(graft.operators.TrainingPrep.unigramSurprisal(df))
    assert(math.abs(uni(99L) - uni(1L)) < 1e-9,
      "unigram model cannot distinguish a permuted doc")
    assert(bg(99L) > bg(1L) + 1.0,
      s"bigram surprisal must flag the salad: ${bg(99L)} vs ${bg(1L)}")
  }

  test("compression ratio: repetitive < prose < random, deterministic, empty=1.0") {
    import graft.expressions.CompressionRatio.compression_ratio
    val rep = Seq.fill(200)("spam eggs").mkString(" ")
    val prose = "The quick brown fox jumps over the lazy dog while seventeen " +
      "sailors debate whether the harbour lights were ever truly green, and " +
      "a passing cartographer sketches the coastline from memory alone. " * 5
    val rnd = new scala.util.Random(42)
    val random = Seq.fill(300)(rnd.alphanumeric.take(6).mkString).mkString(" ")
    val df = Seq((1L, rep), (2L, prose), (3L, random), (4L, ""))
      .toDF("doc_id", "text")
    def run() = df.select(col("doc_id"), compression_ratio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = run()
    assert(got(1L) < got(2L) && got(2L) < got(3L),
      s"ordering must discriminate redundancy: $got")
    assert(got(1L) < 0.1, s"pure repetition compresses to almost nothing: ${got(1L)}")
    assert(got(4L) == 1.0, "empty text pins to 1.0")
    assert(run() == got, "deterministic across runs")
  }

  test("cluster canonicalization keeps the longest doc, ties to min id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster")
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L))
      .toDF("doc_id", "n_chars")
    val got = graft.operators.Dedup.canonicalizeClusters(clusters, docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // cluster 1: docs 2 and 3 tie on n_chars=9 -> min id 2 wins;
    // cluster 10: docs 10/11 tie on 4 -> 10 wins
    assert(got == Seq((1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("triangle counts: K4 gives 3 per node; wedge path without closure gives 0") {
    // K4 (complete on 1..4) has C(4,3)=4 triangles, each node in 3; node
    // 5 hangs off a path (4-5, 5-6) that closes nothing
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (2L, 1L) /* dup reversed */, (3L, 3L) /* loop */)
      .toDF("src", "dst")
    val got = graft.operators.GraphOps.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
  }

  test("bfs hops: path graph distances exact, unreached node absent") {
    // path 1-2-3-4 plus isolated edge 9-10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("src", "dst")
    val got = graft.operators.GraphOps.bfsHops(edges, source = "1", rounds = 5)
    // node col type follows the seed DF (string source) vs long edges —
    // spark unions by position after the join casts; read generically
    val m = got.collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(m == Map("1" -> 0L, "2" -> 1L, "3" -> 2L, "4" -> 3L), s"got $m")
  }

  test("clustering coefficient: K3 node = 1.0, bridge node partial") {
    // triangle 1-2-3 plus a pendant 3-4: nodes 1,2 coeff 1; node 3 has
    // deg 3, 1 triangle -> 2*1/(3*2) = 1/3; node 4 deg 1 -> 0
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.operators.GraphOps.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.333333, 4L -> 0.0), s"got $got")
  }

  test("roc auc: perfect separation 1.0, all-tied 0.5, midrank tie case") {
    def auc(rows: Seq[(Long, Double)]): Double =
      graft.operators.Profiling.rocAuc(rows.toDF("y", "score"))
        .collect().head.getDouble(2)
    assert(auc(Seq((0L, 0.1), (0L, 0.2), (1L, 0.8), (1L, 0.9))) == 1.0)
    assert(auc(Seq((0L, 0.5), (1L, 0.5), (0L, 0.5), (1L, 0.5))) == 0.5)
    // one tie crossing classes: pos at .9, pos+neg tied at .5, neg at .1
    // -> pairs: (p.9,n.5)=1, (p.9,n.1)=1, (p.5,n.5)=.5, (p.5,n.1)=1 -> 3.5/4
    assert(auc(Seq((1L, 0.9), (1L, 0.5), (0L, 0.5), (0L, 0.1))) == 0.875)
  }

  test("transition matrix: hand-built sequences, rows sum to 1") {
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), // a->b, b->a
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "b")) // a->b, b->b
      .toDF("user_id", "ts", "event_id")
      .withColumnRenamed("event_id", "event_type")
      .withColumn("event_id", col("ts"))
    val got = graft.operators.EventOps.transitionMatrix(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(("a", "b") -> ((2L, 1.0)),
      ("b", "a") -> ((1L, 0.5)), ("b", "b") -> ((1L, 0.5))), s"got $got")
  }

  test("bloom sidecar: words round-trip the parquet sidecar; OR-merge persists") {
    val root = java.nio.file.Files.createTempDirectory("bloomside").toString
    val a = spark.range(100).select(col("id"))
    val wa = graft.operators.Sketches.bloomBuild(a, col("id"), 1 << 12)
    graft.operators.Incremental.saveBloomWords(spark, root, 1, wa)
    val loaded = graft.operators.Incremental.loadBloomWords(spark, root, 1)
    assert(loaded.toSeq == wa.toSeq)
    // OR-merge with a second batch, persist as v2, reload: probes for
    // BOTH batches' keys must hit (no false negatives, the bloom contract)
    val b = spark.range(200, 250).select(col("id"))
    val wb = graft.operators.Sketches.bloomBuild(b, col("id"), 1 << 12)
    graft.operators.Incremental.saveBloomWords(spark, root, 2,
      graft.operators.Sketches.bloomMerge(loaded, wb))
    val w2 = graft.operators.Incremental.loadBloomWords(spark, root, 2)
    val misses = a.union(b).where(
      !graft.operators.Sketches.bloomMightContain(w2, col("id"))).count()
    assert(misses == 0)
  }

  test("group median: odd and even group sizes, rank-selection form") {
    val df = Seq(("a", 1.0), ("a", 9.0), ("a", 3.0), // odd: median 3
      ("b", 4.0), ("b", 1.0), ("b", 2.0), ("b", 100.0)) // even: (2+4)/2 = 3
      .toDF("g", "x")
    val got = graft.operators.Profiling.groupMedian(df, "g", "x")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 3.0, "b" -> 3.0), s"got $got")
    // MAD is robust: one corrupt extreme in group b leaves med/MAD sane
    val prof = graft.operators.Profiling.madOutliers(df, "g", "x")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // b: devs |4-3|,|1-3|,|2-3|,|100-3| = 1,2,1,97 -> MAD (1+2)/2=1.5;
    // only 100 exceeds 3*1.5
    assert(prof("b") == ((3.0, 1.5, 1L)), s"got $prof")
  }

  test("weighted sample: dominant weight always wins, w<=0 dropped, partition-independent") {
    val rows = (1L to 40L).map(i => (i, "s", if (i == 7L) 1000000L else 1L)) :+
      ((41L, "s", 0L)) // non-positive weight: can never win
    val df = rows.toDF("doc_id", "source", "n_chars")
    val got = graft.operators.TrainingPrep
      .weightedSampleK(df, n = 3, salt = "t", weightCol = "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 7's weight is 1e6x everyone: its race key is ~1e6 smaller
    assert(got.contains(7L) && got.size == 3 && !got.contains(41L))
    val got1 = graft.operators.TrainingPrep
      .weightedSampleK(df.repartition(13), n = 3, salt = "t", weightCol = "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got1 == got) // draw is a pure function of (salt, id)
  }

  test("stratified split: per-stratum counts exact to the floor, assignment stable") {
    val df = (1L to 103L).map(i => (i, if (i <= 60) "a" else "b"))
      .toDF("doc_id", "source")
    val got = graft.operators.TrainingPrep
      .stratifiedSplit(df, 0.8, 0.1, salt = "t")
      .groupBy("source", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // a: n=60 -> 48/6/6; b: n=43 -> floor(34.4)=34 / floor(4.3)=4 / 5
    assert(got == Map(("a", "train") -> 48L, ("a", "val") -> 6L, ("a", "test") -> 6L,
      ("b", "train") -> 34L, ("b", "val") -> 4L, ("b", "test") -> 5L), s"got $got")
  }

  test("length-bucket waste: caps assign smallest-fit, overflow lands in last cap") {
    // token counts: 3, 4, 5, 9 -> caps 4, 4, 8, 8 (overflow 9 -> last cap 8)
    val docs = Seq("a b c", "a b c d", "a b c d e", "a b c d e f g h i")
      .toDF("text")
    val got = graft.operators.TrainingPrep
      .lengthBucketWaste(docs, Seq(4, 8))
      .orderBy("bucket_cap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // cap 4: docs {3,4} -> sum 7, padded 8, waste 1/8; cap 8: {5,9} -> 14/16, waste 2/16
    assert(got.toSeq == Seq((4L, 2L, 7L, 8L, 0.125), (8L, 2L, 14L, 16L, 0.125)))
  }

  test("label propagation: weak bridge splits two triangles; self-loop-only node keeps its label") {
    // two weight-10 triangles joined by a weight-1 bridge (3-4) -> LPA
    // settles on one community per triangle; node 7 has only a
    // self-loop, so it keeps its own label through the restore join
    val edges = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
      (3L, 4L, 1L), (7L, 7L, 5L))
      .toDF("src", "dst", "w")
    val got = graft.operators.GraphOps.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L), s"got $got")
  }

  test("pagerank matches a local reference on a small weighted graph") {
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 1L, 1L),
      (3L, 1L, 2L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    val got = graft.operators.GraphOps.pageRank(edges, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // local twin: same fixed-iteration update on an adjacency map
    val out = Map(1L -> Seq((2L, 0.5), (3L, 0.5)), 2L -> Seq((1L, 1.0)),
      3L -> Seq((1L, 2.0 / 3), (2L, 1.0 / 3)))
    var rank = Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3)
    for (_ <- 1 to 10) {
      val contrib = scala.collection.mutable.Map(1L -> 0.0, 2L -> 0.0, 3L -> 0.0)
      for ((u, es) <- out; (v, p) <- es) contrib(v) += rank(u) * p
      rank = contrib.map { case (k, c) => k -> (0.15 / 3 + 0.85 * c) }.toMap
    }
    rank.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9, s"node $k") }
    // strongly connected graph: no dangling leak, total mass stays 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("property: fuzzy match equals brute force under the same blocking") {
    import org.scalacheck.Gen
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val tok = Gen.oneOf("aa", "ab", "ba", "bb", "ccc")
    val genName = for {
      k <- Gen.choose(2, 3); ts <- Gen.listOfN(k, tok)
    } yield ts.mkString(" ")
    val genCorpus = Gen.choose(8, 16).flatMap(n => Gen.listOfN(n, genName))
    Gen.listOfN(6, genCorpus).sample.get.foreach { names =>
      val rows = names.zipWithIndex.map { case (nm, i) => (i.toLong, nm) }
      val got = graft.operators.Dedup
        .fuzzyMatchPairs(rows.toDF("id", "name"), "id", "name", 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ia, na) <- rows
        (ib, nb) <- rows
        if ia < ib
        if na.split(" ").head == nb.split(" ").head
        if math.abs(na.length - nb.length) <= 2
        d = lev(na, nb)
        if d <= 2
      } yield (ia, ib, d.toLong)).toSet
      assert(got == want, s"names=$names got=$got want=$want")
    }
  }

  test("property: funnel equals a local first-touch fold on random event logs") {
    import org.scalacheck.Gen
    val stages = Seq("s0", "s1", "s2")
    val w = 50L
    val genEv = for {
      u <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 200L)
      e <- Gen.oneOf("s0", "s1", "s2", "noise")
    } yield (u, e, t)
    val genLog = Gen.choose(10, 40).flatMap(n => Gen.listOfN(n, genEv))
    Gen.listOfN(6, genLog).sample.get.foreach { log =>
      val got = graft.operators.EventOps
        .funnelStages(log.toDF("user_id", "event_type", "ts"), stages, w)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(4),
          Seq(0, 1, 2).map(i => if (r.isNullAt(i + 1)) -1L else r.getLong(i + 1))))
        .toMap
      val want = log.groupBy(_._1).flatMap { case (u, evs) =>
        val byStage = stages.map(s => evs.filter(_._2 == s).map(_._3).sorted)
        byStage.head.headOption.map { t0 =>
          var times = List(t0)
          var prev = t0
          var open = true
          byStage.tail.foreach { ts =>
            if (open) ts.find(t => t >= prev && t <= prev + w) match {
              case Some(t) => times = t :: times; prev = t
              case None => open = false
            }
          }
          val full = times.reverse.padTo(3, -1L)
          u -> (times.length.toLong, full)
        }
      }
      assert(got == want, s"log=$log\ngot=$got\nwant=$want")
    }
  }

  test("exact-n group sample: exact counts, whole small groups, deterministic") {
    val df = ((1 to 20).map(i => (i.toLong, "big")) ++ Seq((100L, "small")))
      .toDF("doc_id", "source")
    def run(salt: String) = graft.operators.TrainingPrep
      .groupSampleExactN(df, 5, salt)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run("s1")
    assert(a.count(_._2 == "big") == 5 && a.count(_._2 == "small") == 1)
    assert(run("s1") == a, "same salt -> same sample")
    assert(run("s2") != a, "new salt -> redraw")
  }

  test("vocab coverage: smallest covering prefix, crossing term included") {
    // counts: a=5, b=3, c=1, d=1 (total 10)
    val df = Seq((1L, "a a a a a b b b c d")).toDF("doc_id", "text")
    def run(permille: Int) = graft.operators.TrainingPrep
      .vocabCoverage(df, permille).orderBy("cum_cnt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // 80% -> target 8: a (cum 5) then b CROSSES at 8; c excluded
    assert(run(800) == Seq(("a", 5L, 5L), ("b", 3L, 8L)))
    // 60% -> target 6: b still included (the crossing term), then stop
    assert(run(600) == Seq(("a", 5L, 5L), ("b", 3L, 8L)))
    // 100% -> whole vocab, ties (c, d) ordered by term
    assert(run(1000) == Seq(("a", 5L, 5L), ("b", 3L, 8L),
      ("c", 1L, 9L), ("d", 1L, 10L)))
  }

  test("source drift: zero KL for identical distributions, positive for skew") {
    val same = Seq((1L, "a", "x y z"), (2L, "b", "x y z"))
      .toDF("doc_id", "source", "text")
    val kl0 = graft.operators.TrainingPrep.sourceDrift(same)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl0("a") == 0.0 && kl0("b") == 0.0, s"identical dists: $kl0")
    val skew = Seq((1L, "a", "x y z"), (2L, "b", "x x x x x x x x"))
      .toDF("doc_id", "source", "text")
    val kl1 = graft.operators.TrainingPrep.sourceDrift(skew)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl1.values.forall(_ > 0.0), s"both sources drift from the blend: $kl1")
  }

  test("cohort retention: diagonal equals cohort size, offsets count returns") {
    // period = 10; u1 active in periods {0,1,3}, u2 {1,2}, u3 {0}
    val ev = Seq((1L, 1L), (1L, 11L), (1L, 35L), (2L, 12L), (2L, 25L), (3L, 5L))
      .toDF("user_id", "ts")
    val got = graft.operators.EventOps.cohortRetention(ev, periodNs = 10L)
      .orderBy("cohort", "wk_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 3L, 1L),
      (1L, 0L, 1L), (1L, 1L, 1L)), s"got $got")
  }

  test("decayed counts: one half-life-old event contributes exactly half") {
    val hl = 1000L
    val ev = Seq(("a", 2000L), ("a", 1000L), ("b", 2000L))
      .toDF("event_type", "ts")
    val got = graft.operators.EventOps.decayedCounts(ev, hl.toDouble)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("a", 2L, 1.5), ("b", 1L, 1.0)), s"got $got")
  }

  test("streaming funnel final stages equal the batch first-touch operator") {
    val wUs = 2L * 86400 * 1000000L
    val stream = EventsStream.readEvents(spark, sf0001)
    val updates = EventsStream.streamingFunnel(spark, stream,
      Seq("view", "click", "purchase"), wUs)
    val got = EventsStream.runToMemory(spark, updates.toDF(), "sfunnel")
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = graft.operators.EventOps
      .funnelStages(graft.queries.Tables.events(spark, sf0001),
        Seq("view", "click", "purchase"), windowNs = wUs * 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(4).toInt).toMap
    assert(got == batch, s"stream=$got batch=$batch")
    assert(batch.values.exists(_ == 3) && batch.values.exists(_ < 3),
      "window must be discriminative at this sf")
  }

  test("transformWithState funnel equals the flatMapGroupsWithState form") {
    val wUs = 2L * 86400 * 1000000L
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = EventsStream.readEvents(spark, sf0001)
      val tws = EventsStream.streamingFunnelTws(spark, stream,
        Seq("view", "click", "purchase"), wUs)
      val got = EventsStream.runToMemory(spark, tws.toDF(), "twsfunnel")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      val fmgws = EventsStream.streamingFunnel(spark,
        EventsStream.readEvents(spark, sf0001),
        Seq("view", "click", "purchase"), wUs)
      val want = EventsStream.runToMemory(spark, fmgws.toDF(), "fmgwsfunnel")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == want, s"tws size=${got.size} fmgws size=${want.size}")
      assert(got.nonEmpty)
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("iterative loops release superseded checkpoints: flat storage across 25 rounds") {
    val sc = spark.sparkContext
    def stored(): Int = sc.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    // unpersist is non-blocking (deliberate: prod loops shouldn't stall on
    // block release) — poll briefly before judging a leak
    def settledAtMost(limit: Int, what: String): Unit = {
      val deadline = System.nanoTime() + 10e9.toLong
      var n = stored()
      while (n > limit && System.nanoTime() < deadline) { Thread.sleep(100); n = stored() }
      assert(n <= limit, s"$what leaked checkpoint blocks: $n stored > $limit allowed")
    }
    // PageRank, 25 rounds: ends with ONLY the returned ranks checkpoint
    val edges = (0L until 200L).map(i => (i, (i + 1) % 200, 1.0)).toDF("src", "dst", "w")
    val before = stored()
    val pr = graft.operators.GraphOps.pageRank(edges, iterations = 25)
    assert(pr.count() == 200)
    settledAtMost(before + 1, "pageRank")
    IterUtils.unpersistCheckpoint(pr)
    // BPE train, 25 merge rounds: rules are driver-side, nothing persists
    val bpeBefore = stored()
    val merges = graft.operators.Bpe.train(docs.limit(200), numMerges = 25,
      minPairCount = 1L)
    assert(merges.size == 25)
    settledAtMost(bpeBefore, "Bpe.train")
    // connected components on a 50-edge chain: only the labels survive
    val pairs = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cBefore = stored()
    val cl = graft.operators.Dedup.duplicateClusters(pairs)
    assert(cl.count() == 51)
    settledAtMost(cBefore + 1, "duplicateClusters")
  }

  test("salted join equals plain join on a skewed key") {
    val skewed = spark.range(0, 20000)
      .selectExpr("CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v")
    val dim = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS w")
    val plain = skewed.join(dim, "k").agg(sum("v"), sum("w")).collect()(0)
    val salted = graft.operators.SkewUtils.saltedJoin(skewed, dim, "k", 8)
      .agg(sum("v"), sum("w")).collect()(0)
    assert(plain == salted)
  }

  test("tf-idf top terms: k rows per doc, rank 1 is the max score, corpus-wide terms score low") {
    val tt = graft.operators.TrainingPrep.tfIdfTopTerms(docs, 3)
    val perDoc = tt.groupBy("doc_id").count().agg(max("count"), min("count")).collect()(0)
    assert(perDoc.getLong(0) == 3)
    val r1 = tt.where(col("rank") === 1).select("doc_id", "score")
      .withColumnRenamed("score", "s1")
    val viol = tt.join(r1, "doc_id").where(col("score") > col("s1")).count()
    assert(viol == 0, "rank-1 must carry the per-doc max score")
  }

  test("shard export: every doc exactly one slot, contiguous positions, balanced shards") {
    val ex = graft.operators.TrainingPrep.shardExport(docs.select("doc_id"), 8, "t1")
    assert(ex.count() == docs.count() && ex.select("doc_id").distinct().count() == docs.count())
    val perShard = ex.groupBy("shard").agg(count(lit(1)).as("n"), max("pos").as("mx"))
    assert(perShard.where(col("n") =!= col("mx")).count() == 0, "positions must be 1..n")
    val sizes = perShard.select("n").collect().map(_.getLong(0))
    assert(sizes.length == 8 && sizes.max < sizes.min * 2, s"unbalanced: ${sizes.toSeq}")
  }

  test("domain split: quota enforced, split label constant within a group") {
    val sp = graft.operators.TrainingPrep.domainSplit(docs, "source", 5, 30, "t2")
    assert(sp.groupBy("source").count().agg(max("count")).collect()(0).getLong(0) <= 5)
    val mixed = sp.groupBy("source").agg(countDistinct("split").as("k"))
      .where(col("k") > 1).count()
    assert(mixed == 0, "a source must never straddle train and val")
  }

  test("streaming: incremental title ingestion over a landing dir (AvailableNow shape)") {
    val landing = java.nio.file.Files.createTempDirectory("cpc-landing")
    java.nio.file.Files.writeString(landing.resolve("batch1.txt"),
      "A01B1/00 0 Hand tools\nA01B1/02 1 Spades; Shovels; Hoes\n\nInvalid Line")
    java.nio.file.Files.writeString(landing.resolve("batch2.txt"),
      "Y02E REDUCTION OF GREENHOUSE GAS EMISSIONS")
    val out = EventsStream.runToMemory(spark,
      EventsStream.incrementalTitles(spark, landing.toString), "inc_titles")
    val syms = out.select("symbol").collect().map(_.getString(0)).sorted
    assert(syms.toSeq == Seq("A01B1/00", "A01B1/02", "Y02E"))
  }

  test("streaming: mapGroupsWithState sessionizer emits per-user state") {
    val stream = EventsStream.readEvents(spark, sf0001)
    val sess = EventsStream.runToMemory(spark,
      EventsStream.sessionize(spark, stream).toDF(), "sessions",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val rows = sess.collect()
    assert(rows.nonEmpty)
    val n = graft.queries.Tables.events(spark, sf0001)
      .select(countDistinct("user_id")).collect()(0).getLong(0)
    assert(sess.select("user_id").distinct().count() == n)
  }

  test("PII redaction: every kind replaced, counts audited, clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at jane.doe+x@sub.example.org thanks"),
      (2L, "call 555-867-5309 or 555-123-4567 now"),
      (3L, "ssn 078-05-1120 is not a phone"),
      (4L, "server at 192.168.1.1 and 10.0.0.255"),
      (5L, "no pii here at all")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.redactPii(col("text")).as("clean"),
      graft.operators.TextAnalysis.piiCount(col("text"), "email").as("ne"),
      graft.operators.TextAnalysis.piiCount(col("text"), "phone").as("np"),
      graft.operators.TextAnalysis.piiCount(col("text"), "ssn").as("ns"),
      graft.operators.TextAnalysis.piiCount(col("text"), "ipv4").as("ni"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    assert(got(1L) == (("mail me at <pii:email> thanks", 1, 0, 0, 0)))
    assert(got(2L) == (("call <pii:phone> or <pii:phone> now", 0, 2, 0, 0)))
    assert(got(3L) == (("ssn <pii:ssn> is not a phone", 0, 0, 1, 0)))
    assert(got(4L) == (("server at <pii:ipv4> and <pii:ipv4>", 0, 0, 0, 2)))
    assert(got(5L) == (("no pii here at all", 0, 0, 0, 0)))
  }

  test("budget selection == single-window twin, invariant to partition count") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val twin = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"),
        col("n_chars"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .where(col("cum_tok") <= 10000)
      .select("doc_id", "n_tok", "cum_tok")
      .collect().map(_.toSeq).toSet
    assert(twin.nonEmpty)
    Seq(1, 3, 32).foreach { p =>
      val got = graft.operators.TrainingPrep
        .selectUnderBudget(docs, 10000L, partitions = p)
        .collect().map(_.toSeq).toSet
      assert(got == twin, s"partitions=$p")
    }
  }

  test("packBins == global-window twin, invariant to partitions, no Window in its plan") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val twin = docs.select(col("doc_id"), col("n_chars"))
      .withColumn("pre", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("bin", expr("pre div 20000"))
      .groupBy("bin").agg(count(lit(1)).cast("long").as("n_files"),
        sum(col("n_chars")).cast("long").as("bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .collect().map(_.toSeq).toSet
    assert(twin.nonEmpty)
    Seq(1, 3, 32).foreach { p =>
      val got = graft.operators.TrainingPrep
        .packBins(docs, 20000L, partitions = p)
      assert(!got.queryExecution.executedPlan.toString.contains("Window"),
        "packBins must never plan a window")
      assert(got.collect().map(_.toSeq).toSet == twin, s"partitions=$p")
    }
  }

  test("per-source budget == keyed-window twin, invariant to partitions, hot source spans ranges") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // make one source dominant: relabel 80% of the corpus onto src0
    val skewed = docs.withColumn("source",
      when(col("doc_id") % 5 =!= 0, lit("src0")).otherwise(col("source")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val twin = skewed
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"), col("n_chars"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .where(col("cum_tok") <= 3000)
      .select("source", "doc_id", "n_tok", "cum_tok")
      .collect().map(_.toSeq).toSet
    assert(twin.nonEmpty)
    Seq(1, 3, 32).foreach { p =>
      val got = graft.operators.TrainingPrep
        .selectPerSourceBudget(skewed, 3000L, partitions = p)
        .collect().map(_.toSeq).toSet
      assert(got == twin, s"partitions=$p")
    }
  }

  test("dsir selection == orderBy/limit twin, invariant to partition count") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val target = docs.where(col("lang") === "en")
    val twin = graft.operators.TrainingPrep
      .dsirLogWeights(docs, target, buckets = 1024)
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(50)
      .select("doc_id", "logw")
      .collect().map(_.toSeq).toSet
    assert(twin.size == 50)
    Seq(1, 3, 32).foreach { p =>
      val got = graft.operators.TrainingPrep
        .dsirSelect(docs, target, buckets = 1024, n = 50, partitions = p)
        .collect()
      assert(got.map(r => Seq(r.get(0), r.get(1))).toSet == twin, s"partitions=$p")
      // ranks are exactly 1..n and consistent with the selection order
      val byRank = got.sortBy(_.getLong(2))
      assert(byRank.map(_.getLong(2)).toSeq == (1L to 50L),
        s"partitions=$p ranks")
      val resorted = got.sortBy(r => (-r.getDouble(1), r.getLong(0)))
      assert(resorted.map(_.getLong(0)).toSeq ==
        byRank.map(_.getLong(0)).toSeq, s"partitions=$p rank order")
    }
  }

  test("inverted index: postings sorted+distinct, df consistent, membership correct") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val idx = graft.operators.TrainingPrep.invertedIndex(docs).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1).toSeq, r.getInt(2))).toMap
    assert(idx.values.forall { case (ps, df) =>
      df == ps.size && ps == ps.distinct.sorted })
    // spot-check one term against a direct scan
    val (term, (postings, _)) = idx.maxBy(_._2._2)
    val want = docs.where(array_contains(split(col("text"), " "), term))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(postings == want)
  }

  test("incremental dedup: history dups, within-batch dups, normalization variants") {
    import spark.implicits._
    val existing = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a  b"),  // whitespace variant of history doc 1 -> dropped
      (11L, "e f"),   // new -> survives
      (12L, "e f"),   // exact within-batch dup of 11 -> dropped
      (13L, "E F")    // case variant of 11, same fingerprint -> dropped
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.incrementalDedup(existing, incoming)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((11L, "e f")))
    // empty history: only within-batch dedup applies
    val noHist = graft.operators.Dedup
      .incrementalDedup(existing.limit(0), incoming)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(noHist == Seq(10L, 11L))
  }

  test("bloom-gated anti-join: equals plain anti-join, no false negatives, partition-invariant build") {
    val corpus = docs.where(col("doc_id") % 3 =!= 0).select(col("text").as("k"))
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text").as("k"))
    val want = batch.join(corpus, Seq("k"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = Dedup.bloomGatedAntiJoin(batch, corpus, "k", numBits = 1 << 12)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
    // a saturated filter (64 bits for thousands of keys) routes everything
    // through the exact join — still exact, just ungated
    val saturated = Dedup.bloomGatedAntiJoin(batch, corpus, "k", numBits = 64)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(saturated == want)
    // no false negatives: every built key must probe maybe=true
    val words = graft.operators.Sketches.bloomBuild(corpus, col("k"), 1 << 12)
    assert(corpus.where(
      !graft.operators.Sketches.bloomMightContain(words, col("k"))).count() == 0L)
    // the filter is a pure function of the key SET, not its layout
    val words2 = graft.operators.Sketches.bloomBuild(
      corpus.repartition(13), col("k"), 1 << 12)
    assert(words.toSeq == words2.toSeq)
  }

  test("hard negatives: pos from own cluster, neg from runner-up cluster, ranks contiguous") {
    val asg = graft.operators.Clustering.kMeansAssignRunnerUp(emb, k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val rows = Similarity.hardNegatives(emb, k = 8, iters = 2, nNeg = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (vid, kind, _, other) =>
      val (cl, cl2) = asg(vid)
      if (kind == "pos") {
        assert(other != vid, s"$vid paired with itself")
        assert(asg(other)._1 == cl, s"pos for $vid not from its cluster")
      } else
        assert(asg(other)._1 == cl2, s"neg for $vid not from its runner-up cluster")
    }
    rows.groupBy(r => (r._1, r._2)).foreach { case ((vid, kind), g) =>
      val ranks = g.map(_._3).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"$vid/$kind ranks not contiguous: $ranks")
      assert(if (kind == "pos") ranks.size == 1 else ranks.size <= 3)
    }
  }

  test("image aHash: lossless decode determinism, edits vanish, motifs stay far apart") {
    val h = Multimodal.imageAHash(spark, Multimodal.pngAssets(spark, docs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h.nonEmpty)
    assert(h.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    // assets are a pure function of (motif, perturbed) — one hash each
    def sig(id: Long) = (id % 7, id % 4 == 0)
    val groups = h.groupBy { case (id, _) => sig(id) }.map { case (k, m) => k -> m.values.toSet }
    assert(groups.values.forall(_.size == 1), "same-signature assets hashed differently")
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    // the +8 single-pixel edit is INVISIBLE to the hash (that is the point
    // of perceptual hashing) while distinct motifs sit >= 27 bits apart
    // on this fixture — a wide, stable near-dup margin
    for (g <- 0L until 7L;
         b <- groups.get((g, false)).map(_.head);
         p <- groups.get((g, true)).map(_.head))
      assert(ham(b, p) == 0, s"motif $g: edit flipped ${ham(b, p)} bits")
    val bases = (0L until 7L).flatMap(g => groups.get((g, false)).map(_.head))
    val cross = for (i <- bases.indices; j <- i + 1 until bases.size)
      yield ham(bases(i), bases(j))
    assert(cross.nonEmpty && cross.forall(_ >= 16), s"motifs too close: ${cross.min}")
  }

  test("image pHash: DCT hash deterministic, edit nearly invisible, motifs far apart, DC bit set") {
    val h = Multimodal.imagePHash(spark, Multimodal.pngAssets(spark, docs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h.nonEmpty)
    assert(h.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    def sig(id: Long) = (id % 7, id % 4 == 0)
    val groups = h.groupBy { case (id, _) => sig(id) }
      .map { case (k, m) => k -> m.values.toSet }
    assert(groups.values.forall(_.size == 1), "same-signature assets hashed differently")
    // DC is the largest coefficient on a nonnegative plane — always above
    // the non-DC median
    assert(h.values.forall(_.head == '1'), "DC bit should be 1")
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    // the +8 single-pixel edit spreads 8/256 of one pixel across all 64
    // low-frequency coefficients — at most a couple of boundary bits move
    for (g <- 0L until 7L;
         b <- groups.get((g, false)).map(_.head);
         p <- groups.get((g, true)).map(_.head))
      assert(ham(b, p) <= 2, s"motif $g: edit flipped ${ham(b, p)} bits")
    val bases = (0L until 7L).flatMap(g => groups.get((g, false)).map(_.head))
    val cross = for (i <- bases.indices; j <- i + 1 until bases.size)
      yield ham(bases(i), bases(j))
    assert(cross.nonEmpty && cross.forall(_ >= 10), s"motifs too close: ${cross.min}")
  }

  test("video near-dup: blocked pairs == brute force, planted motifs pair, cross-motif absent") {
    import graft.operators.Multimodal
    val sub = docs.where(col("doc_id") % 5 === 0)
    val sig = Multimodal.videoLumaSig(spark, Multimodal.vidMotifAssets(spark, sub))
    val sigs = sig.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toList))
    assert(sigs.nonEmpty)
    assert(sigs.forall { case (_, n, ls) => ls.length == n && ls.forall(_ >= 0) })
    val got = Multimodal.videoNearDupPairs(sig)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // exact framewise brute force over the collected signatures
    val want = (for {
      (ia, na, la) <- sigs; (ib, nb, lb) <- sigs
      if ia < ib && na == nb
      dm = la.zip(lb).map { case (x, y) => math.abs(x - y) }.max
      if dm <= 2
    } yield (ia, ib, dm)).toSet
    assert(got == want, s"blocked pairing != brute force: ${got.diff(want)} / ${want.diff(got)}")
    // planted structure: a perturbed (id%4==0) asset pairs with an
    // unperturbed same-(motif, parity) twin when one exists in range
    val byClass = sigs.groupBy { case (id, _, _) => (id % 7, id % 2) }
    val mixed = byClass.values.filter(g =>
      g.exists(_._1 % 4 == 0) && g.exists(_._1 % 4 != 0))
    assert(mixed.nonEmpty, "fixture lost its perturbed/base mix")
    for (g <- mixed; (pa, _, _) <- g.filter(_._1 % 4 == 0).take(1);
         (pb, _, _) <- g.filter(_._1 % 4 != 0).take(1)) {
      val key = (math.min(pa, pb), math.max(pa, pb))
      assert(want.exists(p => (p._1, p._2) == key),
        s"perturbed $pa should pair with base $pb")
    }
    // motif frame-0 levels are >= 29 apart — no cross-motif pair survives
    for ((ia, ib, _) <- got)
      assert(ia % 7 == ib % 7, s"cross-motif pair ($ia, $ib)")
  }

  test("image near-dup pairs: Manku-keyed hammingPairs == brute force over aHash sigs") {
    import graft.operators.{Dedup, Multimodal}
    val h = Multimodal.imageAHash(spark,
      Multimodal.pngAssets(spark, docs.where(col("doc_id") % 5 === 0)))
    val sig = h.select(col("doc_id"),
      (0 until 64).map(b =>
        when(substring(col("ahash"), b + 1, 1) === "1", lit(1L << b))
          .otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_)).as("sig"))
    val got = Dedup.hammingPairs(sig, maxDist = 2, sigCol = "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = sig.collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 2
    } yield (ia, ib, hd.toLong)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture should contain same-motif image pairs")
  }

  test("audio fingerprint: decode determinism, edit flips at most bit 0, pairs route through hammingPairs") {
    import graft.operators.{Dedup, Multimodal}
    val h = Multimodal.audioFingerprint(spark,
      Multimodal.pcmMotifAssets(spark, docs.where(col("doc_id") % 5 === 0)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h.nonEmpty)
    assert(h.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    def sig(id: Long) = (id % 7, id % 4 == 0)
    val groups = h.groupBy { case (id, _) => sig(id) }.map { case (k, m) => k -> m.values.toSet }
    assert(groups.values.forall(_.size == 1), "same-signature assets fingerprinted differently")
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    // the +50 edit lives in frame 0, so only e_0 — and therefore only the
    // e_1 > e_0 compare — can change: hamming <= 1 by construction
    for (g <- 0L until 7L;
         b <- groups.get((g, false)).map(_.head);
         p <- groups.get((g, true)).map(_.head))
      assert(ham(b, p) <= 1, s"motif $g: edit flipped ${ham(b, p)} bits")
    // the fingerprints route through the same pairing machinery as simhash
    val sigDf = Multimodal.audioFingerprint(spark,
        Multimodal.pcmMotifAssets(spark, docs.where(col("doc_id") % 5 === 0)))
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(substring(col("afp"), b + 1, 1) === "1", lit(1L << b))
            .otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sig"))
    val got = Dedup.hammingPairs(sigDf, maxDist = 1, sigCol = "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = h.toSeq.map { case (id, s) =>
      id -> s.zipWithIndex.foldLeft(0L) { case (acc, (c, b)) =>
        if (c == '1') acc | (1L << b) else acc } }
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 1
    } yield (ia, ib, hd.toLong)).toSet
    assert(got == want)
  }

  test("excision decontamination: planted benchmark sentence is cut, doc survives") {
    import graft.operators.TrainingPrep
    val bench13 = (1 to 13).map(i => s"b$i").mkString(" ")
    val bench14 = (1 to 14).map(i => s"x$i").mkString(" ")
    val head = (1 to 6).map(i => s"h$i").mkString(" ")
    val tail = (1 to 6).map(i => s"t$i").mkString(" ")
    val clean = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$head $bench13 $tail"), // one 13-gram hit at token 6
      (2L, clean),                   // no hit: must pass through verbatim
      (3L, s"$head $bench14 $tail")  // two overlapping hits -> one island
    ).toDF("doc_id", "text")
    val bench = Seq(bench13, bench14).toDF("text")
    val got = TrainingPrep.exciseContamination(docs, bench, n = 13, margin = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // doc 1: hit gram at pos 6, margin 2 -> excise [4, 20] of 25 tokens
    assert(got(0) == ((1L, "h1 h2 h3 h4 t3 t4 t5 t6", 17L)))
    assert(got(1) == ((2L, clean, 0L)))
    // doc 3: hits at pos 6 and 7 -> spans [4,20]+[5,21] merge to [4,21]
    assert(got(2) == ((3L, "h1 h2 h3 h4 t3 t4 t5 t6", 18L)))
    // margin 0: only the exact window goes
    val m0 = TrainingPrep.exciseContamination(docs, bench, n = 13, margin = 0)
      .orderBy("doc_id").collect()
    assert(m0(0).getString(1) == s"$head $tail" && m0(0).getLong(2) == 13L)
  }

  test("trained lang-id: planted char distributions classify correctly") {
    import graft.operators.TrainingPrep
    // three fake languages with disjoint char inventories; a fourth
    // "mixed" doc leans aa-ward; a too-short doc (< 3 chars of vocab
    // overlap) must be absent from the result
    def rep(s: String, k: Int) = Array.fill(k)(s).mkString(" ")
    val labeled = Seq(
      (100L, rep("aalta kalla saari", 4), "aa"),
      (101L, rep("aakko nalle vaara", 4), "aa"),
      (102L, rep("zorro bizzo pizza", 4), "zz"),
      (103L, rep("zanza mezzo rezzo", 4), "zz"),
      (104L, rep("qumqu uqquq muqqa", 4), "qq"),
      (105L, rep("ququm aqqad daqqu", 4), "qq")
    ).toDF("doc_id", "text", "lang")
    val docs = Seq(
      (1L, rep("kalla vaara aalta", 3)),   // clearly aa
      (2L, rep("pizza rezzo zorro", 3)),   // clearly zz
      (3L, rep("muqqa ququm uqquq", 3)),   // clearly qq
      (4L, "aalta saari " + rep("nalle", 2) + " zorro"), // mixed, aa-major
      (5L, "xy")                            // no trigram at all
    ).toDF("doc_id", "text")
    val got = TrainingPrep.trainedLangId(docs, labeled, n = 3, vocabSize = 200)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(got.map(_._1) == List(1L, 2L, 3L, 4L)) // doc 5: no evidence, absent
    assert(got.map(_._2) == List("aa", "zz", "qq", "aa"), s"got $got")
  }

  test("unigram-lm: viterbi choice, tie-break, unk word, trained round-trip") {
    import graft.operators.Unigram
    import graft.operators.Unigram.Piece
    // known answer: "ab" (-10) beats "a"+"b" (-200)
    val m1 = Seq(Piece("ab", 0, -10), Piece("a", 0, -100), Piece("b", 0, -100),
      Piece("c", 0, -100))
    val s1 = Unigram.segment(Seq((1L, "abc ab")).toDF("doc_id", "text"), m1)
      .collect().head.getSeq[String](1)
    assert(s1 == Seq("ab", "c", "ab"))
    // all segmentations of "aaa" tie at -30: smallest split point wins
    // deterministically -> ["a", "aa"]
    val m2 = Seq(Piece("aa", 0, -20), Piece("a", 0, -10))
    val s2 = Unigram.segment(Seq((1L, "aaa")).toDF("doc_id", "text"), m2)
      .collect().head.getSeq[String](1)
    assert(s2 == Seq("a", "aa"))
    // uncoverable word (unseen chars) comes out whole — by-word UNK
    val s3 = Unigram.segment(Seq((1L, "ab zq!")).toDF("doc_id", "text"), m1)
      .collect().head.getSeq[String](1)
    assert(s3 == Seq("ab", "zq!"))
    // trainer: singles survive pruning unconditionally, vocab is capped,
    // segmentation with the trained model reconstructs every word
    val corpus = Seq((1L, "banana bandana banana"), (2L, "ananas banana"))
      .toDF("doc_id", "text")
    val model = Unigram.train(corpus, vocabSize = 10, maxPieceLen = 3,
      minCount = 2, rounds = 2)
    assert(model.count(_.piece.length == 1) == 5) // a b d n s
    assert(model.size <= 10)
    val seg = Unigram.segment(corpus, model).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(seg(1L).mkString == "bananabandanabanana")
    assert(seg(2L).mkString == "ananasbanana")
    assert(seg(1L).exists(_.length > 1), "trained model should use a multi-char piece")
  }

  test("edge hardening: null source budgets, empty kmv, bloom column clash, width-64 manku mask") {
    import graft.operators.{Dedup, Sketches, TrainingPrep}
    // 1) a null source is a real group: its rows must load their broadcast
    //    offset like any other source, so the result stays the keyed-window
    //    twin and stays partition-invariant
    val docs0 = spark.read.parquet(s"$sf0001/documents.parquet")
    val nullSrc = docs0.withColumn("source",
      when(col("doc_id") % 3 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 3 === 1, lit("srcA")).otherwise(col("source")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val twin = nullSrc
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"), col("n_chars"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .where(col("cum_tok") <= 2000)
      .select("source", "doc_id", "n_tok", "cum_tok")
      .collect().map(_.toSeq).toSet
    assert(twin.exists(_.head == null), "fixture must exercise the null-source group")
    Seq(1, 3, 32).foreach { p =>
      val got = TrainingPrep.selectPerSourceBudget(nullSrc, 2000L, partitions = p)
        .collect().map(_.toSeq).toSet
      assert(got == twin, s"partitions=$p")
    }
    // 2) kmv over two empty inputs: (0, 0), never NaN
    val empty = docs0.where(lit(false)).select(col("text").as("term"))
    val z = Sketches.kmvSetAlgebra(empty, empty, "term", k = 16).head()
    assert(z.getDouble(0) == 0.0 && z.getDouble(1) == 0.0, s"empty kmv: $z")
    // 3) a pre-existing __bloom_maybe column is a hard error, not silent
    //    corruption of the caller's data
    val keys = docs0.select(col("text").as("k"))
    val clashing = docs0.select(col("doc_id"), col("text").as("k"))
      .withColumn("__bloom_maybe", lit(true))
    intercept[IllegalArgumentException] {
      Dedup.bloomGatedAntiJoinWith(
        Sketches.bloomBuild(keys, col("k"), 1 << 12), clashing, keys, "k")
    }
    // 4) width-64 block mask: nBlocks=1/bits=64 must key by the FULL
    //    signature (the buggy (1L<<64)-1 mask is 0 → one global bucket)
    val sigDf2 = Seq((1L, 0x0123456789abcdefL), (2L, 0x0123456789abcdefL),
      (3L, -42L)).toDF("doc_id", "sig")
    val blockVals = sigDf2.select(
        Dedup.mankuBlocks(col("sig"), nBlocks = 1, bits = 64).head.as("b"))
      .collect().map(_.getLong(0)).toSet
    assert(blockVals == Set(0x0123456789abcdefL, -42L),
      s"width-64 block must be the raw signature, got $blockVals")
    val exactPairs = Dedup.hammingPairs(sigDf2, maxDist = 0, sigCol = "sig",
        nBlocks = 1, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exactPairs == Set((1L, 2L, 0L)))
  }

  test("profile drift: planted bound shift flags exactly its column") {
    val before = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val after = Seq((1L, "x"), (9L, "y")).toDF("id", "v") // id range moved
    val d = graft.operators.Profiling.profileDrift(before, after)
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("stable")).toMap
    assert(d == Map("id" -> false, "v" -> true), d.toString)
  }

  test("table profile: null-aware counts, exact distincts, min/max from one pass") {
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("b")), (4L, Some("a")))
      .toDF("id", "v")
    val p = graft.operators.Profiling.profile(df).collect().map(r =>
      r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toMap
    assert(p("id") == (("bigint", 4L, 4L, "1", "4")))
    // nulls are excluded from every statistic, not counted as a value
    assert(p("v") == (("string", 3L, 2L, "a", "b")))
  }

  test("bloom merge: OR of the halves' words == rebuild over the union, gated result unchanged") {
    import graft.operators.{Dedup, Sketches}
    val keys = docs.select(col("text").as("k"))
    val (a, b) = (docs.where(col("doc_id") % 2 === 0).select(col("text").as("k")),
      docs.where(col("doc_id") % 2 === 1).select(col("text").as("k")))
    val whole = Sketches.bloomBuild(keys, col("k"), 1 << 12)
    val merged = Sketches.bloomMerge(
      Sketches.bloomBuild(a, col("k"), 1 << 12),
      Sketches.bloomBuild(b, col("k"), 1 << 12))
    assert(merged.toSeq == whole.toSeq)
    // gating with the maintained filter equals gating with a rebuild
    val batch = docs.select(col("doc_id"), col("text").as("k")).limit(80)
    val viaMerged = Dedup.bloomGatedAntiJoinWith(merged, batch, keys, "k")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaRebuild = Dedup.bloomGatedAntiJoin(batch, keys, "k", numBits = 1 << 12)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaMerged == viaRebuild)
    // size mismatch is a hard error, not a silent wrong filter
    intercept[IllegalArgumentException] {
      Sketches.bloomMerge(whole, new Array[Long](32))
    }
  }

  test("kmv set algebra: close to exact truth, exact when degenerate, partition-invariant") {
    import graft.operators.Sketches
    def terms(p: org.apache.spark.sql.Column) = docs.where(p)
      .select(explode(split(col("text"), " ")).as("term"))
    val a = terms(col("doc_id") % 2 === 0)
    val b = terms(col("doc_id") % 2 === 1)
    val r = Sketches.kmvSetAlgebra(a, b, "term", k = 256).head()
    val (estU, estI) = (r.getDouble(0), r.getDouble(1))
    val nu = a.unionByName(b).distinct().count().toDouble
    val ni = a.distinct().join(b.distinct(), Seq("term"), "left_semi").count().toDouble
    // KMV standard error is ~1/sqrt(k) ≈ 6% at k=256; 25% is a safe bound
    assert(math.abs(estU - nu) / nu < 0.25, s"union est $estU vs $nu")
    assert(math.abs(estI - ni) / ni < 0.25, s"intersect est $estI vs $ni")
    // degenerate: fewer distinct keys than k means both estimates are exact
    val sa = a.limit(30).distinct()
    val sb = b.limit(30).distinct()
    val s0 = Sketches.kmvSetAlgebra(sa, sb, "term", k = 256).head()
    val exactU = sa.unionByName(sb).distinct().count().toDouble
    val exactI = sa.join(sb, Seq("term"), "left_semi").count().toDouble
    assert(s0.getDouble(0) == exactU && s0.getDouble(1) == exactI,
      s"degenerate not exact: $s0 vs ($exactU, $exactI)")
    // pure function of the sets, not the layout
    val r2 = Sketches.kmvSetAlgebra(a.repartition(13), b.repartition(7), "term", 256).head()
    assert(r2 == r)
  }

  test("count-min: never undercounts, conserves mass per row, merges by cell sum") {
    import graft.operators.Sketches
    val toks = docs.select(explode(split(col("text"), " ")).as("term"))
    val counters = Sketches.countMinCounters(toks, col("term"), width = 256, depth = 3)
    val truth = toks.groupBy("term").count()
    val est = Sketches.countMinEstimate(counters, truth.select("term"), "term",
      width = 256, depth = 3)
    val joined = est.join(truth, Seq("term"))
      .select(col("term"), col("est"), col("count")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"${r.getString(0)} undercounted")
    }
    // each depth row's cells sum to the total token count
    val total = toks.count()
    val rowMass = counters.groupBy("j").agg(sum("c")).collect()
    assert(rowMass.length == 3 && rowMass.forall(_.getLong(1) == total))
    // sketch of a union == cell-wise sum of the halves' sketches
    val (a, b) = (docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1))
    def cm(df: org.apache.spark.sql.DataFrame) = Sketches.countMinCounters(
      df.select(explode(split(col("text"), " ")).as("term")), col("term"), 256, 3)
    val merged = cm(a).unionByName(cm(b)).groupBy("j", "b").agg(sum("c").as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = counters.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
    // cells are a pure function of the multiset, not the layout
    val repart = Sketches.countMinCounters(toks.repartition(13), col("term"), 256, 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(repart == whole)
  }

  test("inverted index maxDf: hot terms dropped, surviving postings unchanged") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val full = graft.operators.TrainingPrep.invertedIndex(docs).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1).toSeq, r.getInt(2))).toMap
    // a cutoff between min and max df so both branches are non-trivial
    val dfs = full.values.map(_._2).toSeq
    val cut = (dfs.min + dfs.max) / 2
    assert(dfs.exists(_ > cut) && dfs.exists(_ <= cut),
      s"degenerate corpus for cutoff test: dfs in [${dfs.min},${dfs.max}]")
    val capped = graft.operators.TrainingPrep
      .invertedIndex(docs, maxDf = Some(cut.toLong)).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1).toSeq, r.getInt(2))).toMap
    assert(capped == full.filter(_._2._2 <= cut))
  }

  test("jsonl shard export: gzip files per shard, reproducible membership, pos order") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(200)
    val out = java.nio.file.Files.createTempDirectory("jsonl").toString + "/c"
    val n = graft.operators.TrainingPrep.exportJsonlShards(docs, out, 4, "s1")
    assert(n == 200L)
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    assert(new java.io.File(s"$out/shard=0").listFiles()
      .exists(_.getName.endsWith(".json.gz")), "gzip jsonl files expected")
    // read-back: same rows, and within each shard the line order is pos
    val back = spark.read.json(out)
    assert(back.count() == 200L)
    val slots = graft.operators.TrainingPrep.shardExport(docs, 4, "s1")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val shard0Ids = spark.read.json(s"$out/shard=0")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(shard0Ids == shard0Ids.sortBy(id => slots(id)._2),
      "file line order must be the deterministic pos order")
    assert(shard0Ids.forall(id => slots(id)._1 == 0L))
  }

  test("incremental near-dup: history matches drop, within-batch earlier wins, novel survives") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val hist = Seq((100L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (3L, base + " iota"),                            // near-dup of history -> dropped
      (6L, "one two three four five six seven eight"), // novel -> survives
      (9L, "one two three four five six seven nine"),  // near-dup of 6 -> dropped
      (12L, "totally different words entirely here now yes ok")) // novel
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.incrementalNearDup(hist, incoming, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(6L, 12L), s"kept $kept")
    // empty history: only the within-batch rule applies
    val noHist = graft.operators.Dedup
      .incrementalNearDup(hist.limit(0), incoming, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(noHist == Seq(3L, 6L, 12L), s"kept $noHist")
  }

  test("intra-doc chunk dedup: repeats dropped, first kept, partial tail survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c d a b x"), // chunks: [a b][a b][c d][a b][x] -> keep 1,3,5
      (2L, "p q r")              // no repeats: [p q][r] unchanged
    ).toDF("doc_id", "text")
    val got = graft.operators.TrainingPrep.dedupRepeatedChunks(docs, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b c d x", s"got ${got(1L)}")
    assert(got(2L) == "p q r")
  }

  test("BPE train: classic corpus learns the hand-computable merges in order") {
    import spark.implicits._
    // Sennrich's example vocab {low:5, lower:2, newest:6, widest:3}:
    // merge 1 = (e,s) 9 (newest+widest), merge 2 = (es,t</w>) 9,
    // merge 3 = (l,o) 7 (low+lower)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = graft.operators.Bpe.train(docs, numMerges = 3)
    assert(merges.map(m => (m.rank, m.left, m.right, m.pair_count)) ==
      Seq((0, "e", "s", 9L), (1, "es", "t</w>", 9L), (2, "l", "o", 7L)),
      s"got $merges")
  }

  test("BPE segment: learned merges replay on unseen words; counts match") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val train = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = graft.operators.Bpe.train(train, numMerges = 3)
    // 'lowest' is UNSEEN: l o w e s t</w> -(e,s)-> l o w es t</w>
    // -(es,t</w>)-> l o w est</w> -(l,o)-> lo w est</w>
    val seg = graft.operators.Bpe
      .segment(Seq((1L, "lowest newest")).toDF("doc_id", "text"), merges)
      .collect()(0).getSeq[String](1).toSeq
    assert(seg == Seq("lo", "w", "est</w>", "n", "e", "w", "est</w>"), s"got $seg")
    val counts = graft.operators.Bpe
      .tokenCounts(Seq((1L, "lowest newest")).toDF("doc_id", "text"), merges)
      .collect()(0).getLong(1)
    assert(counts == 7L)
    // zero merges degrade to characters + </w>
    val raw = graft.operators.Bpe
      .segment(Seq((2L, "ab")).toDF("doc_id", "text"), Seq.empty)
      .collect()(0).getSeq[String](1).toSeq
    assert(raw == Seq("a", "b</w>"))
  }

  test("semantic dedup: transitive chains keep min id, singletons survive") {
    import spark.implicits._
    // chain: 10 ~ 11 ~ 12 (neighbors ~5.7° apart, cos ~0.995; ends 11.4°,
    // cos ~0.98 — all above tau, but transitivity is what collapses them);
    // 20 is orthogonal to the chain, 21 nearly-opposite: both survive
    def dir(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    val emb = Seq(
      (10L, dir(0)), (11L, dir(5.7)), (12L, dir(11.4)),
      (20L, Array(0f, 0f, 1f, 0f)), (21L, Array(0f, 0f, -1f, 0.2f)))
      .toDF("vec_id", "embedding")
    val kept = graft.operators.Similarity.semanticDedup(emb, 0.9)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(10L, 20L, 21L), s"kept $kept")
  }

  test("semantic dedup: maxBucket guard excises a degenerate constant-embedding mass") {
    import spark.implicits._
    // encoder-failure shape: 10 IDENTICAL vectors (every SRP key equal in
    // every table -> one m=10 bucket per table) + 2 distinct singletons
    val const = Array(1f, 0f, 0f, 0f)
    val emb = ((0L until 10L).map(i => (i, const)) ++
      Seq((20L, Array(0f, 1f, 0f, 0f)), (21L, Array(0f, 0f, 1f, 0f))))
      .toDF("vec_id", "embedding")
    val unguarded = graft.operators.Similarity.semanticDedup(emb, 0.9)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(unguarded == Seq(0L, 20L, 21L), s"unguarded kept $unguarded")
    // cap below the degenerate bucket size: its pairs are never generated,
    // so the constant mass passes through undeduped — the documented trade
    val guarded = graft.operators.Similarity
      .semanticDedup(emb, 0.9, maxBucket = Some(3L))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(guarded == (0L until 10L) ++ Seq(20L, 21L), s"guarded kept $guarded")
  }

  test("incremental near-dup: an id reused across history and batch keeps its own sets") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    // history doc 5 is `base`; the INCOMING doc 5 is unrelated text. A
    // merged (union-keyed) verification set would dilute doc 7's Jaccard
    // against history-5 below threshold (6/13 < 0.5) and wrongly keep it.
    val hist = Seq((5L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (5L, "completely unrelated replacement words live right here today"),
      (7L, base + " iota"))
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.incrementalNearDup(hist, incoming, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(5L), s"kept $kept — 7 is a near-dup of history-5 (6/7 >= 0.5)")
  }

  test("bm25: closed-form score on a 3-doc corpus, tie cut deterministic") {
    import spark.implicits._
    // doc 1: query term 'a' twice of 4 tokens; doc 2: 'a' once of 2;
    // doc 3: no query terms (must not appear)
    val docs = Seq((1L, "a x a y"), (2L, "a z"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val got = graft.operators.TrainingPrep.bm25(docs, Seq("a"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got.map(_._1) == Seq(1L, 2L), "only matching docs, best first")
    val (k1, b, n, df, avgdl) = (1.2, 0.75, 3.0, 2.0, 10.0 / 3)
    val idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
    def s(tf: Double, dl: Double) =
      BigDecimal(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(1L -> s(2, 4), 2L -> s(1, 2)), s"got $got")
  }

  test("unigram surprisal: uniform corpus scores exactly log2(vocab) bits") {
    import spark.implicits._
    // 4 equal-count terms -> p = 1/4 everywhere -> 2 bits/token for all
    val docs = Seq((1L, "a b c d"), (2L, "d c b a")).toDF("doc_id", "text")
    val got = graft.operators.TrainingPrep.unigramSurprisal(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == Seq((1L, 4L, 2.0), (2L, 4L, 2.0)), s"got $got")
    // a skewed doc scores above a template doc built from the common term
    val skew = Seq((1L, "t t t t t t rare"), (2L, "t t t t t t t")).toDF("doc_id", "text")
    val s2 = graft.operators.TrainingPrep.unigramSurprisal(skew)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(1L) > s2(2L), s"rare-token doc must be more surprising: $s2")
  }

  test("dsir: target-like docs outscore off-target docs; short docs weight 0") {
    // target domain speaks in 'alpha beta' bigrams; off-target in 'zig zag'
    val raw = Seq(
      (1L, Seq.fill(30)("alpha beta").mkString(" ")), // pure target voice
      (2L, Seq.fill(30)("zig zag").mkString(" ")),    // pure off-target
      (3L, Seq.fill(15)("alpha beta") ++ Seq.fill(15)("zig zag") mkString " "),
      (4L, "solo")                                    // no bigrams at all
    ).toDF("doc_id", "text")
    val target = Seq((100L, Seq.fill(50)("alpha beta").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.operators.TrainingPrep
      .dsirLogWeights(raw, target, buckets = 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2,
      s"weight order must follow target resemblance: $got")
    assert(got(4L) == ((0L, 0.0)), s"bigram-less doc keeps weight 0: $got")
    // partitioning must not change any (rounded) weight
    val re = graft.operators.TrainingPrep
      .dsirLogWeights(raw.repartition(7), target.repartition(3), buckets = 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(re == got)
  }

  test("streaming near-dup ingest: matches the batch twin, replay is a no-op") {
    import graft.operators.Dedup
    import graft.streaming.EventsStream
    val root = java.nio.file.Files.createTempDirectory("graft-snd")
    val landing = root.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    val target = root.resolve("accepted").toString
    val ckpt = root.resolve("ckpt").toString
    val base = (0 until 40).map(j => s"w$j")
    val alt = (0 until 40).map(j => s"v$j")
    val b1 = Seq(1L -> base.mkString(" "),
      2L -> base.map(_ + "x").mkString(" "),
      3L -> base.mkString(" "))                  // dup of 1 within batch
    val b2 = Seq(10L -> base.map(_ + "x").mkString(" "), // dup of history 2
      11L -> alt.mkString(" "),
      12L -> alt.mkString(" "))                  // dup of 11 within batch
    def land(batch: Seq[(Long, String)], tag: String): Unit = {
      val stage = root.resolve(s"stage-$tag")
      batch.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, landing.resolve(s"$tag.parquet"))
    }
    val schema = b1.toDF("doc_id", "text").schema
    def stream = spark.readStream.schema(schema).parquet(landing.toString)
    land(b1, "b1")
    EventsStream.streamingNearDupIngest(spark, stream, 0.9, target, ckpt)
    land(b2, "b2")
    EventsStream.streamingNearDupIngest(spark, stream, 0.9, target, ckpt)
    def acceptedIds() = spark.read.parquet(target)
      .select("doc_id").as[Long].collect().toSet
    assert(acceptedIds() == Set(1L, 2L, 11L))
    // batch twin: the same two batches through the batch operator
    val b1df = b1.toDF("doc_id", "text"); val b2df = b2.toDF("doc_id", "text")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val k1 = Dedup.incrementalNearDup(empty, b1df, 0.9)
    val k2 = Dedup.incrementalNearDup(k1, b2df, 0.9)
    val twin = (k1.select("doc_id").as[Long].collect() ++
      k2.select("doc_id").as[Long].collect()).toSet
    assert(acceptedIds() == twin, "stream admission must equal the batch twin")
    // fresh-checkpoint full replay: every row anti-joins away by id or
    // re-drops against the grown history — the table must not change
    EventsStream.streamingNearDupIngest(spark, stream, 0.9, target,
      root.resolve("ckpt2").toString)
    assert(acceptedIds() == twin)
    assert(spark.read.parquet(target).count() == 3,
      "replay must not append duplicate rows")
  }

  test("gopher rules: each planted violation fails exactly its rule") {
    import graft.operators.TextAnalysis
    val good = (Seq("the", "of", "and") ++ Seq.fill(60)("sensible")).mkString(" ")
    val docs = Seq(
      1L -> good,                                      // passes everything
      2L -> "the of short",                            // too few words
      3L -> (Seq("the", "of") ++ Seq.fill(60)("a")).mkString(" "),  // mean len < 3
      4L -> (Seq("the", "of") ++ Seq.fill(30)("word") ++ Seq.fill(30)("#")).mkString(" "), // symbols
      5L -> (Seq.fill(30)("- bullet line") ++ Seq("the of and filler " * 15)).mkString("\n"), // bullets
      6L -> Seq.fill(60)("zork").mkString(" ")         // no stopwords
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("g.r_words"), col("g.r_wordlen"),
        col("g.r_symbol"), col("g.r_bullet"), col("g.r_stop"), col("g.keep"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6))).toMap
    assert(got(1L) == ((true, true, true, true, true, true)), s"good doc: ${got(1L)}")
    assert(!got(2L)._1 && !got(2L)._6, s"word count: ${got(2L)}")
    assert(!got(3L)._2 && !got(3L)._6, s"mean length: ${got(3L)}")
    assert(!got(4L)._3 && !got(4L)._6, s"symbol ratio: ${got(4L)}")
    assert(!got(5L)._4 && !got(5L)._6, s"bullet fraction: ${got(5L)}")
    assert(!got(6L)._5 && !got(6L)._6, s"stopwords: ${got(6L)}")
  }

  test("ccnet buckets: equal bands, score-monotone, partition-invariant") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val got = graft.operators.TrainingPrep.perplexityBuckets(docs, nBuckets = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L))
    assert(sizes.values.max - sizes.values.min <= 1,
      s"equal-population bands expected: $sizes")
    // every head score <= every middle score <= every tail score
    val maxByB = got.groupBy(_._3).view.mapValues(_.map(_._2).max).toMap
    val minByB = got.groupBy(_._3).view.mapValues(_.map(_._2).min).toMap
    assert(maxByB(0L) <= minByB(1L) && maxByB(1L) <= minByB(2L))
    val re = graft.operators.TrainingPrep
      .perplexityBuckets(docs.repartition(11), nBuckets = 3, partitions = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    assert(re.sortBy(_._1).sameElements(got.sortBy(_._1)),
      "bucket assignment must not depend on physical partitioning")
  }

  test("mmrRerank: picks the best hit first, then diversity over a near-duplicate") {
    import graft.operators.Similarity
    // id1/id2 are exact duplicates (highest relevance); id3 is less
    // relevant but nearly orthogonal to them — MMR must take 1 then 3.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.5f, 0.0f, 0.866f, 0.0f))).toDF("vec_id", "embedding")
    val sel = Similarity.mmrRerank(emb, 0L, poolK = 3, selectK = 2)
      .collect()
    assert(sel.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L))
    assert(sel.head.getAs[Long]("rnk") == 1L)
    assert(sel.head.getAs[Double]("max_sim_sel") == 0.0,
      "round 1 has no selected set; empty-max is 0 by convention")
    assert(sel(1).getAs[Double]("mmr") < sel(1).getAs[Double]("rel"))
  }

  test("rendezvousShard: stable under growth — movers land only in the new shard") {
    import graft.operators.Layout
    val ids = spark.range(1000).toDF("doc_id")
    val a = ids.select(
      Layout.rendezvousShard(col("doc_id"), 8).as("a8"),
      Layout.rendezvousShard(col("doc_id"), 9).as("a9"))
      .collect()
    assert(a.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    assert(a.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 9))
    val movers = a.filter(r => r.getInt(0) != r.getInt(1))
    assert(movers.forall(_.getInt(1) == 8),
      "HRW: a key moves only when the NEW shard wins its hash race")
    val frac = movers.length / 1000.0
    assert(frac > 0.05 && frac < 0.20, s"expected ~1/9 movers, got $frac")
  }

  test("skipgramPairs: window-2 positives plus one deterministic negative per position") {
    import graft.operators.TrainingPrep
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    val rows = TrainingPrep.skipgramPairs(d).collect()
    val pos = rows.filter(_.getAs[Long]("label") == 1L)
    val neg = rows.filter(_.getAs[Long]("label") == 0L)
    assert(pos.length == 6, "each of 3 positions pairs with its in-bounds ±2")
    assert(neg.length == 3, "one hashed negative per position")
    assert(neg.forall(r => Seq("a", "b", "c").contains(r.getAs[String]("context"))),
      "negatives are drawn from the document itself")
  }

  test("frequentTriples: the repeated basket triple tops the ranking") {
    import graft.operators.Ranking
    val rows = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
      (2L, "c"), (3L, "a"), (3L, "b"), (3L, "d")).toDF("g", "i")
    val top = Ranking.frequentTriples(rows, col("g"), col("i"), topK = 2)
      .collect()
    assert(top.head.getString(0) == "a" && top.head.getString(1) == "b" &&
      top.head.getString(2) == "c")
    assert(top.head.getAs[Long]("support") == 2L)
  }

  test("phraseSearchTopBigram: index probe count equals the election count") {
    import graft.operators.TrainingPrep
    val d = Seq((1L, "x y x y"), (2L, "x y")).toDF("doc_id", "text")
    val r = TrainingPrep.phraseSearchTopBigram(d).collect().head
    assert(r.getString(0) == "x" && r.getString(1) == "y")
    assert(r.getAs[Long]("n_occurrences") == 3L)
    assert(r.getAs[Long]("n_docs") == 2L)
  }

  test("dbscan: planted core cluster, a one-neighbor border point, and noise") {
    import graft.operators.Clustering
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.96f, 0.28f, 0.0f)),
      (2L, Array(0.96f, -0.28f, 0.0f)), (3L, Array(0.96f, 0.0f, 0.28f)),
      (4L, Array(0.81f, 0.0f, -0.5864f)), (5L, Array(0.0f, 0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val m = Clustering.dbscan(emb, threshold = 0.8, minPts = 3).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    (0L to 3L).foreach(i => assert(m(i) == (("core", 0L)), s"id $i: ${m(i)}"))
    assert(m(4L) == (("border", 0L)),
      "one core neighbor, degree below minPts -> border of that cluster")
    assert(m(5L) == (("noise", -1L)))
  }

  test("bleu2Pairs: exact copy scores 1; bag-of-words shuffle keeps p1 but loses p2") {
    import graft.operators.Bleu
    val d = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "w6 w4 w2 w1 w3 w5")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val m = Bleu.bleu2Pairs(d, pairs).collect()
      .map(r => r.getLong(1) -> r).toMap
    assert(m(2L).getAs[Double]("bleu2") == 1.0)
    assert(m(2L).getAs[Double]("bp") == 1.0)
    assert(m(3L).getAs[Double]("p1") == 1.0,
      "a permutation preserves every unigram")
    assert(m(3L).getAs[Double]("p2") < 0.5,
      "a permutation destroys the bigram sequences")
  }

  test("textRank keywords: the co-occurrence hub outranks its satellites") {
    val d = Seq((1L, "hub x hub y hub z")).toDF("doc_id", "text")
    val rows = graft.operators.TextRank.keywords(d, rounds = 5, topK = 3)
      .orderBy("pos").collect()
    assert(rows.head.getAs[String]("w") == "hub",
      "degree-3 center must carry the highest rank")
    assert(rows.head.getAs[Double]("score") > rows(1).getAs[Double]("score"))
  }

  test("kneserNeyBigram: hand-computed interpolated probability on a 2-type corpus") {
    // train "a b a b": c(ab)=2, c(ba)=1; cv(a)=2, N1+(a.)=1; N1+(.b)=1; B=2
    // P(b|a) = (2-0.75)/2 + 0.75*(1/2)*(1/2) = 0.8125
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val test0 = Seq((2L, "a b"), (3L, "zz qq")).toDF("doc_id", "text")
    val r = graft.operators.KneserNey.bigramScore(train, test0).collect().head
    assert(r.getAs[Long]("n_bigram_types") == 2L)
    assert(r.getAs[Long]("n_scored") == 1L)
    assert(r.getAs[Long]("n_skipped_oov") == 1L)
    val want = math.round(math.log(0.8125) / math.log(2.0) * 1e6) / 1e6
    assert(r.getAs[Double]("avg_log2p") == want)
  }

  test("jlDistortion: unit-basis corpus concentrates ratios near 1 with positive support") {
    import graft.operators.Similarity
    val basis = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val r = Similarity.jlDistortion(basis, m = 16, auditIds = 10).collect().head
    assert(r.getAs[Long]("n_pairs") == 45L)
    assert(r.getAs[Double]("min_ratio") > 0.0)
    val avg = r.getAs[Double]("avg_ratio")
    assert(avg > 0.4 && avg < 2.5, s"JL mean ratio should sit near 1, got $avg")
  }
}
