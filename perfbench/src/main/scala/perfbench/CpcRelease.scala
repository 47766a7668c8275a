package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

import graft.operators.{CpcPipeline, CpcTitleParser, CpcValidator}
import graft.sources.{CpcDimSources, ZipTextSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** The paper's monthly release: two generated months of the four CPC bulk
  * zips through `CpcPipeline.run` — a clean month that publishes, and a
  * month with planted defects that the gate blocks. */
final class CpcRelease extends Workload {
  import CpcRelease._

  val name = "cpc_release"
  val steps = Seq("clean_month", "defect_month")

  /** Symbols per month; the scheme XML gets one member per subclass, about
    * 200 symbols each, as the real release splits it. */
  val TargetSymbols = 12000

  private var months: Seq[Month] = Nil

  def records: Long = months.map(_.total).sum
  def inputBytes: Long = months.map(_.bytes).sum
  def inputSizes: Map[String, Any] = months.map(m => m.version -> Map(
    "symbols" -> m.total, "title_lines" -> m.titleLines,
    "planted_invalid" -> m.invalid.size, "zip_bytes" -> m.zipBytes)).toMap

  private val Sections = "ABCDEFGHY"
  private val TitleWords = Seq("apparatus", "method", "device", "treatment",
    "composition", "system", "control", "material", "process", "means",
    "arrangement", "circuit", "structure", "vehicle", "signal", "compound",
    "container", "machine", "tool", "layer", "sensor", "fluid", "power")

  private def title(r: SplittableRandom, upper: Boolean): String = {
    val ws = Seq.fill(3 + r.nextInt(6))(TitleWords(r.nextInt(TitleWords.size)))
    if (upper) ws.mkString(" ").toUpperCase
    else (ws.head.capitalize +: ws.tail).mkString(" ")
  }

  private def distinct(r: SplittableRandom, n: Int, universe: IndexedSeq[String]): Seq[String] = {
    val pool = ArrayBuffer.from(universe)
    (0 until math.min(n, pool.size)).map { _ =>
      val i = r.nextInt(pool.size); val x = pool(i); pool.remove(i); x
    }.sorted
  }

  /** Sections, classes, subclasses, main groups and subgroups, in title
    * list order, each with its parent ("" for a section). */
  private def hierarchy(r: SplittableRandom): Seq[Sym] = {
    val nSub = math.max(Sections.length, TargetSymbols / 200)
    val out = ArrayBuffer.empty[Sym]
    val twoDigits = (1 to 99).map(i => f"$i%02d")
    val letters = "ABCDEFGHJKLMNPQRSTUVWXYZ".map(_.toString)
    Sections.zipWithIndex.foreach { case (s, si) =>
      val sec = s.toString
      out += Sym(sec, None, title(r, upper = true), "")
      val subs = nSub / Sections.length + (if (si < nSub % Sections.length) 1 else 0)
      val classes = distinct(r, math.max(1, subs / 3), twoDigits).map(sec + _)
      val perClass = classes.indices.map(i => subs / classes.size + (if (i < subs % classes.size) 1 else 0))
      classes.zip(perClass).foreach { case (cls, n) =>
        out += Sym(cls, None, title(r, upper = true), sec)
        distinct(r, n, letters).map(cls + _).foreach { sub =>
          out += Sym(sub, None, title(r, upper = true), cls)
          val groups = distinct(r, 12 + r.nextInt(10), (1 to 999).map(_.toString))
            .map(_.toInt).sorted
          groups.foreach { g =>
            val main = s"$sub$g/00"
            out += Sym(main, Some(0), title(r, upper = false), sub)
            val nSubgroups = 4 + r.nextInt(12)
            var lastAtLevel = Map(0 -> main)
            (1 to nSubgroups).foreach { k =>
              val lvl = 1 + r.nextInt(math.min(3, lastAtLevel.keys.max + 1))
              val code = f"$sub$g/${k * 2}%02d"
              out += Sym(code, Some(lvl), title(r, upper = false), lastAtLevel(lvl - 1))
              lastAtLevel = lastAtLevel.filter(_._1 < lvl) + (lvl -> code)
            }
          }
        }
      }
    }
    out.toSeq
  }

  private def zip(path: Path, members: Seq[(String, String)]): Long = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    members.foreach { case (m, content) =>
      zos.putNextEntry(new ZipEntry(m)); zos.write(content.getBytes(UTF_8)); zos.closeEntry()
    }
    zos.close()
    Disk.write(path, bos.toByteArray)
    bos.size().toLong
  }

  /** The CPC XML writes a symbol with a space between subclass and group. */
  private def spaced(code: String): String =
    if (code.contains("/")) code.substring(0, 4) + " " + code.substring(4) else code

  private def writeMonth(in: Path, version: String, syms: Seq[Sym],
      r: SplittableRandom, plantDefects: Boolean): Month = {
    val dir = in.resolve(version)
    val groupSyms = syms.filter(_.level.isDefined).map(_.code).toIndexedSeq
    // symbols that only the symbol list rates (no validity row): its
    // keep-last order decides their status
    val noValidity = distinct(r, groupSyms.size / 20, groupSyms).toSet
    val slTraps = distinct(r, groupSyms.size / 100, noValidity.toIndexedSeq).toSet
    val vfTraps = distinct(r, groupSyms.size / 100,
      groupSyms.filterNot(noValidity)).toSet

    // planted defects: a quarter are bad-format title lines, the rest are
    // split over three kinds on distinct group symbols
    val nDefects = if (plantDefects) 20 + r.nextInt(17) else 0
    val pool = groupSyms.filterNot(c => noValidity(c) || vfTraps(c))
    val picked = distinct(r, nDefects * 3 / 4, pool)
    val (notListed, inactive, deleted) = (
      picked.indices.filter(_ % 3 == 0).map(picked).toSet,
      picked.indices.filter(_ % 3 == 1).map(picked).toSet,
      picked.indices.filter(_ % 3 == 2).map(picked).toSet)
    val badLetters = "IJKLMNOPQRSTUVWXZ"
    val badFormat = (0 until nDefects - picked.size).map { i =>
      val l = badLetters.charAt(r.nextInt(badLetters.length))
      val sec = Sections.charAt(r.nextInt(Sections.length))
      (sec, f"$l${10 + i}%02dQ${100 + r.nextInt(800)}/00")
    }.distinctBy(_._2)

    // title list: one member per section, with blank and non-matching
    // lines the parser must drop
    var titleLines = 0L
    val titleMembers = Sections.map { s =>
      val b = new StringBuilder
      def line(l: String): Unit = { b ++= l; b += '\n'; titleLines += 1 }
      syms.filter(_.code.charAt(0) == s).foreach { sym =>
        sym.level match {
          case None =>
            if (sym.code.length == 4) { line(""); line("Note: see the scheme for references") }
            line(s"${sym.code} ${sym.title}")
          case Some(l) => line(s"${sym.code} $l ${sym.title}")
        }
      }
      badFormat.filter(_._1 == s).foreach { case (_, c) => line(s"$c 0 ${title(r, upper = false)}") }
      s"cpc-section-$s-$version.txt" -> b.toString
    }
    val titleBytes = zip(dir.resolve(s"CPCTitleList$version.zip"), titleMembers)

    // symbol list: `published` rows; traps list a withdrawn row first
    // that a later row overrides; defects are absent or `deleted`
    val sl = new StringBuilder("symbol,origin,level,kind,notes,flags,status\n")
    def slRow(code: String, status: String, i: Int): Unit = {
      val shown = if (i % 7 == 3) spaced(code) else code
      sl ++= s"$shown,cpc,${i % 5},g,n,f,$status\n"
    }
    slTraps.toSeq.sorted.zipWithIndex.foreach { case (c, i) => slRow(c, "withdrawn", i) }
    syms.zipWithIndex.foreach { case (sym, i) =>
      if (!notListed(sym.code)) slRow(sym.code, if (deleted(sym.code)) "deleted" else "published", i)
    }
    val slBytes = zip(dir.resolve(s"CPCSymbolList$version.zip"),
      Seq(s"CPCSymbolList$version.csv" -> sl.toString))

    // validity file: active rows; traps retire first and reactivate later,
    // defects are reactivated first and retired later
    val vf = new StringBuilder("symbol\tvalid_from\tvalid_to\n")
    vfTraps.toSeq.sorted.foreach(c => vf ++= s"$c\t2001-01-01\t2012-01-01\n")
    syms.foreach { sym =>
      if (!noValidity(sym.code) && !deleted(sym.code)) vf ++= s"${sym.code}\t2013-01-01\t\n"
    }
    inactive.toSeq.sorted.foreach(c => vf ++= s"$c\t2013-01-01\t2024-06-30\n")
    val vfBytes = zip(dir.resolve(s"CPCValidityFile$version.zip"),
      Seq(s"cpc_validity_$version.txt" -> vf.toString))

    // scheme XML: one member per subclass, nesting section > class >
    // subclass > groups by level
    val children = syms.groupBy(_.parent)
    val schemeMembers = syms.filter(s => s.level.isEmpty && s.code.length == 4).map { sub =>
      val b = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<class-scheme>\n")
      def open(code: String): Unit =
        b ++= s"<classification-item><classification-symbol>${spaced(code)}</classification-symbol>\n"
      def close(): Unit = b ++= "</classification-item>\n"
      def walk(code: String): Unit = {
        open(code); children.getOrElse(code, Nil).foreach(c => walk(c.code)); close()
      }
      open(sub.code.substring(0, 1)); open(sub.code.substring(0, 3))
      walk(sub.code)
      close(); close()
      b ++= "</class-scheme>\n"
      s"cpc-scheme-${sub.code}-$version.xml" -> b.toString
    }
    val schemeBytes = zip(dir.resolve(s"CPCSchemeXML$version.zip"), schemeMembers)

    val warn = Map(
      "format" -> Seq("Invalid symbol format", "Symbol not found in symbol list",
        "Symbol status: UNKNOWN", "Symbol not found in schema hierarchy"),
      "listed" -> Seq("Symbol not found in symbol list"),
      "inactive" -> Seq("Symbol status: INACTIVE"),
      "deleted" -> Seq("Symbol status: deleted"))
    val invalid = (badFormat.map(_._2 -> warn("format")) ++
      notListed.map(_ -> warn("listed")) ++ inactive.map(_ -> warn("inactive")) ++
      deleted.map(_ -> warn("deleted"))).sortBy(_._1)
    Month(version, dir, titleLines, syms.size + badFormat.size.toLong, invalid,
      Map("title" -> titleBytes, "symbol_list" -> slBytes, "validity" -> vfBytes,
        "scheme_xml" -> schemeBytes))
  }

  def generate(spark: SparkSession, in: Path, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    val syms = hierarchy(r)
    months = Seq(writeMonth(in, "202501", syms, r, plantDefects = false),
      writeMonth(in, "202502", syms, r, plantDefects = true))
  }

  private def checkReport(m: Month, rep: CpcPipeline.Report): Option[String] =
    Checks.eq("total", rep.total, m.total)
      .orElse(Checks.eq("invalid", rep.invalid, m.invalid.size.toLong))
      .orElse(Checks.eq("first invalid", rep.firstInvalid, m.invalid.take(10)))

  private def checkPublished(spark: SparkSession, m: Month, out: Path): Option[String] = {
    val dir = out.resolve(m.version).toString
    val v = m.version
    Checks.eq("published parquet rows",
        spark.read.parquet(s"$dir/cpc_schema_$v.parquet").count(), m.total)
      .orElse(Checks.eq("published csv rows",
        spark.read.option("header", true).csv(s"$dir/cpc_schema_$v.csv").count(), m.total))
      .orElse(Checks.eq("snapshot partition rows",
        spark.read.parquet(s"$dir/cpc_schema_snapshots")
          .where(s"cpc_schema_date = '$v'").count(), m.total))
  }

  private def register(spark: SparkSession, checks: Checks, m: Month, out: Path,
      rep: CpcPipeline.Report): Unit = {
    val clean = m.invalid.isEmpty
    checks.add(if (clean) "clean_month" else "defect_month") {
      checkReport(m, rep).orElse {
        if (clean) checkPublished(spark, m, out)
        else Checks.eq("blocked month published",
          Files.exists(out.resolve(m.version).resolve(s"cpc_schema_${m.version}.parquet")), false)
      }
    }
  }

  def pass(spark: SparkSession, out: Path, t: Tracer, checks: Checks): Unit =
    months.foreach { m =>
      val rep =
        if (!t.on) CpcPipeline.run(spark, m.titleZip.toString, m.dir.toString,
          m.version, out.resolve(m.version).toString)
        else tracedRun(spark, m, out.resolve(m.version).toString, t)
      register(spark, checks, m, out, rep)
    }

  /** `CpcPipeline.run` decomposed into its public calls, each in a span
    * that materializes its output. The publish span performs the writes of
    * `run`'s publish branch. */
  private def tracedRun(spark: SparkSession, m: Month, outDir: String, t: Tracer): CpcPipeline.Report = {
    val dir = m.dir.toString
    val v = m.version
    val lines = t.span("sources.zip_lines") {
      ZipTextSource.lines(spark, m.titleZip.toString, _.startsWith("cpc-section-"))
        .toDF().localCheckpoint()
    }
    val titles = t.span("operators.title_parse") { CpcTitleParser.parseLines(lines).localCheckpoint() }
    val sl = t.span("sources.symbol_list") {
      CpcDimSources.symbolList(spark, s"$dir/CPCSymbolList$v.zip").localCheckpoint()
    }
    val vf = t.span("sources.validity") {
      CpcDimSources.validityFile(spark, s"$dir/CPCValidityFile$v.zip").localCheckpoint()
    }
    val ed = t.span("sources.scheme_edges") {
      CpcDimSources.schemeEdges(spark, s"$dir/CPCSchemeXML$v.zip").localCheckpoint()
    }
    val validated = t.span("operators.validate") {
      CpcValidator.validate(titles, sl, vf, ed).localCheckpoint()
    }
    val rep = t.span("operators.report") { CpcPipeline.report(validated) }
    if (rep.invalid == 0) t.span("sources.publish") {
      val stamped = titles.withColumn("cpc_schema_date", lit(v))
      stamped.write.mode("overwrite").parquet(s"$outDir/cpc_schema_$v.parquet")
      stamped.write.mode("overwrite").option("header", true).csv(s"$outDir/cpc_schema_$v.csv")
      stamped.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("cpc_schema_date").parquet(s"$outDir/cpc_schema_snapshots")
    }
    Seq(lines, titles, sl, vf, ed, validated).foreach(Frames.release)
    rep
  }

  def extras(spark: SparkSession, out: Path, checks: Checks,
      spans: Map[String, Map[String, Double]]): Map[String, Double] = {
    def self(s: String) = spans.get(s).map(_("self_s")).getOrElse(0.0)
    Map(
      "sources.zip_lines.mb_per_s" ->
        months.map(_.zipBytes("title")).sum / 1048576.0 / self("sources.zip_lines"),
      "operators.title_parse.ns_per_row" ->
        self("operators.title_parse") * 1e9 / months.map(_.titleLines).sum)
  }
}

object CpcRelease {
  /** A symbol in title-list order; `parent` is "" for a section. */
  final case class Sym(code: String, level: Option[Int], title: String, parent: String)

  /** One generated month and its ground truth. */
  final case class Month(version: String, dir: Path, titleLines: Long,
      total: Long, invalid: Seq[(String, Seq[String])], zipBytes: Map[String, Long]) {
    def titleZip: Path = dir.resolve(s"CPCTitleList$version.zip")
    def bytes: Long = zipBytes.values.sum
  }
}
