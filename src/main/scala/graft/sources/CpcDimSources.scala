package graft.sources

import graft.functions.CpcSymbolOps.normalizeSymbol
import javax.xml.parsers.DocumentBuilderFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.w3c.dom.Element

/** Dimension-table ingestion for the three CPC auxiliary datasets
  * (SURVEY §2.1 S6-S8). Each loader reproduces the reference's
  * order-sensitive dict semantics (later rows overwrite earlier ones for the
  * same symbol — SURVEY §2.5 J4 / §2.6 A5) explicitly via a row_number window
  * over the (member, line) position, since Spark gives no implicit ordering.
  *
  * SCALE: dims are small relative to facts (CPC universe ≈ 260k symbols)
  * and each ships as ONE zip archive, which `binaryFile` reads as one
  * unsplittable file — one partition, one decode task. `keepLast` therefore
  * `coalesce(1)`s in front of its window: the single partition already
  * satisfies the window's clustering, so the keep-last adds no exchange and
  * no second stage, and no parallelism is lost. Downstream validation
  * broadcasts these frames, so the fact table never shuffles either; a dim
  * is one job, its broadcast build.
  */
object CpcDimSources {

  /** Keep only the last row per normalized symbol in (member, line) order.
    * `df` comes from one archive, so `coalesce(1)` keeps its single task and
    * reports `SinglePartition`, which spares the window a hash exchange. */
  private def keepLast(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("memberIdx").desc, col("lineNo").desc)
    df.coalesce(1).withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn", "memberIdx", "lineNo")
  }

  /** Symbol-list CSV inside `CPCSymbolList{v}.zip` (reference:
    * src/cpc_etl/validator.py:71-103): header skipped per member, naive
    * comma split, column 0 = symbol (all whitespace stripped), status = last
    * column when the row has >6 columns else "UNKNOWN", `published` recoded
    * to "ACTIVE". Returns (symbol, validity_status). */
  def symbolList(spark: SparkSession, zipPath: String): DataFrame = {
    val lines = ZipTextSource.lines(spark, zipPath,
      m => m.contains("CPCSymbolList") && m.endsWith(".csv"))
    val parts = split(trim(col("line")), ",")
    val rawStatus = when(size(parts) > lit(6), element_at(parts, -1)).otherwise(lit("UNKNOWN"))
    keepLast(lines.toDF()
      .where(col("lineNo") > 0) // skip header (validator.py:86)
      .select(
        normalizeSymbol(element_at(parts, 1)).as("symbol"),
        when(rawStatus === "published", "ACTIVE").otherwise(rawStatus).as("validity_status"),
        col("memberIdx"), col("lineNo"))
      .where(col("symbol") =!= ""))
  }

  /** Validity TSV inside `CPCValidityFile{v}.zip` (validator.py:105-135):
    * header skipped, tab split, arity >= 2 required; ACTIVE iff valid_from
    * nonempty and valid_to empty. Returns (symbol, validity_status). */
  def validityFile(spark: SparkSession, zipPath: String): DataFrame = {
    val lines = ZipTextSource.lines(spark, zipPath, _.endsWith(".txt"))
    val parts = split(trim(col("line")), "\t")
    val validFrom = trim(element_at(parts, 2))
    val validTo = when(size(parts) > 2, trim(element_at(parts, 3))).otherwise(lit(""))
    keepLast(lines.toDF()
      .where(col("lineNo") > 0 && size(parts) >= 2)
      .select(
        normalizeSymbol(element_at(parts, 1)).as("symbol"),
        when(validFrom =!= "" && validTo === "", "ACTIVE").otherwise("INACTIVE").as("validity_status"),
        col("memberIdx"), col("lineNo")))
  }

  /** child→parent edges from nested `<classification-item>` /
    * `<classification-symbol>` elements in `CPCSchemeXML{v}.zip`
    * (validator.py:137-174). DOM-parsed per member on executors; emission
    * order is the reference's depth-first traversal so keep-last reproduces
    * its dict-overwrite behavior. Returns (symbol, parent_symbol). */
  def schemeEdges(spark: SparkSession, zipPath: String): DataFrame = {
    import spark.implicits._
    val edges = ZipTextSource.members(spark, zipPath, _.endsWith(".xml"))
      .flatMap { m =>
        val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
          .parse(new java.io.ByteArrayInputStream(m.content))
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, Long)]
        var seq = 0L
        def childElems(e: Element, tag: String): Seq[Element] = {
          val nl = e.getChildNodes
          (0 until nl.getLength).map(nl.item).collect {
            case el: Element if el.getTagName == tag => el
          }
        }
        def walk(e: Element, parent: Option[String]): Unit = {
          val symText = childElems(e, "classification-symbol").headOption
            .flatMap(s => Option(s.getTextContent)).filter(_.nonEmpty)
          val here = symText.map(t => t.split("\\s+").mkString("")) // "".join(t.split())
          here.foreach { s =>
            parent.foreach { p => out += ((s, p, 0, { seq += 1; seq })) }
          }
          val next = here.orElse(parent)
          childElems(e, "classification-item").foreach(walk(_, next))
        }
        walk(doc.getDocumentElement, None)
        out.map { case (s, p, mi, ln) => (m.file, s, p, m.memberIdx, ln) }
      }
      .toDF("file", "symbol", "parent_symbol", "memberIdx", "lineNo")
    keepLast(edges).drop("file")
  }
}
