package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs with their ground truth, a pass
  * over the engine's public API, and the checks of its outputs. */
trait Workload {
  def name: String

  /** The checked operations of one pass, in order. */
  def steps: Seq[String]

  /** Writes the seeded inputs under `in` and keeps their ground truth.
    * Untimed; the pass sees only the written files. */
  def generate(spark: SparkSession, in: Path, seed: Long): Unit

  /** Input records one pass reads (symbols, docs or pages). */
  def records: Long

  /** Input bytes one pass reads. */
  def inputBytes: Long

  /** Input sizes in records and bytes, for the result. */
  def inputSizes: Map[String, Any]

  /** One pass, publishing under `out` (empty on entry). With tracing on,
    * the pass wraps each public call in a span named after its layer. */
  def pass(spark: SparkSession, out: Path, t: Tracer, checks: Checks): Unit

  /** Traced run only: per-layer metrics beyond the per-span measures —
    * the other side of each count gate, kernel probes — given the spans'
    * measures of a traced pass. Registers checks for what it runs. */
  def extras(spark: SparkSession, out: Path, checks: Checks,
      spans: Map[String, Map[String, Double]]): Map[String, Double]

  /** Steps `extras` checks. */
  def extraSteps: Seq[String] = Nil
}

object Workload {
  val byName: Map[String, () => Workload] = Map(
    "cpc_release" -> (() => new CpcRelease),
    "corpus_dedup" -> (() => new CorpusDedup),
    "web_ingest" -> (() => new WebIngest))
}
