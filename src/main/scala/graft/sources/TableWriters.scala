package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink layer (SURVEY §2.2 K1-K3 widened to the formats a lakehouse needs).
  *
  * SCALE: partitioned parquet is the default shape — writers take the
  * partition columns explicitly so scans get partition PRUNING (verified in
  * WritersSpec via PartitionFilters in the plan), and dynamic partition
  * overwrite keeps re-runs incremental (only touched partitions rewrite).
  * CSV/JSON are interchange formats: fine for exports, never for the hot
  * path (no pushdown, no column pruning, full-row parse).
  *
  * These are one-shot sinks with no commit protocol of their own. A table
  * that is upserted, compacted or read while it is being written is
  * committed through [[ManifestCommit]], the only commit protocol for
  * partitioned tables.
  */
object TableWriters {

  def parquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", true).csv(path)

  def json(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC sink — the second columnar format a lakehouse meets (Hive-lineage
    * warehouses hand ORC to every engine that reads them). Same pushdown/
    * pruning class as parquet: predicate pushdown + column pruning reach
    * the stripe reader (WritersSpec asserts PushedFilters on the read
    * path), so ORC inputs can sit on the hot path, unlike CSV/JSON. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: Option[String] = None): DataFrame = {
    val r = spark.read.option("header", true)
    schema.fold(r.option("inferSchema", true))(s => r.schema(s)).csv(path)
  }

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
