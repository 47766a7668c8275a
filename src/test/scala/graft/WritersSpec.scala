package graft

import graft.operators.TopK
import graft.sources.TableWriters
import graft.streaming.EventsStream
import java.nio.file.Files
import org.apache.spark.sql.functions._

class WritersSpec extends GraftSpec {
  import spark.implicits._

  test("partitioned parquet round-trip + partition pruning in the plan") {
    val out = Files.createTempDirectory("writers").toString
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("y", year(col("o_orderdate")))
    TableWriters.parquetPartitioned(orders, s"$out/orders_by_year", Seq("y"))
    val back = TableWriters.readParquet(spark, s"$out/orders_by_year")
    assert(back.count() == orders.count())
    val pruned = back.where(col("y") === 1997)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("1997"), scan)
    assert(pruned.count() ==
      orders.where(year(col("o_orderdate")) === 1997).count())
  }

  test("csv and json round-trips preserve values") {
    val out = Files.createTempDirectory("writers2").toString
    val nation = spark.read.parquet(s"$sf0001/nation.parquet")
    TableWriters.csv(nation, s"$out/nation_csv")
    TableWriters.json(nation, s"$out/nation_json")
    val fromCsv = TableWriters.readCsv(spark, s"$out/nation_csv")
      .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
    val fromJson = TableWriters.readJson(spark, s"$out/nation_json")
      .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
    val want = nation.collect().map(_.toSeq).toSet
    assert(fromCsv.collect().map(_.toSeq).toSet == want)
    assert(fromJson.collect().map(_.toSeq).toSet == want)
  }

  test("orc round-trip preserves values and schema") {
    val out = Files.createTempDirectory("writers_orc").toString + "/nation_orc"
    val nation = spark.read.parquet(s"$sf0001/nation.parquet")
    nation.write.orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == nation.schema)
    assert(back.collect().map(_.toSeq).toSet == nation.collect().map(_.toSeq).toSet)
    // predicate pushdown + column pruning reach the ORC stripe reader —
    // what qualifies ORC inputs for the hot path (vs CSV/JSON)
    val plan = back.where(col("n_nationkey") === 7).select("n_name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,7)]"), plan)
    assert(plan.contains("ReadSchema: struct<n_nationkey:int,n_name:string>"), plan)
  }

  test("typed top-k aggregator matches the window-function answer") {
    val ev = graft.queries.Tables.events(spark, sf0001)
    val byAgg = ev.select(col("user_id"), col("value"), col("event_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(TopK.topKByScore(3).toColumn.name("top3"))
      .collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    val byWindow = ev.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .groupBy("user_id").agg(collect_list("event_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(byAgg.keySet == byWindow.keySet)
    byAgg.foreach { case (u, ids) => assert(ids == byWindow(u), s"user $u") }
  }

  test("stream-stream interval join: purchases enriched with preceding clicks") {
    val stream = EventsStream.readEvents(spark, sf0001)
    val got = EventsStream.runToMemory(spark,
      EventsStream.purchaseClickJoin(stream), "ssjoin")
    assert(got.count() > 0)
    // every joined row respects the interval bound
    val bad = got.where(col("cts") > col("pts") ||
      col("cts") < col("pts") - expr("INTERVAL 1 HOUR")).count()
    assert(bad == 0)
    // batch twin on the same µs precision the stream uses
    val evl = graft.queries.Tables.events(spark, sf0001)
      .withColumn("tus", expr("ts div 1000"))
    val p = evl.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("tus").as("pts"))
    val c = evl.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("cid"), col("tus").as("cts"))
    val batchN = p.join(c, col("user_id") === col("cu") &&
      col("cts") <= col("pts") &&
      col("cts") >= col("pts") - lit(3600L * 1000000L)).count()
    assert(got.count() == batchN)
  }
}
