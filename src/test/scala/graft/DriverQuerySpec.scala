package graft

import org.apache.spark.sql.functions._

import graft.run.Runner
import graft.spec.SpecParser

/** In-repo equivalence gates for the §2.5 driver queries whose operators
  * used to be sbt-only (streaming, set ops, sinks): each query's result
  * must equal an independently-constructed batch computation. The DuckDB
  * oracle re-proves the same thing driver-side.
  */
class DriverQuerySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("q_streaming_verdicts equals the batch windowed aggregation") {
    val got = SparkEntry.queries("q_streaming_verdicts")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("rows"),
        sum(when(col("event_type").isin("signup", "click", "view", "purchase"), 0L)
          .otherwise(1L)).as("fail_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    got should not be empty
    got shouldBe batch
  }

  test("q_streaming_anomalies equals the batch windowed fold and is rerun-safe") {
    import org.apache.spark.sql.expressions.Window
    def run() = SparkEntry.queries("q_streaming_anomalies")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted
    val got = run()
    got should not be empty
    // a second start with the same memory queryName must not accumulate rows
    run() shouldBe got
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    val wPrec = w.rowsBetween(Window.unboundedPreceding, -1)
    val o = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").cast("string").as("conv_id"),
        pmod(col("event_id"), lit(20)).as("turn_idx"), col("ts"))
      .withColumn("prev_idx", lag("turn_idx", 1).over(w))
      .withColumn("prev_max_ts", max("ts").over(wPrec))
    val batch = (
      o.where(col("turn_idx") === col("prev_idx"))
        .select(col("conv_id"), col("turn_idx"), lit("duplicate_or_regressed_turn_idx").as("kind")) unionAll
      o.where(col("prev_idx").isNotNull && col("turn_idx") > col("prev_idx") + 1)
        .select(col("conv_id"), col("turn_idx"), lit("gap_in_turn_idx").as("kind")) unionAll
      o.where(col("ts") < col("prev_max_ts"))
        .select(col("conv_id"), col("turn_idx"), lit("non_monotone_ts").as("kind"))
      ).collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted
    got shouldBe batch
  }

  test("q_verdict_diff flags exactly the partitions whose verdict changed") {
    val got = SparkEntry.queries("q_verdict_diff")(spark, sf)
    got.columns.toSeq shouldBe Seq("part_id", "rows", "fail_rows", "pass", "side")
    val byPart = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(pmod(col("o_orderkey"), lit(64)).as("part_id"))
      .agg(sum(when(col("o_totalprice") > 400000, 1L).otherwise(0L)).as("prev_fail"),
        sum(when(col("o_totalprice") > 300000, 1L).otherwise(0L)).as("cur_fail"))
    val changed = byPart.where(col("prev_fail") =!= col("cur_fail"))
      .select("part_id").collect().map(_.getLong(0)).toSet
    val gotParts = got.select("part_id").collect().map(_.getLong(0)).toSet
    gotParts shouldBe changed
    // every changed partition appears on both sides of the diff
    got.groupBy("part_id").count().collect().foreach(_.getLong(1) shouldBe 2L)
  }

  test("q_sink_roundtrip preserves violations through the parquet sink") {
    val got = SparkEntry.queries("q_sink_roundtrip")(spark, sf)
    val direct = Runner.violationsOf(
      Runner.rowOutput(spark.read.parquet(s"$sf/orders.parquet"),
        SpecParser.parse(
          """{"properties":{"o_orderpriority":{"enum":["1-URGENT","2-HIGH","3-MEDIUM"]}}}"""),
        Seq("o_orderkey")),
      Seq("o_orderkey"))
      .withColumn("legacy_context", Graft.legacyContext(col("json_pointer")))
      .where(col("kind") === "enum")
      .select(col("o_orderkey"), col("json_pointer"),
        concat_ws("|", col("legacy_context")).as("legacy_ctx"), col("description"))
    got.count() should be > 0L
    got.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(got).count() shouldBe 0L
    // the legacy rendering matches the v1.0 context strings
    got.select("legacy_ctx").distinct().collect().map(_.getString(0)).toSeq shouldBe
      Seq("""<root>|["o_orderpriority"]""")
  }

  test("q_custom_keyword native walker agrees with the closed form") {
    val got = SparkEntry.queries("q_custom_keyword")(spark, sf)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .where((pmod(pmod(col("event_id"), lit(100)), lit(10)) +
        pmod(floor(pmod(col("event_id"), lit(100)) / lit(10)).cast("long"), lit(10)))
        % 2 === 1)
      .select("event_id").collect().map(_.getLong(0)).toSet
    got should not be empty
    got shouldBe expected
  }

  test("q_streaming_dedup equals the batch seed/increment pair set and is rerun-safe") {
    def run() = SparkEntry.queries("q_streaming_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run()
    got should not be empty
    // deterministic: every invocation resets layout/sink/checkpoint
    run() shouldBe got
    // equivalence: the stream's pair set equals the batch verified
    // near-dup pairs — cross-group oriented (increment probing the seed
    // corpus), the within-group pairs kept (id_a < id_b)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val batch = graft.ops.Dedup.minhashNearDupsVerified(docs, "doc_id", "text",
        jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) =>
        if (a % 10 == 0 && b % 10 != 0) (a, b)
        else if (b % 10 == 0 && a % 10 != 0) (b, a)
        else (math.min(a, b), math.max(a, b))
      }.toSet
    got shouldBe batch
    // within-batch (same-group) pairs are present: the probe alone is
    // blind to them
    got.exists { case (a, b) => (a % 10 == 0) == (b % 10 == 0) } shouldBe true
  }
}
