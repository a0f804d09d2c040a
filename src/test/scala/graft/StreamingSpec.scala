package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.spec.SpecParser
import graft.streaming.StreamingValidator
import graft.streaming.StreamingValidator.{ConvAnomaly, TurnEvent}

/** Structured Streaming validation over MemoryStream sources. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val spec = SpecParser.parse(
    """{"properties":{"role":{"enum":["user","assistant"]},
        "text":{"minLength":1}},"required":["role","text"]}""")

  test("stateless row validation works on a stream (same plan as batch)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("role", "text")
    val out = StreamingValidator.validateStream(df, spec)
    val q = out.writeStream.format("memory").queryName("sv_rows").outputMode("append").start()
    input.addData(("user", "hi"), ("robot", "hello"), ("assistant", ""))
    q.processAllAvailable()
    val got = spark.table("sv_rows").select("role", "pass").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toMap
    q.stop()
    got shouldBe Map("user" -> true, "robot" -> false, "assistant" -> false)
  }

  test("per-key dispatch on a stream: each micro-batch validated, nothing pinned") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, String, String)]
    val df = input.toDF().toDF("id", "tool", "args")
    val out = Graft.validateJsonColumnBy(df, "args", "tool",
      Map("lo" -> SpecParser.parse("""{"properties":{"k":{"maximum":10}}}""")))
    val q = out.writeStream.format("memory").queryName("sv_dispatch").outputMode("append").start()
    input.addData((1, "lo", """{"k": 5}"""), (2, "lo", """{"k": 50}"""))
    q.processAllAvailable()
    input.addData((3, "other", """{"k": 50}"""), (4, "lo", "{"))
    q.processAllAvailable()
    val got = spark.table("sv_dispatch").select("id", "pass").collect()
      .map(r => (r.getInt(0), r.getBoolean(1))).toMap
    q.stop()
    got shouldBe Map(1 -> true, 2 -> false, 3 -> true, 4 -> false)
  }

  test("stream with its own pass/violations columns: both replaced in place, no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, String, Int)]
    val df = input.toDF().toDF("pass", "role", "text", "violations")
    val out = StreamingValidator.validateStream(df, spec)
    out.columns.toSeq shouldBe Seq("pass", "role", "text", "violations")
    out.schema("pass").dataType shouldBe org.apache.spark.sql.types.BooleanType
    out.schema("violations").dataType shouldBe graft.compile.Compiler.violationArrayType
    val q = out.writeStream.format("memory").queryName("sv_named").outputMode("append").start()
    input.addData(("src", "user", "hi", 7), ("src", "robot", "hello", 7))
    q.processAllAvailable()
    def byRole(df: org.apache.spark.sql.DataFrame) =
      df.select("role", "pass", "violations").collect().map(r => r.getString(0) -> r).toMap
    val got = byRole(spark.table("sv_named"))
    q.stop()
    // the same rows without the clashing columns validate identically
    got shouldBe byRole(StreamingValidator.validateStream(
      Seq(("user", "hi"), ("robot", "hello")).toDF("role", "text"), spec))
    got("user").getBoolean(1) shouldBe true
    got("robot").getBoolean(1) shouldBe false
  }

  test("windowed verdicts with watermark aggregate failures per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp)]
    val df = input.toDF().toDF("role", "text", "ts")
    val out = StreamingValidator.windowedVerdicts(df, spec, "ts", "10 minutes", "1 minute")
    val q = out.writeStream.format("memory").queryName("sv_windows").outputMode("append").start()
    val t0 = 1600000000000L
    input.addData(
      ("user", "hi", new Timestamp(t0)),
      ("robot", "x", new Timestamp(t0 + 1000)),
      ("user", "yo", new Timestamp(t0 + 61000)))
    q.processAllAvailable()
    // push watermark far ahead so earlier windows finalize in append mode
    input.addData(("user", "later", new Timestamp(t0 + 3600 * 1000)))
    q.processAllAvailable()
    val rows = spark.table("sv_windows")
      .select(col("window.start").cast("long"), col("rows"), col("fail_rows")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    q.stop()
    rows.length should be >= 2
    // windows are epoch-aligned: 1600000000 floors to 1599999960
    rows(0) shouldBe ((1599999960L, 2L, 1L))
    rows(1) shouldBe ((1600000020L, 1L, 0L))
  }

  test("streaming incremental dedup: per-batch probe + layout append; checkpointed resume skips processed files") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.streaming.StreamingDedup
    val root = java.nio.file.Files.createTempDirectory("graft-sdedup")
    val landing = root.resolve("landing"); java.nio.file.Files.createDirectories(landing)
    val layout = root.resolve("layout").toString
    val sink = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString

    def stage(name: String, rows: Seq[(Long, String)], mtime: Long): Unit = {
      val tmp = root.resolve("tmp_" + name)
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = landing.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 600000
    val textA = "the quick brown fox jumps over the lazy dog again and again tonight"
    val textB = "completely different content with no overlap whatsoever in any shingle of eight"
    stage("a.parquet", Seq((2L, textA), (4L, textB)), t0)
    stage("b.parquet", Seq((11L, textA),
      (13L, "unrelated text that matches nothing else in this corpus at all")), t0 + 30000)

    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      StreamingDedup.start(docs, "doc_id", "text", layout, sink, ckpt).awaitTermination()
    }
    run()
    // batch 0 (file a) probes an empty corpus: zero pairs, layout seeded;
    // batch 1 (file b) probes {2,4}: 11 duplicates 2
    val pairs1 = spark.read.parquet(sink).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs1 shouldBe Set((11L, 2L))
    spark.read.parquet(layout).count() shouldBe 4L * 8 // docs x bands

    // RESUME with the same checkpoint after a new file lands: only the new
    // file is processed — the earlier pair is not re-emitted, the layout
    // grows by exactly the new doc's bands
    stage("c.parquet", Seq((21L, textB)), t0 + 60000)
    run()
    val pairs2 = spark.read.parquet(sink).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    pairs2.sorted shouldBe Seq((11L, 2L), (21L, 4L))
    spark.read.parquet(layout).count() shouldBe 5L * 8
  }

  test("streaming dedup finds intra-batch near-dups the probe alone is blind to") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.streaming.StreamingDedup
    val root = java.nio.file.Files.createTempDirectory("graft-sdedup-wb")
    val landing = root.resolve("landing"); java.nio.file.Files.createDirectories(landing)
    val textA = "the quick brown fox jumps over the lazy dog again and again tonight"
    val tmp = root.resolve("tmp")
    Seq((2L, textA), (11L, textA),
        (13L, "unrelated text that matches nothing else in this corpus at all"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, landing.resolve("a.parquet"))

    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    def run(withinBatch: Boolean, tag: String): Set[(Long, Long)] = {
      val docs = spark.readStream.schema(schema).parquet(landing.toString)
      StreamingDedup.start(docs, "doc_id", "text",
        root.resolve(s"layout_$tag").toString, root.resolve(s"pairs_$tag").toString,
        root.resolve(s"ckpt_$tag").toString, withinBatch = withinBatch)
        .awaitTermination()
      spark.read.parquet(root.resolve(s"pairs_$tag").toString)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // both near-identical docs arrive in the SAME (seed) batch: the probe
    // path sees an empty corpus and emits nothing — withinBatch closes that
    run(withinBatch = false, "off") shouldBe Set.empty
    run(withinBatch = true, "on") shouldBe Set((2L, 11L))
  }

  test("streaming dedup: empty first batch cannot poison the layout; string doc ids reach the sink intact") {
    import org.apache.spark.sql.types.{StringType, StructType}
    import graft.streaming.StreamingDedup
    val root = java.nio.file.Files.createTempDirectory("graft-sdedup-es")
    val landing = root.resolve("landing"); java.nio.file.Files.createDirectories(landing)
    val layout = root.resolve("layout").toString
    val sink = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString

    def stage(name: String, rows: Seq[(String, String)], mtime: Long): Unit = {
      val tmp = root.resolve("tmp_" + name)
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = landing.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 600000
    val textA = "the quick brown fox jumps over the lazy dog again and again tonight"
    // batch 0 is EMPTY (a zero-row parquet file): the old append wrote a
    // _SUCCESS-only layout, so batch 1 took the probe branch and died on
    // schema inference — permanently, since restarts replay the same batch
    stage("a.parquet", Seq.empty, t0)
    stage("b.parquet", Seq(("doc-x", textA)), t0 + 30000)
    stage("c.parquet", Seq(("doc-y", textA)), t0 + 60000)

    val schema = new StructType().add("doc_id", StringType).add("text", StringType)
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    StreamingDedup.start(docs, "doc_id", "text", layout, sink, ckpt).awaitTermination()
    // string ids survive end-to-end (the old blanket cast('long') nulled
    // them, leaving (null, null) pairs)
    val pairs = spark.read.parquet(sink).select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    pairs shouldBe Set(("doc-y", "doc-x"))
  }

  test("flatMapGroupsWithState flags duplicate/gap turn_idx and non-monotone ts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnEvent]
    val out = StreamingValidator.conversationAnomalies(input.toDS())
    val q = out.writeStream.format("memory").queryName("sv_anoms").outputMode("append").start()
    val t0 = 1600000000000L
    input.addData(
      TurnEvent("c1", 0, new Timestamp(t0)),
      TurnEvent("c1", 1, new Timestamp(t0 + 1000)),
      TurnEvent("c2", 0, new Timestamp(t0)))
    q.processAllAvailable()
    input.addData(
      TurnEvent("c1", 1, new Timestamp(t0 + 2000)), // duplicate idx (cross-batch state)
      TurnEvent("c1", 3, new Timestamp(t0 + 500)),  // gap + non-monotone ts
      TurnEvent("c2", 1, new Timestamp(t0 + 1000))) // fine
    q.processAllAvailable()
    val got = spark.table("sv_anoms").as[ConvAnomaly].collect().toSet
    q.stop()
    got should contain(ConvAnomaly("c1", 1, "duplicate_or_regressed_turn_idx"))
    got should contain(ConvAnomaly("c1", 3, "gap_in_turn_idx"))
    got should contain(ConvAnomaly("c1", 3, "non_monotone_ts"))
    got.exists(_.conv_id == "c2") shouldBe false
  }

  test("a conversation whose FIRST observed turn_idx is not 0 flags missing_prefix") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnEvent]
    val out = StreamingValidator.conversationAnomalies(input.toDS())
    val q = out.writeStream.format("memory").queryName("sv_prefix").outputMode("append").start()
    val t0 = 1600000000000L
    input.addData(
      TurnEvent("cA", 5, new Timestamp(t0)),       // missing prefix 0..4
      TurnEvent("cA", 6, new Timestamp(t0 + 1000)), // consecutive: fine
      TurnEvent("cB", 0, new Timestamp(t0)))        // proper start: fine
    q.processAllAvailable()
    val got = spark.table("sv_prefix").as[ConvAnomaly].collect().toSet
    q.stop()
    // pre-fix this emitted NOTHING: the seen>0 guard suppressed the first
    // event's gap check, diverging from batch dense_ok (min_idx == 0)
    got shouldBe Set(ConvAnomaly("cA", 5, "missing_prefix"))
  }

  test("conversation state is EVICTED once the watermark passes the idle gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnEvent]
    // tight bounds so the test can advance the watermark quickly:
    // watermark delay 1s, idle gap 60s
    val out = StreamingValidator.conversationAnomalies(input.toDS(),
      watermark = "1 second", idleGapMs = 60000L)
    val q = out.writeStream.format("memory").queryName("sv_evict").outputMode("append").start()
    val t0 = 1600000000000L
    input.addData(
      TurnEvent("c1", 0, new Timestamp(t0)),
      TurnEvent("c2", 0, new Timestamp(t0)))
    q.processAllAvailable()
    def stateRows: Long = q.lastProgress.stateOperators.toSeq
      .map(_.numRowsTotal).sum
    stateRows shouldBe 2 // both conversations held
    // an event far in the future pushes the watermark past c1/c2's timeout
    input.addData(TurnEvent("c3", 0, new Timestamp(t0 + 10 * 60 * 1000)))
    q.processAllAvailable()
    // one more batch so the timeout fires and eviction is reflected
    input.addData(TurnEvent("c3", 1, new Timestamp(t0 + 10 * 60 * 1000 + 1000)))
    q.processAllAvailable()
    val after = stateRows
    q.stop()
    after shouldBe 1 // only c3 survives; c1/c2 evicted
  }
}
