package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{length => fn_length}

import graft.checks.{Drift, TableChecks}
import graft.data.TranscriptGen
import graft.run.Runner
import graft.spec.SpecParser

/** Table-level checks + runner over the deterministic synthetic transcript
  * table (FIXTURES.md §4): injected violation rates are pure functions of
  * (conv, turn), so expectations are computable independently. */
class TableChecksSpec extends SparkTestBase {

  lazy val turns = TranscriptGen.turns(spark, numConvs = 2000, parts = 8, numParts = 16).cache()
  lazy val spec = SpecParser.parse(TranscriptGen.transcriptSchemaJson)

  test("generator is deterministic across parallelism levels") {
    val a = TranscriptGen.turns(spark, 500, parts = 2, numParts = 8)
    val b = TranscriptGen.turns(spark, 500, parts = 7, numParts = 8)
    a.count() shouldBe b.count()
    a.exceptAll(b).count() shouldBe 0L
    b.exceptAll(a).count() shouldBe 0L
  }

  test("generator injects skewed conversations") {
    val sizes = turns.groupBy("conv_id").count()
    sizes.where(col("count") >= 2000).count() should be >= 1L
    sizes.where(col("count") <= 9).count() should be > 1000L
  }

  test("uniqueness check finds exactly the injected duplicates") {
    val dups = TableChecks.uniqueness(turns, Seq("conv_id", "turn_idx"))
    val expected = turns.groupBy("conv_id", "turn_idx").count()
      .where(col("count") > 1).count()
    dups.count() shouldBe expected
    expected should be > 0L
  }

  test("referential check: static vocab and broadcast anti-join agree") {
    import spark.implicits._
    val vocabDf = TranscriptGen.toolVocab.toDF("tool_name")
    val viaJoin = TableChecks.referential(turns, "tool", vocabDf, "tool_name").count()
    val viaStatic = TableChecks.referentialStatic(turns, "tool", TranscriptGen.toolVocab).count()
    viaJoin shouldBe viaStatic
    viaJoin should be > 0L // injected "tool_zz"
  }

  test("stats: null rates, HLL distinct, quantiles in one pass") {
    val s = TableChecks.stats(turns, Seq("part_id"), Seq("role", "text", "turn_idx")).collect()
    s.length shouldBe 16
    val row = s.head
    row.getAs[Long]("role_nulls") shouldBe 0L
    row.getAs[Long]("text_rows") should be > 0L
    // approx distinct of role ≈ 5 (4 vocab + narrator)
    assert(math.abs(row.getAs[Long]("role_approx_distinct") - 5L) <= 1L)
  }

  test("conversation-level checks find duplicate-index conversations") {
    val bad = TableChecks.conversationChecks(turns)
    bad.count() should be > 0L
    bad.where(!col("dense_ok")).count() should be > 0L
  }

  test("conversationChecks survives one 10^6-turn hot conversation with spilling forced") {
    // skew-safety evidence: force the window buffer to SPILL (tiny
    // thresholds stand in for a small executor heap — the pre-r5
    // sort_array(collect_list) formulation had no spill path at all, its
    // per-group ArrayBuffer simply grew to the conversation size). One
    // conversation with 10^6 turns, dense idx, monotone ts except one
    // injected descent at idx 500000.
    val conf = spark.conf
    val keys = Seq("spark.sql.windowExecBufferInMemoryThreshold",
                   "spark.sql.windowExecBufferSpillThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    keys.foreach(k => conf.set(k, "128"))
    try {
      import spark.implicits._
      val n = 1000000
      val hot = spark.range(n).select(
        lit("hotconv").as("conv_id"),
        col("id").as("turn_idx"),
        (lit(1704067200L) + col("id") -
          when(col("id") === 500000L, lit(999L)).otherwise(lit(0L)))
          .cast("timestamp").as("ts"))
      val out = TableChecks.conversationChecks(hot, minTurns = 1, maxTurns = 4096)
        .collect()
      out.length shouldBe 1
      val r = out.head
      r.getAs[Long]("n_turns") shouldBe n.toLong
      r.getAs[Long]("n_distinct_idx") shouldBe n.toLong
      r.getAs[Boolean]("size_ok") shouldBe false   // 10^6 > maxTurns
      r.getAs[Boolean]("dense_ok") shouldBe true
      r.getAs[Boolean]("mono_ts_ok") shouldBe false // the injected descent
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("roleSequenceChecks flags bad starts, bad predecessors, and nothing else") {
    import spark.implicits._
    val t = Seq(
      ("c1", 0L, "user"), ("c1", 1L, "assistant"), ("c1", 2L, "tool"),
      ("c1", 3L, "assistant"),                       // clean conversation
      ("c2", 0L, "assistant"),                       // bad start
      ("c2", 1L, "tool"),                            // ok: after assistant
      ("c2", 2L, "user"), ("c2", 3L, "tool"),        // tool after user: bad
      ("c3", 0L, "user"), ("c3", 1L, "user"),        // user unconstrained
      ("c3", 2L, "assistant"), ("c3", 3L, "assistant") // assistant after assistant: bad
    ).toDF("conv_id", "turn_idx", "role")
    val out = TableChecks.roleSequenceChecks(t,
      Map("tool" -> Seq("assistant"), "assistant" -> Seq("user", "tool")),
      allowedStarts = Seq("user"))
    out.select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet shouldBe
      Set(("c2", 0L), ("c2", 3L), ("c3", 3L))
    // start violation carries a NULL predecessor
    out.where(col("conv_id") === "c2" && col("turn_idx") === 0)
      .collect()(0).isNullAt(3) shouldBe true
    // one Exchange: the lag window's hash partitioning is the only shuffle
    "Exchange hashpartitioning".r
      .findAllIn(out.queryExecution.executedPlan.toString).length shouldBe 1
  }

  test("monotoneTs finds injected non-monotone timestamps") {
    TableChecks.monotoneTs(turns).count() should be > 0L
  }

  test("conversationChecks folds ts monotonicity into the same single pass") {
    val bad = TableChecks.conversationChecks(turns).cache()
    bad.where(!col("mono_ts_ok")).count() should be > 0L
    // agrees with the window-based turn-level check on conversations whose
    // turn indexes are unique (duplicate-idx ties make window order
    // arbitrary; the fold breaks ties by ts)
    val uniqueIdx = turns.groupBy("conv_id")
      .agg(countDistinct("turn_idx").as("d"), count(lit(1)).as("n"))
      .where(col("d") === col("n")).select("conv_id")
    val viaWindow = TableChecks.monotoneTs(turns)
      .join(uniqueIdx, "conv_id").select("conv_id").distinct()
    val viaFold = bad.where(!col("mono_ts_ok"))
      .join(uniqueIdx, "conv_id").select("conv_id").distinct()
    viaWindow.exceptAll(viaFold).count() shouldBe 0L
    viaFold.exceptAll(viaWindow).count() shouldBe 0L
  }

  test("drift: identical distributions have ~zero PSI, shifted ones do not") {
    val base = Drift.sketch(turns, fn_length(col("text")).cast("double"), 0, 200, 20)
    val same = Drift.sketch(turns, fn_length(col("text")).cast("double"), 0, 200, 20)
    Drift.psi(same, base) shouldBe 0.0 +- 1e-9
    val shifted = Drift.sketch(
      turns.withColumn("text", concat(col("text"), lit(" padpadpadpadpadpadpad"))),
      fn_length(col("text")).cast("double"), 0, 200, 20)
    Drift.psi(shifted, base) should be > 0.25
    Drift.kl(shifted, base) should be > 0.0
  }

  test("drift: typed Aggregator histogram merges to same sketch as width_bucket path") {
    import spark.implicits._
    val agg = new Drift.HistogramAgg(0, 200, 20)
    val viaAgg = turns.select(fn_length(col("text")).cast("double").as("v"))
      .as[Option[Double]].select(agg.toColumn).head()
    val viaDf = Drift.sketch(turns, fn_length(col("text")).cast("double"), 0, 200, 20)
    viaAgg.counts.toSeq shouldBe viaDf.counts.toSeq
  }

  test("drift: NaN values bucket as underflow on BOTH paths (width_bucket returns NULL for NaN)") {
    import spark.implicits._
    val vals = Seq(1.0, 5.0, Double.NaN, 9.0, Double.NaN).toDF("v")
    // pre-fix this NPE'd: the NULL width_bucket group hit r.getLong(0)
    val viaDf = Drift.sketch(vals, col("v"), 0, 10, 5)
    val agg = new Drift.HistogramAgg(0, 10, 5)
    val viaAgg = vals.select(col("v").as("v")).as[Option[Double]]
      .select(agg.toColumn).head()
    viaDf.counts.toSeq shouldBe viaAgg.counts.toSeq
    viaDf.counts(0) shouldBe 2L // both NaNs in the underflow bucket
    viaDf.total shouldBe 5L
  }

  test("drift: sketchMany computes every spec's histogram in ONE scan, matching sketch()") {
    val c1 = fn_length(col("text")).cast("double")
    val c2 = col("turn_idx").cast("double")
    val many = Drift.sketchMany(turns,
      Seq(("len", c1, 0.0, 200.0, 20), ("idx", c2, 0.0, 10.0, 5)))
    many("len").counts.toSeq shouldBe
      Drift.sketch(turns, c1, 0, 200, 20).counts.toSeq
    many("idx").counts.toSeq shouldBe
      Drift.sketch(turns, c2, 0, 10, 5).counts.toSeq
    // empty input: all-zero sketches, not NULL/NPE
    val empty = Drift.sketchMany(turns.where(lit(false)),
      Seq(("len", c1, 0.0, 200.0, 20)))
    empty("len").total shouldBe 0L
  }

  test("row checks: pass flags + violations match injected rates; verdicts cover all partitions") {
    val out = Runner.rowChecks(turns, spec, Seq("conv_id", "turn_idx"))
    val total = turns.count()
    val failing = out.flagged.where(!col("pass")).count()
    // injected: role 1/1000, text 1/1000, tool-pattern 1/1000 of tool turns
    failing.toDouble / total should be > 0.0005
    failing.toDouble / total should be < 0.01
    val v = out.violations.cache()
    v.where(col("kind") === "enum").count() should be > 0L   // narrator role
    v.where(col("kind") === "minLength").count() should be > 0L // empty text
    v.where(col("kind") === "pattern").count() should be > 0L   // tool_zz
    out.partitionVerdicts.count() shouldBe 16L
    out.partitionVerdicts.agg(sum("rows")).head().getLong(0) shouldBe total
  }

  test("resumable runner: second invocation processes nothing new") {
    val dir = java.nio.file.Files.createTempDirectory("graft-run").toString
    val v1 = Runner.runResumable(spark, turns, spec, Seq("conv_id", "turn_idx"), dir, "r1")
    v1.count() shouldBe 16L
    val v2 = Runner.runResumable(spark, turns, spec, Seq("conv_id", "turn_idx"), dir, "r1")
    v2.count() shouldBe 0L
    // verdicts on disk cover every partition exactly once
    spark.read.parquet(s"$dir/verdicts").count() shouldBe 16L
    // every sink row carries the attempt discriminator (the at-least-once
    // dedup handle; same contract as StreamingDedup's batch_id)
    spark.read.parquet(s"$dir/verdicts").columns should contain("attempt_id")
    spark.read.parquet(s"$dir/violations").columns should contain("attempt_id")
  }

  test("resumable runner: NULL part ids survive resume and are never marked done") {
    val dir = java.nio.file.Files.createTempDirectory("graft-run-null").toString
    // part_id pre-supplied with NULLs for one conversation's rows
    val withNulls = turns.withColumn("part_id",
      when(col("conv_id") === turns.select("conv_id").head().getString(0), lit(null))
        .otherwise(pmod(hash(col("conv_id")), lit(16))))
    val nullRows = withNulls.where(col("part_id").isNull).count()
    nullRows should be > 0L
    val v1 = Runner.runResumable(spark, withNulls, spec,
      Seq("conv_id", "turn_idx"), dir, "rn")
    v1.where(col("part_id").isNull).count() shouldBe 1L
    // second increment: completed Long partitions are pruned, but the
    // NULL-part rows are re-validated — under SQL three-valued logic the
    // old `!isin(...)` silently dropped them from every later increment
    val v2 = Runner.runResumable(spark, withNulls, spec,
      Seq("conv_id", "turn_idx"), dir, "rn")
    v2.count() shouldBe 1L // exactly the NULL-part verdict row again
    v2.where(col("part_id").isNull).agg(sum("rows")).head().getLong(0) shouldBe nullRows
  }

  test("resumable runner: derived part_id (absent from the source) resumes instead of crashing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-run-derived").toString
    val noPart = turns.drop("part_id")
    val v1 = Runner.runResumable(spark, noPart, spec, Seq("conv_id", "turn_idx"), dir, "rd")
    v1.count() should be > 0L
    // pre-fix: the second invocation filtered the RAW df on the
    // not-yet-derived part_id column and threw AnalysisException — the
    // resume filter now applies over the row output, where the derived
    // column exists
    val v2 = Runner.runResumable(spark, noPart, spec, Seq("conv_id", "turn_idx"), dir, "rd")
    v2.count() shouldBe 0L
  }

  test("resumable runner: string partition values (dates/names) are first-class manifest keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-run-str").toString
    // one bucket's value carries %, newline and CR: the line-oriented
    // manifest must escape them (a post-write reject would strand the run
    // in an append-duplicates-then-throw loop)
    val bucket = pmod(hash(col("conv_id")), lit(4)).cast("string")
    val withStr = turns.withColumn("part_id",
      when(bucket === "0", lit("day%\n\r-0"))
        .otherwise(concat(lit("day-"), bucket)))
    val v1 = Runner.runResumable(spark, withStr, spec, Seq("conv_id", "turn_idx"), dir, "rs")
    v1.count() shouldBe 4L
    // pre-fix: doneIds cast part values to LONG — 'day-N' became NULL and
    // getLong NPE'd after the sinks were already written
    val v2 = Runner.runResumable(spark, withStr, spec, Seq("conv_id", "turn_idx"), dir, "rs")
    v2.count() shouldBe 0L
  }

  test("resumable runner leaves no cache entry: a fresh run over a rewritten path reports the new rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-run-rewrite").toString
    val path = s"$dir/turns.parquet"
    val keys = Seq("conv_id", "turn_idx")
    turns.where(col("part_id") < 4).write.parquet(path)
    val firstRows = Runner.runResumable(spark, spark.read.parquet(path), spec, keys,
      s"$dir/out", "w1").agg(sum("rows")).head().getLong(0)
    // the verdicts of that run, derived again: no cached relation may
    // answer for them once the call has returned
    val derived = Runner.verdictsOf(Runner.rowOutput(spark.read.parquet(path), spec, keys))
    derived.queryExecution.withCachedData.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    } shouldBe empty

    // rewritten by another writer (a Spark overwrite in the same SparkSession would
    // itself refresh cache entries over the path): swap the files in place
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def files(d: String) = Files.list(Paths.get(d)).iterator().asScala.toList
    turns.write.parquet(s"$dir/next")
    files(path).foreach(Files.delete)
    files(s"$dir/next").foreach(f => Files.move(f, Paths.get(path, f.getFileName.toString)))
    val second = Runner.runResumable(spark, spark.read.parquet(path), spec, keys,
      s"$dir/out", "w2")
    second.agg(sum("rows")).head().getLong(0) shouldBe turns.count()
    turns.count() should be > firstRows
  }

  test("sketchStats/mergeSketchStats: exact partials match; HLL estimate within tolerance") {
    val withPart = turns.withColumn("sk_part", pmod(hash(col("conv_id")), lit(16)))
    val sk = TableChecks.sketchStats(withPart, "sk_part", Seq("conv_id", "role"))
    sk.count() shouldBe withPart.select("sk_part").distinct().count()
    val m = TableChecks.mergeSketchStats(sk, Seq("conv_id", "role")).head()
    val e = turns.agg(
      count(lit(1)), sum(when(col("conv_id").isNull, 1L).otherwise(0L)),
      sum(when(col("role").isNull, 1L).otherwise(0L)),
      countDistinct(col("conv_id")), countDistinct(col("role")),
      min(col("conv_id")), max(col("conv_id"))).head()
    m.getAs[Long]("n_rows") shouldBe e.getLong(0)
    m.getAs[Long]("conv_id_nulls") shouldBe e.getLong(1)
    m.getAs[Long]("role_nulls") shouldBe e.getLong(2)
    m.getAs[String]("conv_id_min") shouldBe e.getString(5)
    m.getAs[String]("conv_id_max") shouldBe e.getString(6)
    val exactConv = e.getLong(3).toDouble
    math.abs(m.getAs[Long]("conv_id_distinct_est") - exactConv) should be <= exactConv * 0.03
    // role cardinality is tiny — the sketch is still in exact coupon range
    m.getAs[Long]("role_distinct_est") shouldBe e.getLong(4)
  }

  test("sketchStats: two increments' sketch rows merge to the one-shot stats (no corpus rescan)") {
    val withPart = turns.withColumn("sk_part", pmod(hash(col("conv_id")), lit(16)))
    // increment A = partitions 0-7 scanned alone; increment B = 8-15 alone;
    // the APPEND-ONLY sketch table is their union — merging it must equal
    // merging a single-pass build, because every merge is associative
    val incA = TableChecks.sketchStats(withPart.where(col("sk_part") < 8),
      "sk_part", Seq("conv_id", "role"))
    val incB = TableChecks.sketchStats(withPart.where(col("sk_part") >= 8),
      "sk_part", Seq("conv_id", "role"))
    val mInc = TableChecks.mergeSketchStats(incA.unionAll(incB),
      Seq("conv_id", "role")).head()
    val mOne = TableChecks.mergeSketchStats(
      TableChecks.sketchStats(withPart, "sk_part", Seq("conv_id", "role")),
      Seq("conv_id", "role")).head()
    // exact fields are associative: identical under any increment grouping
    for (f <- Seq("n_rows", "conv_id_nulls", "role_nulls"))
      mInc.getAs[Long](f) shouldBe mOne.getAs[Long](f)
    for (f <- Seq("conv_id_min", "conv_id_max", "role_min", "role_max"))
      mInc.getAs[String](f) shouldBe mOne.getAs[String](f)
    // the HLL estimate is order-dependent only WITHIN its error bounds
    // (DataSketches drops the HIP estimator on out-of-order unions): both
    // merge trees must land within tolerance of the exact count
    val exact = turns.agg(countDistinct(col("conv_id"))).head().getLong(0).toDouble
    math.abs(mInc.getAs[Long]("conv_id_distinct_est") - exact) should be <= exact * 0.03
    math.abs(mOne.getAs[Long]("conv_id_distinct_est") - exact) should be <= exact * 0.03
    mInc.getAs[Long]("role_distinct_est") shouldBe mOne.getAs[Long]("role_distinct_est")
  }

  test("sketchStats: KLL quantile sketches persist, merge across increments, and answer within rank bounds") {
    val withPart = turns.withColumn("sk_part", pmod(hash(col("conv_id")), lit(16)))
    val sk = TableChecks.sketchStats(withPart, "sk_part", Seq("turn_idx", "role"))
    // numeric column gets the quantile sketch; string column does not
    sk.columns should contain("turn_idx_kll")
    sk.columns should not contain "role_kll"

    // exact rank of each estimate must be within the KLL k=200 bound
    // (±1.65% @99%, merged over 16 partials — assert a conservative ±2.5%)
    val m = TableChecks.mergeSketchStats(sk, Seq("turn_idx", "role")).head()
    for ((f, target) <- Seq(("turn_idx_q50", 0.50), ("turn_idx_q95", 0.95), ("turn_idx_q99", 0.99))) {
      val est = m.getAs[Double](f)
      // lumpy discrete data: the estimate's mid-rank must bracket the target
      val r = turns.where(col("turn_idx").isNotNull).agg(
        avg(when(col("turn_idx") < est, 1.0).otherwise(0.0)),
        avg(when(col("turn_idx") <= est, 1.0).otherwise(0.0))).head()
      assert(r.getDouble(0) - 0.025 <= target && target <= r.getDouble(1) + 0.025,
        s"$f=$est rank=[${r.getDouble(0)}, ${r.getDouble(1)}] target=$target")
    }

    // append-only increments: union of two partial sketch tables answers
    // within the same bound (merging preserves the rank guarantee)
    val incA = TableChecks.sketchStats(withPart.where(col("sk_part") < 8),
      "sk_part", Seq("turn_idx"))
    val incB = TableChecks.sketchStats(withPart.where(col("sk_part") >= 8),
      "sk_part", Seq("turn_idx"))
    val mi = TableChecks.mergeSketchStats(incA.unionAll(incB), Seq("turn_idx")).head()
    val estI = mi.getAs[Double]("turn_idx_q50")
    val ri = turns.where(col("turn_idx").isNotNull).agg(
      avg(when(col("turn_idx") < estI, 1.0).otherwise(0.0)),
      avg(when(col("turn_idx") <= estI, 1.0).otherwise(0.0))).head()
    assert(ri.getDouble(0) - 0.025 <= 0.50 && 0.50 <= ri.getDouble(1) + 0.025,
      s"incremental q50=$estI rank=[${ri.getDouble(0)}, ${ri.getDouble(1)}]")

    // a column that is entirely NULL yields an empty sketch → NULL quantile
    val mn = TableChecks.mergeSketchStats(
      TableChecks.sketchStats(
        withPart.withColumn("turn_idx", lit(null).cast("int")),
        "sk_part", Seq("turn_idx")),
      Seq("turn_idx")).head()
    assert(mn.isNullAt(mn.fieldIndex("turn_idx_q50")))
  }

  test("KS drift over KLL sketches: same distribution passes, a shift drifts, empties are NULL") {
    import graft.functions.KllSketch
    // split ROWS (not conversations — the generator injects a giant
    // conversation whose long turn_idx tail would make conv-keyed halves
    // genuinely different distributions, which KS rightly flags) into two
    // iid halves of the same distribution + a shifted copy
    val withPart = turns.withColumn("sk_part",
      pmod(hash(col("conv_id"), col("turn_idx"), col("role")), lit(2)))
    val sk = withPart.agg(
      kll_sketch_agg_double(when(col("sk_part") === 0, col("turn_idx")).cast("double"),
        KllSketch.DefaultK).as("a"),
      kll_sketch_agg_double(when(col("sk_part") === 1, col("turn_idx")).cast("double"),
        KllSketch.DefaultK).as("b"),
      kll_sketch_agg_double(when(col("sk_part") === 1, col("turn_idx") + 1000).cast("double"),
        KllSketch.DefaultK).as("c"),
      kll_sketch_agg_double(lit(null).cast("double"), KllSketch.DefaultK).as("e")).head()
    val (a, b, c, e) = (sk.getAs[Array[Byte]]("a"), sk.getAs[Array[Byte]]("b"),
      sk.getAs[Array[Byte]]("c"), sk.getAs[Array[Byte]]("e"))

    // driver-side verdict API
    val same = Drift.ksCheck(a, b)
    same.metric shouldBe "ks"
    assert(same.pass, s"same-distribution halves flagged drifted: $same")
    val shifted = Drift.ksCheck(a, c)
    assert(!shifted.pass, s"+1000 shift not flagged: $shifted")
    // most turn_idx mass sits below 1000, so the CDF gap is large (not ≈1:
    // the injected giant conversation's tail overlaps the shifted support)
    shifted.value should be > 0.5
    an[IllegalArgumentException] should be thrownBy Drift.ksCheck(a, e)
    an[IllegalArgumentException] should be thrownBy Drift.ksCheck(a, b, pValue = 0.0)

    // frame-side expressions agree with the driver-side verdict (the
    // per-partition sketch-table shape: nothing collected)
    val row = withPart.sparkSession.range(1).select(
      KllSketch.kllKsDelta(lit(a), lit(b)).as("d_same"),
      KllSketch.kllKsDrifted(lit(a), lit(b), 0.05).as("f_same"),
      KllSketch.kllKsDelta(lit(a), lit(c)).as("d_shift"),
      KllSketch.kllKsDrifted(lit(a), lit(c), 0.05).as("f_shift"),
      KllSketch.kllKsDelta(lit(a), lit(e)).as("d_empty"),
      KllSketch.kllKsThreshold(lit(a), lit(b), 0.05).as("thr")).head()
    row.getAs[Double]("d_same") shouldBe same.value +- 1e-12
    row.getAs[Boolean]("f_same") shouldBe false
    row.getAs[Double]("d_shift") shouldBe shifted.value +- 1e-12
    row.getAs[Boolean]("f_shift") shouldBe true
    assert(row.isNullAt(row.fieldIndex("d_empty")))
    row.getAs[Double]("thr") shouldBe same.threshold +- 1e-12
  }

  test("sketchStats/mergeSketchStats: underscore-prefixed names and nested field paths survive the roundtrip") {
    // regression: the merge's temp-column cleanup used a startsWith("_")
    // prefix test that also dropped the stats of a user column literally
    // named with a leading underscore; and the build's type dispatch used
    // a top-level schema lookup that rejected nested field paths
    val df = turns
      .withColumn("_score", col("turn_idx") * 2)
      .withColumn("meta", struct(col("turn_idx").as("v")))
      .withColumn("sk_part", pmod(hash(col("conv_id")), lit(4)))
    val m = TableChecks.mergeSketchStats(
      TableChecks.sketchStats(df, "sk_part", Seq("_score", "meta.v")),
      Seq("_score", "meta.v")).head()
    val expect = df.agg(count(lit(1)), max(col("_score")), max(col("meta.v"))).head()
    m.getAs[Long]("n_rows") shouldBe expect.getLong(0)
    m.getAs[Long]("_score_nulls") shouldBe 0L
    m.getAs[Int]("_score_max") shouldBe expect.getInt(1)
    m.getAs[Long]("meta.v_nulls") shouldBe 0L
    m.getAs[Int]("meta.v_max") shouldBe expect.getInt(2)
    // both numeric columns carried KLL sketches through the merge
    assert(!m.isNullAt(m.fieldIndex("_score_q50")))
    assert(!m.isNullAt(m.fieldIndex("meta.v_q50")))
  }

  test("KLL expressions codegen-compile with repeated instances in one projection (no interpreted fallback)") {
    import graft.functions.KllSketch
    val sk = turns.agg(kll_sketch_agg_double(col("turn_idx").cast("double"), KllSketch.DefaultK))
      .head().getAs[Array[Byte]](0)
    // CODEGEN_ONLY turns a janino compile error (e.g. a fixed-name local
    // declared twice when two instances share one non-nullable-child
    // codegen scope) into a hard failure instead of silent fallback
    val conf = spark.conf
    val prev = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.range(1).select(
        kll_sketch_get_quantile_double(lit(sk), lit(0.5)).as("q1"),
        kll_sketch_get_quantile_double(lit(sk), lit(0.9)).as("q2"),
        kll_sketch_get_n_double(lit(sk)).as("n1"),
        kll_sketch_get_n_double(lit(sk)).as("n2"),
        KllSketch.kllKsDelta(lit(sk), lit(sk)).as("d1"),
        KllSketch.kllKsDelta(lit(sk), lit(sk)).as("d2"),
        KllSketch.kllKsThreshold(lit(sk), lit(sk), 0.05).as("t1"),
        KllSketch.kllKsThreshold(lit(sk), lit(sk), 0.05).as("t2")).head()
      r.getAs[Double]("d1") shouldBe 0.0
      r.getAs[Long]("n1") shouldBe r.getAs[Long]("n2")
    } finally conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("KLL merge inherits the build-time k; isValidSketch absorbs truncated and garbage bytes") {
    import graft.functions.KllSketch
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    // a stats table built WIDER than the default k must keep its accuracy
    // through the merge: the merge keeps the inputs' k instead of capping
    // at a fixed default (a KLL merge result carries the accuracy of the
    // smallest-k participant)
    val withPart = turns.withColumn("sk_part", pmod(hash(col("conv_id")), lit(4)))
    val sk = TableChecks.sketchStats(withPart, "sk_part", Seq("turn_idx"), kllK = 800)
    val merged = sk.agg(kll_merge_agg_double(col("turn_idx_kll"))).head().getAs[Array[Byte]](0)
    KllDoublesSketch.heapify(Memory.wrap(merged)).getK shouldBe 800
    // a group with no sketch rows still merges to a well-formed empty sketch
    val empty = sk.limit(0).agg(kll_merge_agg_double(col("turn_idx_kll")))
      .head().getAs[Array[Byte]](0)
    assert(KllSketch.isValidSketch(empty))
    assert(KllDoublesSketch.heapify(Memory.wrap(empty)).isEmpty)

    // the diagnostic guard must CLASSIFY corruption, not crash on it:
    // truncation raises MemoryBoundsException, garbage preambles raise
    // SketchesArgumentException — both are "not a sketch"
    assert(KllSketch.isValidSketch(merged))
    assert(!KllSketch.isValidSketch(merged.dropRight(1)))
    assert(!KllSketch.isValidSketch(merged.take(4)))
    assert(!KllSketch.isValidSketch(Array.fill[Byte](64)(0x5A)))
    assert(!KllSketch.isValidSketch(Array.emptyByteArray))
    assert(!KllSketch.isValidSketch(null))
  }

  test("KLL byte format: DataSketches-written sketches read through Spark's built-ins, and built-in sketches through the KS checks") {
    import graft.functions.KllSketch
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.KolmogorovSmirnov
    def heap(b: Array[Byte]): KllDoublesSketch = KllDoublesSketch.heapify(Memory.wrap(b))
    import spark.implicits._

    // direction 1: bytes written by KllDoublesSketch.toByteArray (the format
    // of every persisted {c}_kll column) answer the same quantile and count
    // through the built-in accessors, and merge through kll_merge_agg_double
    def direct(from: Int, until: Int): Array[Byte] = {
      val d = KllDoublesSketch.newHeapInstance(200)
      (from until until).foreach(v => d.update(v.toDouble))
      d.toByteArray
    }
    val (d1, d2) = (direct(0, 10000), direct(5000, 15000))
    val r = spark.range(1).select(
      kll_sketch_get_quantile_double(lit(d1), lit(0.5)).as("q50"),
      kll_sketch_get_quantile_double(lit(d1), lit(0.95)).as("q95"),
      kll_sketch_get_n_double(lit(d1)).as("n")).head()
    r.getAs[Double]("q50") shouldBe heap(d1).getQuantile(0.5)
    r.getAs[Double]("q95") shouldBe heap(d1).getQuantile(0.95)
    r.getAs[Long]("n") shouldBe 10000L
    val merged = Seq(d1, d2).toDF("sk").agg(kll_merge_agg_double(col("sk")))
      .head().getAs[Array[Byte]](0)
    heap(merged).getN shouldBe 20000L
    heap(merged).getK shouldBe 200
    // the merged median of 0..9999 ∪ 5000..14999 is 7500; ±2.5% rank is
    // ±500 of the 20000 values, ±250 in value where the density is 2
    val mq = spark.range(1).select(kll_sketch_get_quantile_double(lit(merged), lit(0.5)))
      .head().getDouble(0)
    mq shouldBe 7500.0 +- 250.0

    // direction 2: built-in sketch bytes heapify, and the KS checks read
    // them exactly as they read the heapified sketch
    val Seq(b1, b2) = Seq(0L, 3000L).map(shift => spark.range(10000)
      .agg(kll_sketch_agg_double((col("id") + shift).cast("double"), KllSketch.DefaultK))
      .head().getAs[Array[Byte]](0))
    heap(b1).getN shouldBe 10000L
    heap(b1).getK shouldBe KllSketch.DefaultK
    val delta = KolmogorovSmirnov.computeKSDelta(heap(b1), heap(b2))
    val thr = KolmogorovSmirnov.computeKSThreshold(heap(b1), heap(b2), 0.05)
    val v = Drift.ksCheck(b1, b2)
    v.value shouldBe delta
    v.threshold shouldBe thr
    assert(!v.pass, s"a 30% shift not flagged: $v")
    spark.range(1).select(KllSketch.kllKsDelta(lit(b1), lit(b2))).head().getDouble(0) shouldBe delta
    // and the two formats compare against each other: built-in vs direct
    Drift.ksCheck(b1, d1).value shouldBe
      KolmogorovSmirnov.computeKSDelta(heap(b1), heap(d1))
  }
}
