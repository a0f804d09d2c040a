package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table-level checks — the capabilities the north rule adds beyond the
  * reference's single-document validator (SURVEY.md §2.5): uniqueness,
  * referential integrity, per-partition column statistics. Each is a plain
  * declarative plan so Catalyst supplies partial aggregation, AQE skew
  * handling and broadcast planning; nothing is collected to the driver
  * except final verdict scalars.
  */
object TableChecks {

  /** Uniqueness on a key tuple via hash/sort aggregate (the table-scale
    * recast of `uniqueItems`'s O(n²) pairwise scan,
    * `validation_visitor.hpp:1362-1399`). Shuffles once on the key columns;
    * map-side partial count keeps the shuffle small. Returns duplicate keys
    * with their multiplicities. */
  def uniqueness(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)

  /** Referential check of `column` against a small vocabulary table —
    * broadcast hash left-anti join (violations = values with no match).
    * The table-scale recast of enum-vocabulary membership
    * (`concrete_constraints.hpp:354-430`). `vocab` must be small (it is
    * broadcast); NULLs in `column` are not violations (absent property). */
  def referential(df: DataFrame, column: String, vocab: DataFrame,
                  vocabCol: String): DataFrame =
    df.where(col(column).isNotNull)
      .join(broadcast(vocab.select(col(vocabCol).as(column)).distinct()),
            Seq(column), "left_anti")

  /** Same, against an in-memory vocabulary (compiles to a literal IN list —
    * no join at all). */
  def referentialStatic(df: DataFrame, column: String, vocab: Seq[String]): DataFrame =
    df.where(col(column).isNotNull && !col(column).isin(vocab: _*))

  /** Per-group column statistics in ONE aggregation pass: null rate,
    * min/max, HLL distinct sketch, and (numeric) approximate quantiles.
    * `groupCols` empty → global. Partial+final agg is automatic; HLL and
    * percentile_approx buffers merge associatively, so this scales to
    * arbitrarily many partitions without a second shuffle. */
  def stats(df: DataFrame, groupCols: Seq[String], dataCols: Seq[String]): DataFrame = {
    val schema = df.schema
    val aggs: Seq[Column] = dataCols.flatMap { c =>
      val dt = schema(c).dataType
      val base = Seq(
        count(lit(1)).as(s"${c}_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        approx_count_distinct(col(c)).as(s"${c}_approx_distinct"))
      val ordered = dt match {
        case _: org.apache.spark.sql.types.NumericType =>
          Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
              percentile_approx(col(c), lit(Array(0.5, 0.95, 0.99)), lit(10000)).as(s"${c}_quantiles"))
        case org.apache.spark.sql.types.StringType =>
          Seq(min(length(col(c))).as(s"${c}_minlen"), max(length(col(c))).as(s"${c}_maxlen"))
        case org.apache.spark.sql.types.TimestampType =>
          Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
        case _ => Nil
      }
      base ++ ordered
    }
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-partition MERGEABLE stats sketches — the incremental form of
    * [[stats]] and the north rule's "distinct counts via HLL sketches"
    * made persistent: one row per `partCol` value carrying, per data
    * column, the null count, min/max, and an Apache DataSketches HLL
    * sketch (Spark's own `hll_sketch_agg`) of the column's values.
    *
    * The 100 TB contract: this table is O(partitions) rows of fixed-size
    * binaries, APPEND-ONLY under partition-incremental ingestion — a new
    * increment computes sketch rows for ITS partitions only (one scan of
    * the new data) and appends them; [[mergeSketchStats]] then re-derives
    * table-level stats from the sketch table alone, never rescanning the
    * corpus. Values are canonicalized to strings before sketching so an
    * increment written months later hashes identically (DataSketches hashes
    * long(42) and "42" differently; mixing encodings would silently
    * undercount the union).
    *
    * `lgK = 14` bounds the estimate's relative standard error at ~0.8%
    * (sketch size ≤ ~10 KiB per column per partition).
    *
    * NUMERIC columns additionally get a mergeable KLL quantile sketch
    * (`{c}_kll` binary from Spark's `kll_sketch_agg_double` at `kllK`, the
    * column cast to double; see [[graft.functions.KllSketch]]) — the north rule's
    * "quantiles via t-digest" as a persisted, append-only partial:
    * [[mergeSketchStats]] re-derives table-level p50/p95/p99 from the
    * sketch table alone, so quantiles too survive incremental ingestion
    * without a corpus rescan (`percentile_approx` buffers cannot be
    * persisted across jobs). */
  def sketchStats(df: DataFrame, partCol: String, dataCols: Seq[String],
                  lgK: Int = 14, kllK: Int = graft.functions.KllSketch.DefaultK): DataFrame = {
    // resolve every column type in ONE analyzer pass (col(c), not
    // StructType.apply — `c` may be a nested field path ("meta.v"), which
    // the analyzer resolves but a top-level schema lookup rejects; a
    // per-column df.select would re-analyze the whole plan N times)
    val resolved = df.select(dataCols.map(col): _*).schema.map(_.dataType)
    val aggs: Seq[Column] = count(lit(1)).as("rows") +:
      dataCols.zip(resolved).flatMap { case (c, dt) =>
        val base = Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          hll_sketch_agg(col(c).cast("string"), lit(lgK)).as(s"${c}_hll"),
          min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))
        dt match {
          case _: org.apache.spark.sql.types.NumericType =>
            // Spark's KLL build takes DOUBLE only: cast integral/decimal columns
            base :+ kll_sketch_agg_double(col(c).cast("double"), kllK).as(s"${c}_kll")
          case _ => base
        }
      }
    df.groupBy(col(partCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Roll a [[sketchStats]] table up to table-level statistics: exact row /
    * null counts and min/max (sums and extrema of the per-partition
    * partials), plus the HLL distinct ESTIMATE via `hll_union_agg` — all
    * associative merges, one aggregation over O(partitions) rows. A
    * partition whose column was entirely NULL contributes an empty/null
    * sketch; the union treats it as zero distinct values.
    *
    * The exact fields (rows, nulls, min/max) are strictly associative —
    * any increment grouping merges to identical values. The HLL ESTIMATE
    * is order-dependent WITHIN ITS ERROR BOUNDS (DataSketches' union drops
    * the HIP estimator on out-of-order merges, so different merge trees
    * can differ by a fraction of the ~0.8% rse at lgK 14) — treat it as
    * the approximation it is, never as a hashable exact value.
    *
    * Columns that carried a `{c}_kll` quantile sketch additionally yield
    * `{c}_q50/_q95/_q99` estimates (`kll_merge_agg_double` union +
    * `kll_sketch_get_quantile_double` rank query; same
    * approximate-within-rank-bounds contract — ±1.65% normalized rank at
    * k=200, preserved by merging). A column with no non-NULL value yields
    * NULL quantiles. */
  def mergeSketchStats(sketches: DataFrame, dataCols: Seq[String]): DataFrame = {
    val have = sketches.columns.toSet
    val kllCols = dataCols.filter(c => have(s"${c}_kll"))
    // backtick-quoted references: a sketch table built over a NESTED field
    // path ("meta.v") has flat stat columns with dots in their names, which
    // a bare col() would mis-parse as a field path
    def q(name: String): Column = col(s"`$name`")
    val aggs: Seq[Column] = (sum(col("rows")).as("n_rows") +: dataCols.flatMap { c =>
      Seq(
        sum(q(s"${c}_nulls")).as(s"${c}_nulls"),
        hll_sketch_estimate(hll_union_agg(q(s"${c}_hll"), lit(true)))
          .as(s"${c}_distinct_est"),
        min(q(s"${c}_min")).as(s"${c}_min"),
        max(q(s"${c}_max")).as(s"${c}_max"))
    }) ++ kllCols.map(c =>
      // union ONCE per column; rank queries run on the merged binary below.
      // The merged sketch inherits the persisted sketches' k, so a table
      // built at a wider k keeps its accuracy without the caller
      // re-supplying it
      kll_merge_agg_double(q(s"${c}_kll")).as(s"_${c}_kllm"))
    val agged = sketches.agg(aggs.head, aggs.tail: _*)
    val quantiles = kllCols.flatMap { c =>
      val m = q(s"_${c}_kllm")
      // the rank query throws on an empty sketch (an all-NULL column); no
      // values means no quantile, so the guard yields NULL instead
      def quantile(rank: Double): Column =
        when(kll_sketch_get_n_double(m) > 0, kll_sketch_get_quantile_double(m, lit(rank)))
      Seq(quantile(0.50).as(s"${c}_q50"), quantile(0.95).as(s"${c}_q95"),
        quantile(0.99).as(s"${c}_q99"))
    }
    // drop exactly the merge temporaries — a prefix test would also drop
    // the stats of any user column that itself starts with an underscore
    val tmp = kllCols.map(c => s"_${c}_kllm").toSet
    agged
      .select((agged.columns.filterNot(tmp).map(q).toSeq ++ quantiles): _*)
  }

  /** Salted two-phase count for heavily skewed group keys (long
    * conversations): phase 1 aggregates (key, salt) partial counts, phase 2
    * merges per key. Use when a plain groupBy(key) would put one hot key's
    * entire weight on a single reducer. */
  def countBySkewedKey(df: DataFrame, key: String, salts: Int = 16): DataFrame = {
    // Deterministic salt from the input split id: a hot key's rows live in
    // many splits, so phase 1 spreads them across `salts` reducers.
    df.groupBy(col(key), pmod(spark_partition_id(), lit(salts)).as("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("cnt"))
  }

  /** Conversation-level checks (group-level recasts of array constraints,
    * SURVEY.md §2.3): turns-per-conversation bounds, dense turn indexing,
    * per-conversation ts monotonicity — one shuffle on conv_id for all of
    * them. Returns one row per failing conversation with boolean flags. */
  def conversationChecks(df: DataFrame, minTurns: Long = 1, maxTurns: Long = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Skew-safe formulation: ONE hash exchange on conv_id feeds a window
    // sort (UnsafeExternalSorter — SPILLS to disk, so a single 10^7-turn
    // hot conversation never buffers in memory), then lag()-derived
    // adjacent-pair facts reduce in a final aggregation whose per-group
    // state is O(1) scalars (count/min/max/sum). The earlier
    // sort_array(collect_list(...)) buffered an entire conversation in one
    // agg ArrayBuffer, which cannot spill within a group — the classic
    // skewed-key executor OOM at 100x. The final groupBy reuses the
    // window's hash partitioning, so the whole check is still one Exchange
    // (PlanSpec-asserted).
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"), col("ts"))
    df.select(col("conv_id"), col("turn_idx"), col("ts"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_prev_idx", lag(col("turn_idx"), 1).over(w))
      .withColumn("_prev_ts", lag(col("ts"), 1).over(w))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        min(col("turn_idx")).as("min_idx"),
        max(col("turn_idx")).as("max_idx"),
        // sorted by turn_idx within the group ⇒ duplicate indices are
        // ADJACENT, so exact distinct-count is "rows where idx changed"
        // (null-safe so a null turn_idx still counts once) — no
        // countDistinct rewrite, no second exchange, O(1) state
        sum(when(col("_rn") === 1 || !(col("_prev_idx") <=> col("turn_idx")), 1L)
          .otherwise(0L)).as("n_distinct_idx"),
        // ts monotonicity in (turn_idx, ts) order: any adjacent descent
        // fails; null comparisons are null → not violations (matches
        // monotoneTs)
        sum(when(col("ts") < col("_prev_ts"), 1L).otherwise(0L)).as("_descents"),
        sum(when(col("ts").isNull, 1).otherwise(0)).as("null_ts"))
      .withColumn("size_ok", col("n_turns") >= minTurns && col("n_turns") <= maxTurns)
      .withColumn("dense_ok",
        col("n_distinct_idx") === col("n_turns") &&
          col("min_idx") === 0 && col("max_idx") === col("n_turns") - 1)
      .withColumn("mono_ts_ok", col("_descents") === 0L)
      .drop("_descents")
      .where(!col("size_ok") || !col("dense_ok") || !col("mono_ts_ok"))
  }

  /** Verdict regression diff between two runs (set ops, SURVEY.md §2.5):
    * partitions whose verdict changed — gone, new, or flipped. */
  def verdictDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val cols = Seq("part_id", "rows", "fail_rows", "pass")
    val p = prev.select(cols.map(col): _*)
    val c = cur.select(cols.map(col): _*)
    p.exceptAll(c).withColumn("side", lit("prev_only"))
      .unionAll(c.exceptAll(p).withColumn("side", lit("cur_only")))
  }

  /** Role-sequence validation over (conv_id, turn_idx) order: each turn's
    * role must be reachable from its predecessor — e.g. `tool` only after
    * `assistant`, conversations must open with `user`. `mustFollow` maps a
    * role to its allowed predecessors (roles absent from the map are
    * unconstrained); `allowedStarts` constrains the first turn.
    *
    * Scale shape: one Exchange on conv_id + a spillable window sort; the
    * only per-row state is a lag(1), so arbitrarily long conversations
    * never grow memory. Returns violating turns with their predecessor
    * role (NULL at conversation start). */
  def roleSequenceChecks(df: DataFrame, mustFollow: Map[String, Seq[String]],
                         allowedStarts: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val startViol =
      col("prev_role").isNull && !col("role").isin(allowedStarts: _*)
    val followViol = mustFollow.toSeq.sortBy(_._1).map { case (r, preds) =>
      col("prev_role").isNotNull && col("role") === r &&
        !col("prev_role").isin(preds: _*)
    }.reduceOption(_ || _).getOrElse(lit(false))
    df.select(col("conv_id"), col("turn_idx"), col("role"))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .where(startViol || followViol)
  }

  /** Per-conversation ts monotonicity via a window over (conv_id, turn_idx)
    * — shuffles once on conv_id, sorts within partitions. Returns violating
    * turns. */
  def monotoneTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    df.withColumn("_prev_ts", lag(col("ts"), 1).over(w))
      .where(col("_prev_ts").isNotNull && col("ts") < col("_prev_ts"))
      .drop("_prev_ts")
  }
}
