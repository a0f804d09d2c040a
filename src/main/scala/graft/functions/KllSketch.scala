package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.KolmogorovSmirnov
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Mergeable quantile sketches — the north rule's "min/max/quantiles via
  * t-digest" made PERSISTENT, using Apache DataSketches KLL (the
  * quantile-sketch family already on Spark's classpath next to the HLL
  * sketches `TableChecks.sketchStats` persists; same mergeability and
  * error-bound story as a t-digest, with a provable rank-error guarantee).
  *
  * Build, merge, rank query and count are Spark's own `kll_*_double`
  * functions (`kll_sketch_agg_double`, `kll_merge_agg_double`,
  * `kll_sketch_get_quantile_double`, `kll_sketch_get_n_double`), which
  * read and write the DataSketches `KllDoublesSketch` byte format. This
  * object adds what Spark lacks: the two-sample Kolmogorov-Smirnov drift
  * test over two such sketches, and a corruption guard.
  *
  * Why not `percentile_approx`: its buffers merge associatively WITHIN one
  * query, but Spark exposes no way to persist them — so a stats table
  * built incrementally (append one sketch row per new partition, never
  * rescan the corpus; the 100 TB contract of `sketchStats`) cannot carry
  * quantiles with it. KLL closes exactly that gap: the binary column
  * round-trips through parquet, and a merge + rank query re-derive
  * table-level quantiles from O(partitions) sketch rows.
  *
  * Error contract: a KLL sketch with k=200 answers any rank query within
  * ±1.65% normalized rank error at 99% confidence; merging preserves the
  * bound (the merged sketch behaves as if built at the smallest k
  * involved). Like the HLL estimate, the quantile ESTIMATE is
  * order-dependent within its error bounds (merge trees retain different
  * samples) — treat it as the approximation it is, never as a hashable
  * exact value.
  *
  * Reference analog: the closest machinery is valijson's mergeable frozen
  * constants; per-column quantile state is a capability the north rule
  * adds beyond the single-document reference (SURVEY.md §2.5).
  */
object KllSketch {

  /** Default sketch parameter: ±1.65% rank error @99% conf, ~3 KiB/sketch. */
  val DefaultK: Int = 200

  /** Scalar column: two-sample Kolmogorov-Smirnov delta (max CDF gap)
    * between two persisted sketches; NULL if either side is NULL/empty. */
  def kllKsDelta(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      KllKsDeltaExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Scalar column: the KS rejection threshold at target p-value for the
    * two sketches (data-dependent: retained-item counts + both sketches'
    * normalized rank errors); NULL if either side is NULL/empty. The test
    * verdict "distributions differ" is `kllKsDelta > kllKsThreshold`. */
  def kllKsThreshold(a: Column, b: Column, pValue: Double): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      KllKsThresholdExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b),
        org.apache.spark.sql.GraftSqlBridge.expression(
          org.apache.spark.sql.functions.lit(pValue))))

  /** Boolean column: sketch-based two-sample KS test — TRUE when the
    * sketches' max CDF gap exceeds the p-value threshold ("drifted").
    * Composed from the two expressions above, so each sketch is heapified
    * twice per row; acceptable because sketch tables are O(partitions)
    * rows (~KiB each) by construction, never per-turn data — select
    * delta/threshold separately if a caller ever needs to shave that. */
  def kllKsDrifted(a: Column, b: Column, pValue: Double): Column =
    kllKsDelta(a, b) > kllKsThreshold(a, b, pValue)

  /** Interpreted/codegen kernels for the KS expressions. Boxed so a NULL
    * verdict is expressible for NULL/empty sketches (KS is undefined on an
    * empty sample). Malformed bytes fail loudly — sketch tables are
    * engine-written, so corruption is a data-integrity event, not an
    * expected input. */
  def ksDeltaBoxed(a: Array[Byte], b: Array[Byte]): java.lang.Double = {
    if (a == null || a.isEmpty || b == null || b.isEmpty) return null
    val sa = KllDoublesSketch.heapify(Memory.wrap(a))
    val sb = KllDoublesSketch.heapify(Memory.wrap(b))
    if (sa.isEmpty || sb.isEmpty) null
    else java.lang.Double.valueOf(KolmogorovSmirnov.computeKSDelta(sa, sb))
  }

  def ksThresholdBoxed(a: Array[Byte], b: Array[Byte], p: Double): java.lang.Double = {
    if (a == null || a.isEmpty || b == null || b.isEmpty) return null
    require(p > 0.0 && p < 1.0, s"KS target p-value must be in (0,1), got $p")
    val sa = KllDoublesSketch.heapify(Memory.wrap(a))
    val sb = KllDoublesSketch.heapify(Memory.wrap(b))
    if (sa.isEmpty || sb.isEmpty) null
    else java.lang.Double.valueOf(KolmogorovSmirnov.computeKSThreshold(sa, sb, p))
  }

  /** True iff `bytes` parses as a KLL doubles sketch (diagnostic guard for
    * externally-supplied stats tables). Any parse failure means "not a
    * valid sketch" — DataSketches signals corruption through several
    * unrelated exception types (SketchesException for garbage preambles,
    * MemoryBoundsException for TRUNCATED byte arrays — the most realistic
    * corruption — IndexOutOfBoundsException in older paths), so a guard
    * that enumerated them would crash on exactly the inputs it exists to
    * absorb. */
  def isValidSketch(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.nonEmpty && {
      try { KllDoublesSketch.heapify(Memory.wrap(bytes)); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
}

/** `kll_ks_delta(a, b)` — two-sample Kolmogorov-Smirnov statistic (max
  * absolute CDF difference) between two persisted KLL doubles sketches.
  * NULL if either input is NULL or an empty sketch. This is the frame-side
  * form of the drift test: a sketch TABLE row (per partition / per day) can
  * be compared against a broadcast baseline sketch without collecting
  * either — per-partition drift verdicts stay distributed. */
@ExpressionDescription(
  usage = "kll_ks_delta(a, b) - two-sample KS statistic between KLL sketch bytes")
case class KllKsDeltaExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kll_ks_delta requires (binary, binary), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    KllSketch.ksDeltaBoxed(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("graftKsD")
      s"""
      java.lang.Double $tmp = graft.functions.KllSketch.ksDeltaBoxed($a, $b);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $tmp.doubleValue(); }
    """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): KllKsDeltaExpr =
    copy(left = newLeft, right = newRight)
}

/** `kll_ks_threshold(a, b, p)` — the rejection threshold the KS delta is
  * compared against at target p-value `p`: the classical two-sample bound
  * on the sketches' RETAINED sample sizes plus both sketches' normalized
  * rank errors (the estimate can be off by at most that much, so the
  * threshold absorbs it). NULL if either sketch is NULL/empty. */
@ExpressionDescription(
  usage = "kll_ks_threshold(a, b, p) - KS rejection threshold at p-value for two KLL sketches")
case class KllKsThresholdExpr(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kll_ks_threshold requires (binary, binary, double), got $other")
    }

  override def nullSafeEval(a: Any, b: Any, p: Any): Any =
    KllSketch.ksThresholdBoxed(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], p.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, p) => {
      val tmp = ctx.freshName("graftKsT")
      s"""
      java.lang.Double $tmp = graft.functions.KllSketch.ksThresholdBoxed($a, $b, $p);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $tmp.doubleValue(); }
    """
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): KllKsThresholdExpr =
    copy(first = f, second = s, third = t)
}
