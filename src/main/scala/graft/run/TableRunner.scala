package graft.run

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.checks.{Drift, TableChecks}
import graft.spec.SchemaSpec

/** Whole-table validation orchestration: one declarative config → one
  * report. This is the "switch from the reference" entry point for a table:
  * the row-level constraint pass (valijson semantics) plus every
  * north-rule table check.
  *
  * ONE source scan per report. `run` pins [[Runner.validated]]'s frame
  * with a lazy `localCheckpoint` and derives the row outputs with
  * [[Runner.rowOutputs]], as `Runner.rowChecks` does unpinned. Every
  * report output derives from the pinned frame, never from the source:
  * the first action on any of them (or the eager drift sketch, when drift
  * specs are configured) pays the one scan plus validation for the whole
  * report, and later actions read the pinned blocks. The outputs themselves stay lazily planned, so callers still
  * pay only the derivation of what they materialize.
  *
  * Release: the pin registers no `CacheManager` entry (a later run over
  * the same path can never read stale blocks), and the `ContextCleaner`
  * frees the blocks once the report's frames are garbage-collected.
  * Lineage is truncated at the pin: an executor lost after the first
  * action fails a later action on this report instead of recomputing its
  * blocks — re-run `run` to recover.
  */
object TableRunner {

  final case class UniquenessSpec(keys: Seq[String])
  final case class ReferentialSpec(column: String, vocab: Either[Seq[String], (DataFrame, String)])
  final case class DriftSpec(column: String, expr: Option[Column], baseline: Drift.Histogram,
                             psiThreshold: Double = 0.25)

  final case class TableValidationConfig(
      rowSpec: SchemaSpec,
      keyCols: Seq[String],
      uniqueness: Seq[UniquenessSpec] = Nil,
      referential: Seq[ReferentialSpec] = Nil,
      statsCols: Seq[String] = Nil,
      drift: Seq[DriftSpec] = Nil,
      partCol: String = "part_id")

  final case class TableValidationReport(
      flagged: DataFrame,
      violations: DataFrame,
      partitionVerdicts: DataFrame,
      duplicateKeys: Map[String, DataFrame],
      referentialViolations: Map[String, DataFrame],
      stats: Option[DataFrame],
      driftVerdicts: Seq[(String, Drift.DriftVerdict)]) {

    /** Global pass/fail: no failing rows, no duplicate keys, no
      * referential violations, no drifted columns. Materializes
      * everything. */
    def pass(): Boolean = {
      // sum over zero verdict rows is SQL NULL (empty input table) — an
      // empty table has no failing rows, so it passes
      val agg = partitionVerdicts.agg(sum(when(col("pass"), 0).otherwise(1))).head()
      val rowsOk = agg.isNullAt(0) || agg.getLong(0) == 0
      val dupsOk = duplicateKeys.values.forall(_.isEmpty)
      val refOk = referentialViolations.values.forall(_.isEmpty)
      val driftOk = driftVerdicts.forall(_._2.pass)
      rowsOk && dupsOk && refOk && driftOk
    }
  }

  /** Disambiguate report-map keys when two specs legally share one: the
    * duplicates get a `#index` suffix (`"tool"`, `"tool#1"`) instead of
    * silently collapsing in `.toMap` — a collapsed entry's check never ran,
    * so `pass()` could return true over unexamined violations (the exact
    * Map-collision Drift.sketchMany was already hardened against). Suffixed
    * keys are checked against everything already assigned, so a literal
    * spec key like "tool#1" can never collide with a generated suffix. */
  private def keyed[A](specs: Seq[A])(key: A => String): Seq[(String, A)] = {
    val used = scala.collection.mutable.Set[String]()
    specs.zipWithIndex.map { case (s, i) =>
      var k = key(s)
      var j = i
      while (used(k)) { k = s"${key(s)}#$j"; j += 1 }
      used += k
      k -> s
    }
  }

  def run(df: DataFrame, cfg: TableValidationConfig): TableValidationReport = {
    val v = Runner.validated(df, cfg.rowSpec, cfg.keyCols, Some(cfg.partCol))
    val pinned = v.copy(frame = v.frame.localCheckpoint(eager = false))
    val row = Runner.rowOutputs(pinned, cfg.keyCols, cfg.partCol)
    // the checks see the source columns as given — a source column called
    // `pass` or `violations` reaches them untouched
    val sourceWithPart = pinned.frame.drop(v.passCol, v.violationsCol)
    val source = if (df.columns.contains(cfg.partCol)) sourceWithPart
      else sourceWithPart.drop(cfg.partCol)
    val dups = keyed(cfg.uniqueness)(_.keys.mkString(",")).map { case (k, u) =>
      k -> TableChecks.uniqueness(source, u.keys)
    }.toMap
    val refs = keyed(cfg.referential)(_.column).map { case (k, r) =>
      k -> (r.vocab match {
        case Left(values)        => TableChecks.referentialStatic(source, r.column, values)
        case Right((vdf, vcol))  => TableChecks.referential(source, r.column, vdf, vcol)
      })
    }.toMap
    // stats group by the partition column, which (like the row pass) may
    // be derived — so they read the pinned frame WITH it, and stats buckets
    // always align with the verdict table's
    val stats = if (cfg.statsCols.nonEmpty)
      Some(TableChecks.stats(sourceWithPart, Seq(cfg.partCol), cfg.statsCols)) else None
    // drift verdicts are the one EAGER element of the report (they collect
    // O(buckets) sketches) — all K drift specs share ONE aggregation
    // (Drift.sketchMany), so adding a drift column does not add a job
    val driftSketches = Drift.sketchMany(source, cfg.drift.zipWithIndex.map {
      case (d, i) =>
        // index-keyed: two specs may legally target the same column with
        // different baselines/expressions
        (i.toString, d.expr.getOrElse(col(d.column)),
          d.baseline.lo, d.baseline.hi, d.baseline.n)
    })
    val drifts = cfg.drift.zipWithIndex.map { case (d, i) =>
      d.column -> Drift.verdictOf(driftSketches(i.toString), d.baseline, d.psiThreshold)
    }
    TableValidationReport(row.flagged, row.violations, row.partitionVerdicts,
      dups, refs, stats, drifts)
  }
}
