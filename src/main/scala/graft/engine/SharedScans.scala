package graft.engine

import graft.checks._
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The scans several checks of one run share — every cross-check fusion
  * decision (SURVEY.md §4 loop-fusion note). Each check's `outputs` reads
  * its slice from here:
  *  - all ColumnStatsChecks with the same scope → ONE sketch-agg pass,
  *    whose verdicts this class emits itself;
  *  - a UniquenessCheck and a ByteIdentityCheck auditing the same key →
  *    ONE KeyScan phase 1 and ONE fused phase 2: 4 full input scans
  *    become 2;
  *  - ≥ 2 count-based checks (categorical / digit-preference / drift),
  *    each a `filter → derive keys → groupBy.count` over the full input →
  *    ONE CellScan pass + ONE shuffle, with every drift check's bin edges
  *    from ONE broadcast 1-row aggregate riding the scan base.
  * A lone check of a fusable family runs its standalone form.
  */
final class SharedScans(input: DataFrame, checks: Seq[Check],
    val refTables: Map[String, DataFrame], val keyCol: String) {

  /** ColumnStats verdicts, one frame per scope group. */
  val columnStats: Seq[DataFrame] =
    checks.collect { case c: ColumnStatsCheck => c }.groupBy(_.scope).toSeq.map {
      case (_, cs) => ColumnStats.verdicts(ColumnStats.profile(input, cs), cs)
    }

  /** Each uniqueness check paired with the first byte-identity check whose
    * key is the uniqueness check's (scope ++ keys). */
  private val keyPairs: Seq[(UniquenessCheck, ByteIdentityCheck)] = for {
    u <- checks.collect { case u: UniquenessCheck => u }
    b <- checks.collectFirst {
      case b: ByteIdentityCheck if (u.scope ++ u.keys).distinct == Seq(b.keyCol) => b
    }
  } yield (u, b)

  /** KeyScan phase 1 (one pass over the key) per paired uniqueness id. */
  lazy val keyPhase1: Map[String, DataFrame] =
    keyPairs.map { case (u, b) => u.id -> KeyScan.phase1(input, Seq(b.keyCol)) }.toMap

  /** The fused KeyScan phase 2 per paired uniqueness id. Lazy: its
    * broadcast decision runs an eager count of the phase-1 candidates, so
    * the first of the pair's builds computes it inside the Runner's
    * parallel build pool (its partner blocks on the lazy-val latch; all
    * other checks overlap). */
  lazy val keyPhase2: Map[String, DataFrame] = keyPairs.map { case (u, b) =>
    u.id -> KeyScan.phase2(input, Seq(b.keyCol), b.column, keyPhase1(u.id))
  }.toMap

  /** The fused KeyScan phase-2 frame a uniqueness or byte-identity check
    * reads, if it is paired. */
  def keyScan(id: String): Option[DataFrame] =
    keyPairs.collectFirst { case (u, b) if u.id == id || b.id == id => keyPhase2(u.id) }

  private val drifts = checks.collect { case c: DriftCheck => c }
    .zipWithIndex.map { case (c, i) => (c, s"__dr${i}_mn", s"__dr${i}_w") }

  private val cellFamilies: Seq[(String, CellScan.Family)] =
    checks.collect { case c: CategoricalConsistencyCheck => c.id -> CategoricalConsistency.cellFamily(c) } ++
      checks.collect { case c: DigitPreferenceCheck => c.id -> DigitPreference.cellFamily(c) } ++
      drifts.map { case (c, mn, w) => c.id -> Drift.cellFamily(c, mn, w) }

  /** The fused count frame of every count-based check; None below two. */
  val cellCounts: Option[DataFrame] =
    if (cellFamilies.size < 2) None
    else {
      val base =
        if (drifts.isEmpty) input
        else input.crossJoin(broadcast(Drift.edgesMulti(input, drifts)))
      Some(CellScan.counts(base, cellFamilies.map(_._2)))
    }

  private val cellSlices: Map[String, DataFrame] = cellCounts.toSeq.flatMap { counts =>
    cellFamilies.indices.map(i =>
      cellFamilies(i)._1 -> CellScan.slice(counts, i, cellFamilies.map(_._2)))
  }.toMap

  /** A count-based check's slice of the fused cell counts, if fused. */
  def cells(id: String): Option[DataFrame] = cellSlices.get(id)
}
