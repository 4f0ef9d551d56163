package graft.flow

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join without the theta-join blowup.
  *
  * Spark plans `points JOIN intervals ON start <= pt AND pt <= end` as a
  * broadcast nested loop (or worse, a cartesian product) — O(|P|·|I|)
  * comparisons with no partitioning, the classic scale-killer for
  * temporal/value-band joins. The standard fix is binning: quantize the
  * range dimension into fixed-width bins, explode each interval onto the
  * bins it covers, map each point to its single bin, equi-join on the bin
  * id, and refine with the exact containment predicate.
  *
  *   - The equi-join shuffles on `_bin`, so it hash-partitions, AQE can
  *     size/skew-split it, and cost is O(matching bins), not O(|P|·|I|).
  *   - With `binWidth` ≥ the maximum interval length each interval covers
  *     at most 2 bins, so the interval side at most doubles; a point maps
  *     to exactly one bin, so no pair is produced twice and no dedup pass
  *     is needed.
  *   - Pick `binWidth` ≈ the typical interval length: wider bins mean
  *     fewer replicas but more refine-filter misses, narrower bins the
  *     reverse.
  *
  * Works on any integral range dimension (epoch days/seconds, integer
  * keys); callers convert timestamps with `unix_date`/`unix_timestamp`.
  */
object RangeJoin {

  /** Join `points` (with integral column `ptCol`) to `intervals` (with
    * integral `startCol`/`endCol`, both inclusive) on containment.
    * Longer-than-binWidth intervals stay CORRECT (bins are exploded from
    * start to end — they just replicate more), but the replication is the
    * operator's only blowup mode, so every interval is checked against
    * `maxBinsPerInterval` at runtime: one interval spanning 10⁹ bins
    * (a data bug or a mis-sized binWidth) fails fast with a clear error
    * instead of materializing 10⁹ rows into the shuffle.
    *
    * The two inputs must not share non-range column names: the equi-join
    * is on `_bin` only, so a shared name would survive as an ambiguous
    * duplicate and break downstream resolution — checked up front. */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      ptCol: String, startCol: String, endCol: String,
                      binWidth: Long, maxBinsPerInterval: Long = 256L): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    require(maxBinsPerInterval > 0, "maxBinsPerInterval must be positive")
    val shared = points.columns.toSet.intersect(intervals.columns.toSet)
    require(shared.isEmpty,
      s"points and intervals share column name(s) ${shared.mkString(", ")}: " +
        "the bin equi-join would emit them as ambiguous duplicates — " +
        "alias/prefix one side first")
    val reserved = (points.columns ++ intervals.columns).filter(_ == "_bin")
    require(reserved.isEmpty,
      "'_bin' is this operator's reserved join column — rename it on the input")
    // assert_true rides INSIDE the sequence bounds so the guard cannot be
    // pruned as an unused projection: it evaluates exactly once per
    // interval row, before the explode fans out. NULL-bounded intervals
    // pass the guard (coalesce → true) and then drop via sequence(NULL)
    // → explode, preserving the operator's pre-guard NULL behavior.
    val spanBins = s"($endCol div $binWidth - $startCol div $binWidth + 1)"
    val guard = s"assert_true(coalesce($spanBins <= ${maxBinsPerInterval}L, true), " +
      s"concat('RangeJoin: an interval covers ', CAST($spanBins AS STRING), " +
      s"' bins > maxBinsPerInterval=$maxBinsPerInterval; widen binWidth or raise the budget'))"
    // Inverted intervals (start > end) must NOT reach sequence(): their
    // span is negative so the <= guard passes vacuously, and Spark's
    // sequence(a, b) with a > b generates a DESCENDING |span|-element
    // array — a sentinel row like (start=10^15, end=0) would materialize
    // the giant per-row array the guard exists to prevent. So lo > hi
    // (or NULL bounds) yields an empty array and the row drops at the
    // explode, as a NULL-bounded row always did.
    val iv = intervals.withColumn("_bin",
      explode(expr(
        s"CASE WHEN $startCol <= $endCol THEN " +
          s"sequence($startCol div $binWidth, $endCol div $binWidth + CAST(coalesce($guard, 0) AS BIGINT)) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END")))
    val pt = points.withColumn("_bin", expr(s"$ptCol div $binWidth"))
    pt.join(iv, Seq("_bin"))
      .filter(col(startCol) <= col(ptCol) && col(ptCol) <= col(endCol))
      .drop("_bin")
  }
}
