package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Split-point plumbing shared by the two-phase (bucketed) rewrites of
  * the global-order operators — numericDrift / ksDrift (CDF prefix
  * sums), paretoFrontier (running max), ppsTake's cousin shapes, and
  * dictBuild's large path. A `Window.orderBy` with no partitionBy
  * plans as ONE task holding its whole input; when that input grows
  * with the data (a distinct-value support, a corpus) it is a
  * 100×-scale killer. The rewrite: bucket the order column by split
  * points collected ONCE as plan literals, run the windows PARTITIONED
  * by bucket, and stitch buckets together with a buckets-sized offset
  * broadcast. Split points only steer balance — the downstream math is
  * exact for ANY monotone bucketing — so sampling/approximation
  * nondeterminism cannot leak into results.
  */
private[graft] object TwoPhase {

  /** Shared small-support guard for the two-phase operators: below
    * this MEASURED count the single-window form wins (DriftProbe's
    * crossover is ~3M support; 2M leaves margin and matches
    * dictBuild's long-standing bound), and one window task holding
    * ≤ 2M pre-aggregated rows is comfortably within executor memory.
    * Every use site counts its (cached) support before branching —
    * the bound is checked, never assumed.
    */
  val defaultMaxSingleTask: Long = 1L << 21

  /** Bucket count for a session: shuffle-partitions clamped to
    * [8, 64] — enough parallelism to matter, small enough that the
    * per-bucket offset table is always a trivial broadcast.
    */
  def buckets(df: DataFrame): Int =
    math.max(8, math.min(64,
      df.sparkSession.sessionState.conf.numShufflePartitions))

  /** Up to `nB − 1` sorted distinct ascending split points for `c`
    * over `support` (possibly empty → everything in one bucket, which
    * is exact, just unparallel). Numeric columns use approxQuantile
    * (one pass, no count needed); any other Comparable type (strings)
    * pays a count + bounded uniform sample (two passes) — pass
    * `knownCount` if the caller already has it to skip the count job.
    */
  def splits(support: DataFrame, c: String, nB: Int,
      knownCount: Long = -1L): Seq[Any] =
    support.schema(c).dataType match {
      case _: NumericType =>
        support.stat.approxQuantile(c,
            (1 until nB).map(_.toDouble / nB).toArray, 0.001)
          .toSeq.map(x => x: Any).distinct.sortWith(cmpLt)
      case _ =>
        val n = if (knownCount >= 0) knownCount else support.count()
        if (n == 0) Nil
        else {
          val want = nB * 200
          val frac = math.min(1.0, want.toDouble * 1.2 / n)
          val sample = support.select(col(c))
            .sample(withReplacement = false, frac, seed = 42)
            .collect().map(_.get(0)).filter(_ != null).sortWith(cmpLt)
          if (sample.isEmpty) Nil
          else (1 until nB)
            .map(i => sample(((i.toLong * sample.length) / nB).toInt))
            .distinct.sortWith(cmpLt)
        }
    }

  def cmpLt(x: Any, y: Any): Boolean =
    x.asInstanceOf[Comparable[Any]].compareTo(y) < 0

  /** Monotone bucket id: the number of split points strictly below the
    * value, as ONE flat multi-branch CASE WHEN (`v <= sp(0) → 0`,
    * `v <= sp(1) → 1`, …, else `sp.size`) — a single early-exit
    * branch chain per row. The first cut summed `sp.size` separate
    * CaseWhens, which evaluated every branch for every row and fell
    * out of efficient codegen: ~6× slower measured on a 2M-row
    * support. Nulls take the explicit first branch to
    * bucket 0 — consistent with Spark's nulls-first ascending order,
    * so a null row's bucket agrees with its global sort position.
    */
  def bucketCol(c: Column, sp: Seq[Any]): Column =
    if (sp.isEmpty) lit(0)
    else sp.zipWithIndex
      .foldLeft(when(c.isNull, 0)) { case (acc, (s, i)) =>
        acc.when(c <= lit(s), i)
      }
      .otherwise(sp.size)
}
