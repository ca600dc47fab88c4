package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped statistics with ENGINE-EXACT accumulation. Spark's builtin
  * `corr`/`stddev` stream floating-point moments in partition order —
  * two runs of the same query can disagree in the last bits, and no
  * other engine reproduces them. Here every sum is exact (integer/
  * decimal, order-independent); only the FINAL closed-form expression
  * runs in floating point, as one fixed left-to-right formula both
  * engines evaluate identically.
  */
object Stats {

  /** Per-group Pearson correlation of two INTEGER-valued columns from
    * the five exact sums (n, Σx, Σy, Σxy, Σx², Σy²):
    *   r = (nΣxy − ΣxΣy) / (sqrt(nΣx² − (Σx)²) · sqrt(nΣy² − (Σy)²))
    * truncated to 6 dp. Sums are decimal(38,0) — exact at any corpus
    * size, immune to aggregation order; one shuffle on the group key
    * with map-side partials, same plan shape as any sum. Returns null r
    * for degenerate groups (zero variance).
    */
  def pearsonByGroup(df: DataFrame, groupCol: String, x: Column,
      y: Column): DataFrame = {
    val xd = x.cast("decimal(38,0)")
    val yd = y.cast("decimal(38,0)")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(xd).as("__sx"), sum(yd).as("__sy"),
        sum(xd * yd).as("__sxy"),
        sum(xd * xd).as("__sxx"), sum(yd * yd).as("__syy"))
      .select(col(groupCol), col("n"), {
        // zero-variance groups → null (ANSI div-by-zero guard)
        val num = (col("n") * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double")
        val den =
          sqrt((col("n") * col("__sxx") - col("__sx") * col("__sx"))
            .cast("double")) *
          sqrt((col("n") * col("__syy") - col("__sy") * col("__sy"))
            .cast("double"))
        when(den =!= 0d, Similarity.trunc(num / den, 6)).as("r6")
      })
  }

  /** Per-group least-squares trend (slope per unit x, 6-dp truncated)
    * from the same exact decimal sums as [[pearsonByGroup]]:
    *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    * — drift/trend detection over metric streams (x = epoch seconds,
    * y = fixed-point value) without the run-to-run FP instability of
    * streamed moments. One shuffle on the group key with map-side
    * partials; zero-variance x (single instant) → null.
    */
  def trendByGroup(df: DataFrame, groupCol: String, x: Column,
      y: Column): DataFrame = {
    val xd = x.cast("decimal(38,0)")
    val yd = y.cast("decimal(38,0)")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(xd).as("__sx"), sum(yd).as("__sy"),
        sum(xd * yd).as("__sxy"), sum(xd * xd).as("__sxx"))
      .select(col(groupCol), col("n"), {
        val num = (col("n") * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double")
        val den = (col("n") * col("__sxx") - col("__sx") * col("__sx"))
          .cast("double")
        when(den =!= 0d, Similarity.trunc(num / den, 6)).as("slope6")
      })
  }

  /** Interval concurrency (the sweep-line classic): given per-row
    * [start, end) intervals, the number simultaneously open at every
    * change point, per group — "orders in flight", "active sessions",
    * "concurrent versions" — WITHOUT an interval×instant join (which
    * is quadratic and what a naive `BETWEEN` query plans to). Each
    * interval EXPLODES to two deltas in the same scan (+1 at start,
    * −1 at end — exclusive end, so the same-instant close-then-open
    * nets out by summation, no tie ordering needed); deltas
    * pre-aggregate per (group, instant) with map-side combine, and
    * the running sum runs on that |change points| table — the window
    * never sees interval rows. Output is the step function at its
    * change points.
    */
  def concurrency(df: DataFrame, keyCol: String, start: Column,
      end: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deltas = df
      // an interval with no start can't be placed on the line — drop
      // the row; a null END means STILL OPEN: keep the +1, drop the
      // -1 (a null delta would otherwise sort first in the window and
      // shift every count down by one)
      .filter(start.isNotNull)
      .select(col(keyCol).as("g"),
        explode(array(struct(start.as("t"), lit(1L).as("d")),
          struct(end.as("t"), lit(-1L).as("d")))).as("x"))
      .select(col("g"), col("x.t").as("t"), col("x.d").as("d"))
      .filter(col("t").isNotNull)
      .groupBy("g", "t").agg(sum(col("d")).as("__ds"))
    val w = Window.partitionBy("g").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("active", sum(col("__ds")).over(w))
      .select(col("g"), col("t"), col("active"))
  }

  /** Trending items: the top-k (item, bucket) cells whose count grew
    * the most versus the item's IMMEDIATELY PRECEDING bucket — the
    * day-over-day / month-over-month lift board. Growth is exact
    * integer ppm (cur·1e6 div prev); both cells must clear `minCount`
    * (lift on noise floors is meaningless and a div-by-tiny trap);
    * non-adjacent history is NOT a baseline (an item absent last
    * bucket has no lift row — "new" ≠ "trending"). One count
    * aggregation + one item-partition lag window on the |item×bucket|
    * table + TakeOrderedAndProject for the board; ties break on
    * (bucket, item) for a total order.
    */
  def trending(df: DataFrame, itemCol: Column, bucketCol: Column,
      minCount: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("item").orderBy("bucket")
    df.select(itemCol.as("item"), bucketCol.cast("long").as("bucket"))
      .groupBy("item", "bucket").agg(count(lit(1)).as("n"))
      .withColumn("__pb", lag(col("bucket"), 1).over(w))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("__pb") === col("bucket") - 1 &&
        col("prev_n") >= minCount && col("n") >= minCount)
      .withColumn("lift_ppm", expr("n * 1000000L div prev_n"))
      .select(col("item"), col("bucket"), col("prev_n"), col("n"),
        col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bucket").asc, col("item").asc)
      .limit(k)
  }

  /** Percentile-rank normalization per group (rank-based feature
    * scaling — robust to outliers where min-max is not): each row maps
    * to (rank−1)·1e6 div (n−1) ppm of its group, rank = SQL rank()
    * (ties share the lowest rank, so equal inputs get equal outputs —
    * a requirement for a well-defined feature). Integer end to end;
    * singleton groups map to 0. One group-partition window; compose
    * upstream aggregation to keep the window off corpus rows when the
    * unit is coarser than the row.
    */
  def percentileRank(df: DataFrame, groupCol: String, idCol: String,
      valCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__v"))
    val wAll = Window.partitionBy(groupCol)
    df.select(col(groupCol), col(idCol), valCol.cast("long").as("__v"))
      .withColumn("__rk", rank().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .select(col(groupCol), col(idCol), col("__v").as("x"),
        when(col("__n") > 1,
          expr("(__rk - 1) * 1000000L div (__n - 1)"))
          .otherwise(lit(0L)).as("pr_ppm"))
  }

  /** Gini concentration per group, exact to the ppm — the inequality
    * audit for contribution skew (does one supplier/source/domain
    * dominate a mix?). With per-unit totals x ranked ascending
    * (i = 1..n), G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx); the output is
    * floor(1e6·G) via decimal(38,0) cross-multiplication — no FP.
    * Σ i·xᵢ is invariant under tie reordering (swapping equal x
    * changes nothing), so ANY row_number tie order gives the same
    * answer on every engine. Aggregate to the contribution unit
    * FIRST: the ranking window runs on |units| rows, not the corpus.
    */
  def giniByGroup(df: DataFrame, groupCol: String, valCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__x"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    df.select(col(groupCol), valCol.cast("long").as("__x"))
      .withColumn("__i", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(d(col("__x"))).as("__sx"),
        sum(d(col("__i")) * d(col("__x"))).as("__six"))
      .select(col(groupCol), col("n"),
        when(col("__sx") > 0,
          expr("((2 * __six - (n + 1) * __sx) * 1000000) div (n * __sx)")
            .cast("long"))
          .as("gini_ppm"))
  }

  /** Exact 1-D earth-mover distance between two snapshots of an
    * integer-valued column — the NUMERIC drift audit, complementing
    * [[categoryDrift]]'s categorical TV distance (binned KS/TV misses
    * mass moving WITHIN a bin; EMD is the integral of CDF separation,
    * the standard train-vs-serve metric for prices/lengths/scores).
    *   EMD = Σ_support |cdfA − cdfB| · gap
    * computed as Σ |cumA·nB − cumB·nA| · gap in decimal(38,0) with ONE
    * integral divide by nA·nB at the end — exact in value units, no
    * FP. The counts aggregate per snapshot first, so the cumulative
    * pass runs on the MERGED DISTINCT-VALUE table, not corpus rows —
    * and for a continuous metric that support still GROWS with the
    * data, so the prefix sums are TWO-PHASED rather than pushed
    * through one global-order window: approxQuantile split points
    * (collected once as plan literals — they only steer balance, the
    * sums are exact for any monotone bucketing) bucket the support;
    * per-bucket cumulative sums run under a PARTITIONED window; each
    * bucket's prefix offset (the earlier buckets' totals) and the
    * next non-empty bucket's min value (to close the last row's CDF
    * gap across the bucket boundary) are computed from one
    * buckets-sized driver collect and broadcast back. No partition-
    * less WindowExec anywhere in the plan (PlanAuditSpec pins this).
    *
    * The two-phase machinery pays an always-on floor of ~3 extra jobs,
    * which the project's DriftProbe measured as a ~3× slowdown below
    * ~3M support (crossover table in BUILD_NOTES). So, like
    * [[graft.ext.Layout.dictBuild]], "support grows with the data" is
    * now a MEASURED branch, not an assumption: the support is counted
    * (one cheap job over the cached table) and below `maxSingleTask`
    * the prefix sums run as the original single-window form — that
    * window's input is ≤ maxSingleTask rows by construction
    * (PlanAuditSpec's allowlist documents the bound); above it the
    * two-phase path engages. Both paths are exact integer arithmetic
    * over the same support, so they agree bit-for-bit (Round9Spec
    * pins parity against a driver-side BigInt oracle on both).
    */
  def numericDrift(a: DataFrame, b: DataFrame, valCol: Column,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = (c: Column) => c.cast("decimal(38,0)")
    val ca = a.select(valCol.cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("na"))
    val cb = b.select(valCol.cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("nb"))
    // The support table feeds up to four actions (the guard count,
    // split points, bucket offsets, the final reduction): persist it
    // so the corpus-side aggregation runs ONCE — at 100 TB the
    // support is the small output of the big agg, exactly what a
    // cache is for. MEMORY_ONLY, deliberately not MEMORY_AND_DISK:
    // memory blocks are LRU-evictable so repeated calls in a long
    // session stay bounded by the storage pool, where disk-stored
    // blocks would accumulate until session end. No inline unpersist:
    // the returned (lazy) frame still reads it; correctness never
    // depends on the cache (every number is exact arithmetic, so an
    // evicted block's recompute reproduces it bit-for-bit). The
    // enclosing Materialize.scope (each bench query, each pipeline
    // stage) releases it, so a long session does not accumulate
    // block-manager entries until session end.
    val merged = ca.join(cb, Seq("v"), "full_outer")
      .na.fill(0L, Seq("na", "nb"))
      .transform(Materialize.memory)
    val n = merged.count()
    if (n <= maxSingleTask) {
      // measured-small support: one window task holding ≤ maxSingleTask
      // rows — the pre-two-phase form, byte-for-byte
      val wOrd = Window.orderBy("v")
      val wc = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = Window.partitionBy()
      val term = abs(d(col("__ca")) * d(col("__nbt")) -
        d(col("__cb")) * d(col("__nat"))) * d(col("__gap"))
      return merged
        .withColumn("__ca", sum(col("na")).over(wc))
        .withColumn("__cb", sum(col("nb")).over(wc))
        .withColumn("__nat", sum(col("na")).over(wAll))
        .withColumn("__nbt", sum(col("nb")).over(wAll))
        .withColumn("__gap", lead(col("v"), 1).over(wOrd) - col("v"))
        .filter(col("__gap").isNotNull)
        .agg(max(col("__nat")).as("n_a"), max(col("__nbt")).as("n_b"),
          sum(term).as("__s"))
        .select(col("n_a"), col("n_b"),
          expr("__s div (cast(n_a as decimal(38,0)) * n_b)")
            .cast("long").as("emd"))
    }
    val spark = a.sparkSession
    val sp = TwoPhase.splits(merged, "v", TwoPhase.buckets(merged))
    val bucketed = merged
      .withColumn("__b", TwoPhase.bucketCol(col("v"), sp))
    // one buckets-sized collect: per-bucket totals + min value
    val summary = bucketed.groupBy("__b")
      .agg(sum(col("na")).as("sa"), sum(col("nb")).as("sb"),
        min(col("v")).as("mn"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_._1)
    val natTot = summary.map(_._2).sum
    val nbtTot = summary.map(_._3).sum
    val offA = summary.map(_._2).scanLeft(0L)(_ + _).init
    val offB = summary.map(_._3).scanLeft(0L)(_ + _).init
    val nextMn = summary.indices.map(i =>
      summary.drop(i + 1).flatMap(_._4).headOption)
    import spark.implicits._
    val offDf = summary.indices
      .map(i => (summary(i)._1, offA(i), offB(i), nextMn(i)))
      .toDF("__b", "__offa", "__offb", "__nextmn")
    val wB = Window.partitionBy("__b").orderBy("v")
    val wBc = wB.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val term = abs(d(col("__ca")) * d(lit(nbtTot)) -
      d(col("__cb")) * d(lit(natTot))) * d(col("__gap"))
    bucketed
      .join(broadcast(offDf), Seq("__b"))
      .withColumn("__ca", sum(col("na")).over(wBc) + col("__offa"))
      .withColumn("__cb", sum(col("nb")).over(wBc) + col("__offb"))
      .withColumn("__gap",
        coalesce(lead(col("v"), 1).over(wB), col("__nextmn")) - col("v"))
      .filter(col("__gap").isNotNull)
      // max(lit) not lit: an all-filtered input (single distinct
      // value, or empty) must yield NULL totals, exactly as the
      // single-window form's max(__nat) over zero rows did
      .agg(max(lit(natTot)).as("n_a"), max(lit(nbtTot)).as("n_b"),
        sum(term).as("__s"))
      .select(col("n_a"), col("n_b"),
        // widen the product: a LONG n_a*n_b wraps past ~3e9 rows per
        // side — exactly the scale the decimal(38,0) sum __s survives
        expr("__s div (cast(n_a as decimal(38,0)) * n_b)")
          .cast("long").as("emd"))
  }

  /** Grouped MODE (most frequent value, deterministic): per group the
    * value with the highest count, ties broken by the value order
    * itself — one count agg (map-side combine) plus one group-partition
    * row_number window on the |distinct (group, value)| table.
    */
  def modeByGroup(df: DataFrame, groupCol: String, valCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = df.select(col(groupCol), valCol.as("__v"))
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("n").desc, col("__v").asc)
    counted.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(groupCol), col("__v").as("mode"), col("n"))
  }

  /** Exact grouped WEIGHTED median (lower median): per group, the
    * smallest value v whose cumulative weight reaches half the group's
    * total — the robust central-tendency statistic (outlier-immune,
    * unlike mean; integer-exact, unlike interpolated percentiles).
    * The half test is cross-multiplied (2·cum >= total) — no division,
    * no FP, deterministic on ties by the value order itself.
    *
    * Shape: one (group, value) pre-aggregation collapses duplicate
    * values (map-side combine — the window then runs on |distinct
    * values| rows, not corpus rows), one group-partition window for the
    * running cumulative, one min-agg for the first qualifying value.
    */
  def weightedMedianByGroup(df: DataFrame, groupCol: String,
      valCol: Column, weightCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = df
      .select(col(groupCol), valCol.cast("long").as("__v"),
        weightCol.cast("long").as("__w"))
      .groupBy(col(groupCol), col("__v"))
      .agg(sum(col("__w")).as("__wv"))
    val wOrd = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    byVal
      .withColumn("__cum", sum(col("__wv")).over(wOrd))
      .withColumn("__tot", sum(col("__wv")).over(wAll))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(col(groupCol))
      .agg(min(col("__v")).as("wmedian"), max(col("__tot")).as("total_w"))
  }

  /** 2-D Pareto frontier (skyline, both criteria MAXIMIZED): rows not
    * dominated by any other row, where a dominates b iff a.x >= b.x,
    * a.y >= b.y, and at least one is strict. Ties sit on the frontier
    * together (neither dominates). Null criteria rows are excluded
    * (dominance is undefined on null).
    *
    * The naive plan is the O(n²) NOT EXISTS anti-join (exactly what the
    * oracle replays); this is the sort-scan skyline instead: collapse
    * to max(y) per distinct x (one shuffle with map-side combine), then
    * a running-max window DESCENDING over x keeps x-classes whose max-y
    * strictly beats every higher-x class, and a semi-join pulls back
    * the surviving (x, y) rows. The window runs on the |distinct x|
    * table — already reduced by the aggregation, NOT the corpus; for a
    * high-cardinality continuous x, bucketize x first or range-
    * partition the cummax, else that exchange is the bottleneck.
    */
  /** Categorical distribution-drift audit between two snapshots of a
    * corpus (train-vs-serve skew / yesterday-vs-today monitoring): per
    * category, both counts and the absolute difference of the two
    * sides' PPM shares, d6 = |10⁶·ca div na − 10⁶·cb div nb| — pure
    * integer arithmetic (exact, order-independent, engine-portable; a
    * PSI's ln() would hit the same libm-divergence wall as every log
    * here, and the L1/total-variation family ranks drift identically).
    * Σd6/2 over the output is the total-variation distance in ppm
    * (up to per-category floor). Categories absent on one side count
    * zero there — full-outer semantics, drift shows as the whole share.
    *
    * Shape: one count-agg per side (map-side combine), a full-outer
    * join on the category-cardinality tables, two scalar totals. Safe
    * for na, nb up to ~9·10¹² rows (10⁶·n must fit a long).
    */
  def categoryDrift(a: DataFrame, b: DataFrame, catCol: String)
      : DataFrame = {
    val na = a.count()
    val nb = b.count()
    require(na > 0 && nb > 0, "categoryDrift: both snapshots need rows")
    val ca = a.groupBy(col(catCol)).agg(count(lit(1)).as("ca"))
    val cb = b.groupBy(col(catCol)).agg(count(lit(1)).as("cb"))
    ca.join(cb, Seq(catCol), "full_outer")
      .select(col(catCol),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .withColumn("d6", abs(
        expr(s"(ca * 1000000L) div ${na}L") -
        expr(s"(cb * 1000000L) div ${nb}L")))
  }

  /** Exact rational per-group quantiles over an integer value column:
    * for each (name, qNum, qDen), the smallest v whose cumulative count
    * covers qNum/qDen of the group (ceil-rank / lower-quantile
    * convention — the same one [[weightedMedianByGroup]] uses at 1/2).
    * ALL requested quantiles come from ONE distinct-value aggregation +
    * ONE window pass (`min(when(threshold_q, v))` per quantile) — the
    * window runs on the per-group DISTINCT-value table, never corpus
    * rows.
    */
  private def groupQuantiles(df: DataFrame, groupCol: String,
      valCol: Column, qs: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol), valCol.cast("long").as("__v"))
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__w"))
    val wOrd = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    val reads = qs.map { case (name, qNum, qDen) =>
      min(when(col("__cum") * qDen >= lit(qNum) * col("__tot"),
        col("__v"))).as(name)
    }
    counts
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .groupBy(col(groupCol))
      .agg(reads.head, reads.tail: _*)
  }

  /** Winsorization (quantile clipping) per group: every value clamped
    * into [q(loNum/loDen), q(hiNum/hiDen)] of ITS group — the standard
    * robust-preprocessing step before scale-sensitive aggregation or
    * training. Quantiles are exact rank-based reads on integer values
    * (engine-replayable; no interpolation, no FP), both computed in one
    * distinct-value pass; the per-group bound pair then joins back to
    * the rows (a groups-sized build side — broadcastable at any corpus
    * scale).
    */
  def winsorizeByGroup(df: DataFrame, groupCol: String, valCol: Column,
      loNum: Long, loDen: Long, hiNum: Long, hiDen: Long): DataFrame = {
    val bounds = groupQuantiles(df, groupCol, valCol,
      Seq(("qlo", loNum, loDen), ("qhi", hiNum, hiDen)))
    // null-safe group join: the quantile groupBy computes bounds for a
    // NULL group too, and an equi-join here would silently DROP every
    // null-group row from the winsorized output — data loss, not
    // clamping (same trap temperatureSample documents)
    val boundsR = bounds.withColumnRenamed(groupCol, "__g")
    df.withColumn("__v", valCol.cast("long"))
      .join(boundsR, col(groupCol) <=> col("__g"))
      .drop("__g")
      .withColumn("clipped",
        greatest(col("qlo"), least(col("__v"), col("qhi"))))
  }

  /** Robust outliers via median/MAD (the median-based twin of q112's
    * mean/variance z-test — immune to the outliers it hunts): flag rows
    * with |x − median| > k·MAD, where MAD is the median absolute
    * deviation, both exact lower medians on integer values. Two
    * distinct-value median passes + two groups-sized joins back; the
    * comparison is pure integer cross-multiplication (kNum/kDen
    * rational k), so there is no 1.4826 σ-consistency constant anywhere
    * — k is in MAD units by definition, engine-exact.
    */
  def robustOutliers(df: DataFrame, groupCol: String, idCol: String,
      valCol: Column, kNum: Long, kDen: Long): DataFrame = {
    val med = groupQuantiles(df, groupCol, valCol, Seq(("med", 1L, 2L)))
    // null-safe group joins throughout — see winsorizeByGroup
    val medR = med.withColumnRenamed(groupCol, "__g")
    val devs = df
      .select(col(idCol), col(groupCol), valCol.cast("long").as("x"))
      .join(medR, col(groupCol) <=> col("__g"))
      .drop("__g")
      .withColumn("__dev", abs(col("x") - col("med")))
    val mad = groupQuantiles(devs, groupCol, col("__dev"),
      Seq(("mad", 1L, 2L)))
    val madR = mad.withColumnRenamed(groupCol, "__g2")
    devs.join(madR, col(groupCol) <=> col("__g2"))
      .drop("__g2")
      .filter(col("__dev") * kDen > lit(kNum) * col("mad"))
      .select(col(idCol), col(groupCol), col("x"), col("med"), col("mad"))
  }

  /** Equi-depth histogram boundaries per group: the exact rank-based
    * upper bound of each of `k` equal-population buckets (b1..bk, bk =
    * group max) — the quantile table a cost optimizer or drift monitor
    * keeps per column. One distinct-value aggregation + one window
    * pass produces ALL k bounds (same kernel as [[winsorizeByGroup]]);
    * the output is |groups| rows regardless of corpus size.
    */
  def equiDepthBounds(df: DataFrame, groupCol: String, valCol: Column,
      k: Int): DataFrame = {
    require(k >= 2, "equiDepthBounds: need k >= 2")
    groupQuantiles(df, groupCol, valCol,
      (1 to k).map(i => (s"b$i", i.toLong, k.toLong)))
  }

  /** Feature-target association screen via the 2×2 chi-square test —
    * the classic feature-selection / A-B significance primitive. For
    * each category of `catCol` vs a boolean label: the contingency
    * counts n11 (category & label), n10, n01, n00, the association
    * direction sign(n11·n00 − n10·n01), and a significance flag
    *   N·(n11·n00 − n10·n01)²·kDen  >  kNum·(row and column margins)
    * — the chi-square statistic χ² > kNum/kDen cross-multiplied, so no
    * division or FP anywhere (kNum/kDen = 384/100 ≈ the 95% df=1
    * critical value). Products run in decimal(38,0): exact for
    * N ≤ ~10⁸ per screen; beyond that, screen per stratum.
    *
    * ONE category-keyed aggregation with map-side combine + a 1-row
    * broadcast of the global margins — nothing else touches the fact
    * table, so the screen costs the same as a plain groupBy count.
    */
  def chiAssoc(df: DataFrame, catCol: String, label: Column,
      kNum: Long, kDen: Long): DataFrame = {
    // The category table is tiny (|categories| rows) but is consumed
    // twice (margins + per-category rows); pin it so the fact table is
    // scanned ONCE — without this, each reference re-runs the scan+agg.
    val counts = df
      .select(col(catCol).as("cat"), label.cast("boolean").as("__y"))
      .groupBy("cat")
      .agg(count(lit(1)).as("__ncat"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n11"))
      .transform(Materialize.cut)
    val tot = counts.agg(sum(col("__ncat")).as("__n"),
      sum(col("n11")).as("__pos"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    counts.crossJoin(broadcast(tot))
      .select(col("cat"), col("n11"),
        (col("__ncat") - col("n11")).as("n10"),
        (col("__pos") - col("n11")).as("n01"),
        (col("__n") - col("__ncat") - col("__pos") + col("n11")).as("n00"),
        col("__n").as("__n"))
      .select({
        val det = d(col("n11")) * d(col("n00")) - d(col("n10")) * d(col("n01"))
        val margins = (d(col("n11")) + d(col("n10"))) *
          (d(col("n01")) + d(col("n00"))) *
          (d(col("n11")) + d(col("n01"))) *
          (d(col("n10")) + d(col("n00")))
        Seq(col("cat"), col("n11"), col("n10"), col("n01"), col("n00"),
          signum(det).cast("int").as("assoc"),
          (d(col("__n")) * det * det * kDen > lit(kNum) * margins)
            .as("sig"))
      }: _*)
  }

  /** Market-basket co-occurrence with association confidence: for every
    * unordered item pair appearing in ≥ `minCount` baskets, the pair
    * support n_ab, the antecedent support n_a (baskets containing the
    * LOWER item), and integer-ppm confidence `n_ab·1e6 div n_a` — the
    * Apriori pair stage, the workhorse of co-view / co-purchase / term
    * co-occurrence mining.
    *
    * Scale shape: pairs are emitted LOCALLY per basket from a sorted
    * distinct item list (collect_set + sort + explode of C(m,2) pairs —
    * m is basket size, a data constant, never corpus-scale), then
    * partial-agg counted. The naive alternative — self-joining the
    * (basket, item) table on basket — shuffles the fact table twice and
    * explodes skewed baskets in the join; here the only shuffles are
    * the basket groupBy and the pair count, both map-side combined.
    * Basket-distinct items mean a pair is counted once per basket, the
    * support semantics Apriori requires.
    */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long): DataFrame = {
    // pinned: pairs AND the item supports both derive from the basket
    // sets (r15 — the support arm used to re-scan the base and pay its
    // own (basket, item) distinct exchange; exploding the cached sets
    // is the same distinct-basket count with zero extra base work)
    val baskets = df.filter(col(itemCol).isNotNull)
      .groupBy(col(basketCol))
      .agg(sort_array(collect_set(col(itemCol))).as("__items"))
      .transform(Materialize.memory)
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(__items, (a, i) ->
          |  transform(slice(__items, i + 2, size(__items)), b ->
          |    struct(a, b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("item_a"), col("p.b").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val itemSupport = baskets
      .select(explode(col("__items")).as("item_a"))
      .groupBy("item_a").agg(count(lit(1)).as("n_a"))
    pairs.join(itemSupport, "item_a")
      .withColumn("conf6", expr("n_ab * 1000000L div n_a"))
  }

  /** 2-D Pareto frontier (skyline, both criteria maximized): a row is
    * on the frontier iff its per-x best y exceeds the best y of every
    * STRICTLY LARGER x — a running max over x-descending order. The
    * running max used to be one partition-less window over the
    * |distinct x| table, which grows with the data for continuous x;
    * it is now two-phased ([[TwoPhase]]): per-bucket descending
    * running max under a PARTITIONED window, stitched with each
    * bucket's suffix max (the best y of all higher buckets, from one
    * buckets-sized collect) broadcast back. `greatest` skips the null
    * side, so the top bucket (no suffix) and each bucket's first row
    * (no intra prefix) degrade exactly like the single-window form.
    */
  def paretoFrontier(df: DataFrame, xCol: String, yCol: String,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = df.sparkSession
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    // |distinct x| rows, feeding up to four actions — cached like
    // numericDrift's support table (MEMORY_ONLY: LRU-bounded,
    // recompute bit-exact)
    val perX = rows.groupBy(col(xCol)).agg(max(col(yCol)).as("__my"))
      .transform(Materialize.memory)
    // MEASURED small-support branch — see numericDrift for rationale;
    // the running-max window's input is ≤ maxSingleTask rows here
    val nX = perX.count()
    if (nX <= maxSingleTask) {
      val beforeDesc = Window.orderBy(col(xCol).desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = perX
        .withColumn("__run", max(col("__my")).over(beforeDesc))
        .filter(col("__run").isNull || col("__my") > col("__run"))
        .select(col(xCol), col("__my").as(yCol))
      return rows.join(frontier, Seq(xCol, yCol), "left_semi")
    }
    val sp = TwoPhase.splits(perX, xCol, TwoPhase.buckets(perX),
      knownCount = nX)
    val bucketed = perX
      .withColumn("__b", TwoPhase.bucketCol(col(xCol), sp))
    val bm = bucketed.groupBy("__b").agg(max(col("__my")).as("m"))
      .collect().map(r => (r.getInt(0), r.get(1))).sortBy(_._1)
    // suffix max of bucket maxima STRICTLY ABOVE each bucket — the
    // x-desc running max crosses bucket boundaries through this
    val suffix = new Array[Any](bm.length)
    var run: Any = null
    for (i <- bm.indices.reverse) {
      suffix(i) = run
      run = if (run == null || TwoPhase.cmpLt(run, bm(i)._2)) bm(i)._2
        else run
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        bm.indices.map(i => Row(bm(i)._1, suffix(i))), 1),
      StructType(Seq(StructField("__b", IntegerType, nullable = false),
        StructField("__sm", perX.schema("__my").dataType))))
    val wB = Window.partitionBy("__b").orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bucketed.join(broadcast(offDf), Seq("__b"))
      .withColumn("__run",
        greatest(max(col("__my")).over(wB), col("__sm")))
      .filter(col("__run").isNull || col("__my") > col("__run"))
      .select(col(xCol), col("__my").as(yCol))
    rows.join(frontier, Seq(xCol, yCol), "left_semi")
  }

  /** Exact two-sample Kolmogorov–Smirnov distance — the standard
    * distributional-drift test to pair with the categorical chi-square
    * ([[chiAssoc]]) and the earth-mover distance ([[numericDrift]]):
    * KS reacts to the largest LOCAL gap between the two empirical CDFs
    * where EMD integrates all of them. D = max_v |F_a(v) − F_b(v)| is
    * computed without any floating point: per distinct value, the
    * cross-multiplied deviation |cumA·n_b − cumB·n_a| (exact
    * decimal(38,0) products — no overflow at any corpus size), maxed,
    * and divided out to a double only in the final single expression
    * both engines evaluate identically.
    *
    * Plan: one count-agg per side (map-side partial — the cumulative
    * pass then runs on |distinct values| rows, not sample rows), one
    * full-outer merge on the value, and TWO-PHASED prefix sums: the
    * support is data-growing for continuous metrics, so instead of a
    * partition-less window the cumulative runs PARTITIONED by a
    * [[TwoPhase]] bucket with each bucket's prefix offset (the earlier
    * buckets' totals, from one buckets-sized collect) broadcast back,
    * then one global max — same shape as [[numericDrift]], minus the
    * gap term KS doesn't need. No partition-less WindowExec anywhere
    * (PlanAuditSpec's engine-wide audit pins it).
    *
    * Small supports take the original single-window form behind the
    * same MEASURED `maxSingleTask` guard as [[numericDrift]] — see
    * there for the rationale, cache policy, and parity pinning.
    */
  def ksDrift(a: DataFrame, b: DataFrame, valCol: Column,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = (c: Column) => c.cast("decimal(38,0)")
    val ca = a.select(valCol.as("__v")).groupBy("__v")
      .agg(count(lit(1)).as("__na"))
    val cb = b.select(valCol.as("__v")).groupBy("__v")
      .agg(count(lit(1)).as("__nb"))
    // cached for the same multi-action reason as numericDrift
    // (MEMORY_ONLY: LRU-bounded, recompute bit-exact)
    val merged = ca.join(cb, Seq("__v"), "full_outer")
      .na.fill(0L, Seq("__na", "__nb"))
      .transform(Materialize.memory)
    val n = merged.count()
    if (n <= maxSingleTask) {
      val wc = Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      return merged
        .withColumn("__ca", sum(col("__na")).over(wc))
        .withColumn("__cb", sum(col("__nb")).over(wc))
        .withColumn("__nat", sum(col("__na")).over(wAll))
        .withColumn("__nbt", sum(col("__nb")).over(wAll))
        .agg(max(col("__nat")).as("n_a"), max(col("__nbt")).as("n_b"),
          max(abs(d(col("__ca")) * d(col("__nbt")) -
            d(col("__cb")) * d(col("__nat")))).as("__d"))
        .select(col("n_a"), col("n_b"),
          col("__d").cast("long").as("d_num"),
          (col("__d").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
            .as("ks"))
    }
    val spark = a.sparkSession
    val sp = TwoPhase.splits(merged, "__v", TwoPhase.buckets(merged),
      knownCount = n)
    val bucketed = merged
      .withColumn("__b", TwoPhase.bucketCol(col("__v"), sp))
    val summary = bucketed.groupBy("__b")
      .agg(sum(col("__na")).as("sa"), sum(col("__nb")).as("sb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val natTot = summary.map(_._2).sum
    val nbtTot = summary.map(_._3).sum
    val offA = summary.map(_._2).scanLeft(0L)(_ + _).init
    val offB = summary.map(_._3).scanLeft(0L)(_ + _).init
    import spark.implicits._
    val offDf = summary.indices
      .map(i => (summary(i)._1, offA(i), offB(i)))
      .toDF("__b", "__offa", "__offb")
    val wBc = Window.partitionBy("__b").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(offDf), Seq("__b"))
      .withColumn("__ca", sum(col("__na")).over(wBc) + col("__offa"))
      .withColumn("__cb", sum(col("__nb")).over(wBc) + col("__offb"))
      // max(lit) not lit: empty input must keep yielding NULL totals,
      // exactly as the single-window form's max over zero rows did
      .agg(max(lit(natTot)).as("n_a"), max(lit(nbtTot)).as("n_b"),
        max(abs(d(col("__ca")) * d(lit(nbtTot)) -
          d(col("__cb")) * d(lit(natTot)))).as("__d"))
      .select(col("n_a"), col("n_b"),
        col("__d").cast("long").as("d_num"),
        // cast EACH count before multiplying — the long product wraps
        // past ~3e9 rows per side; the double product does not
        (col("__d").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("ks"))
  }

  /** Per-group equi-WIDTH histogram (k fixed-width buckets spanning
    * [min, max]) — the profiling complement of the equi-depth bounds
    * ([[equiDepthBounds]]): depth answers "where are the quantiles",
    * width answers "what does the shape look like". Bucket assignment
    * is exact integer arithmetic, bucket = (v−mn)·k div (mx−mn+1), so
    * every engine bins identically (no float widths, no edge epsilon).
    * Empty buckets are omitted (a 100 TB profile of a sparse range
    * should not emit k rows per group regardless of occupancy; outer-
    * join a `sequence(0, k-1)` frame if a dense grid is wanted).
    *
    * Plan: one bounds-agg on the group key (tiny — broadcast back),
    * one count-agg on (group, bucket). Both shuffles carry map-side
    * partials; nothing is row-ordered, so the shape survives any skew
    * AQE can't already handle.
    */
  def equiWidthHist(df: DataFrame, groupCol: String, valCol: Column,
      k: Int): DataFrame = {
    require(k > 0, "equiWidthHist: k must be positive")
    val vals = df.select(col(groupCol), valCol.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val bounds = vals.groupBy(groupCol)
      .agg(min(col("__v")).as("mn"), max(col("__v")).as("mx"))
      .withColumnRenamed(groupCol, "__g")
    // null-safe group join — see winsorizeByGroup
    vals.join(broadcast(bounds), col(groupCol) <=> col("__g"))
      .drop("__g")
      .withColumn("bucket",
        expr(s"((__v - mn) * $k) div (mx - mn + 1)"))
      .groupBy(col(groupCol), col("bucket"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", col("mn") + expr(s"(bucket * (mx - mn + 1)) div $k"))
      .select(col(groupCol), col("bucket"), col("lo"), col("n"),
        col("mn"), col("mx"))
  }

  /** Multi-class classifier evaluation from (guess, truth) pairs:
    * per-class confusion counts (tp/fp/fn) and precision/recall/F1.
    * The class axis is the union of predicted and true labels (a class
    * the model never predicts still reports recall; a hallucinated
    * label still reports precision). Ratios are each ONE double
    * division (then ×1e6 floor-truncation), the engine-portable recipe
    * every scored operator here uses; degenerate denominators yield
    * null, not NaN.
    *
    * Plan: one count-agg on (guess, truth) — at most |classes|² rows —
    * then two tiny rollups and a full-outer merge on the class label.
    * Everything after the first agg is broadcast-scale at any corpus
    * size.
    */
  def classifierEval(df: DataFrame, guessCol: Column, truthCol: Column)
      : DataFrame = {
    val conf = df.select(guessCol.as("__g"), truthCol.as("__t"))
      .groupBy("__g", "__t").agg(count(lit(1)).as("__n"))
    val byGuess = conf.groupBy(col("__g").as("cls"))
      .agg(sum(col("__n")).as("__npred"),
        sum(when(col("__t") === col("__g"), col("__n"))
          .otherwise(lit(0L))).as("__tpg"))
    val byTruth = conf.groupBy(col("__t").as("cls"))
      .agg(sum(col("__n")).as("__ntrue"))
    val score6 = (num: Column, den: Column) =>
      when(den > 0, floor(num.cast("double") / den.cast("double")
        * lit(1e6)).cast("long"))
    byGuess.join(byTruth, Seq("cls"), "full_outer")
      .na.fill(0L, Seq("__npred", "__tpg", "__ntrue"))
      .select(col("cls"), col("__tpg").as("tp"),
        (col("__npred") - col("__tpg")).as("fp"),
        (col("__ntrue") - col("__tpg")).as("fn"))
      .withColumn("prec6", score6(col("tp"), col("tp") + col("fp")))
      .withColumn("rec6", score6(col("tp"), col("tp") + col("fn")))
      .withColumn("f16", score6(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn")))
  }

  /** Cohen's kappa (Cohen 1960) — chance-corrected agreement between
    * two label columns (two annotators, or a classifier vs truth).
    * Accuracy alone flatters any rater on a skewed label distribution;
    * kappa subtracts the agreement the marginals would produce by
    * chance: κ = (p_o − p_e)/(1 − p_e). The whole statistic is exact
    * integer/decimal arithmetic over counts:
    *   p_o = agree/n,  p_e = Σ_c nA_c·nB_c / n²,
    *   κ_num = agree·n − Σ_c nA_c·nB_c,  κ_den = n² − Σ_c nA_c·nB_c
    * reported as ppm floors (κ as sign·(|num|·10⁶ div den) — explicit
    * sign split so the truncation direction is engine-independent for
    * negative kappa). Nulls are ordinary labels (null-safe equality
    * for agreement, groupBy for marginals). Perfect-chance degenerate
    * input (κ_den = 0, e.g. both raters constant) yields null.
    *
    * Plan: one (a, b) count-agg — at most |classes|² rows — then
    * literal-sized rollups and a 1-row × 1-row join. Broadcast-scale
    * after the first agg at any corpus size.
    */
  def agreementKappa(df: DataFrame, aCol: Column, bCol: Column)
      : DataFrame = {
    val conf = df.select(aCol.as("__a"), bCol.as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__n"))
    val byA = conf.groupBy(col("__a").as("cls"))
      .agg(sum(col("__n")).as("__na"))
    val byB = conf.groupBy(col("__b").as("cls"))
      .agg(sum(col("__n")).as("__nb"))
    val chance = byA.join(byB, Seq("cls"), "full_outer")
      .na.fill(0L, Seq("__na", "__nb"))
      .agg(coalesce(
        sum(col("__na").cast("decimal(38,0)") * col("__nb")),
        lit(0).cast("decimal(38,0)")).as("__S"))
    conf
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n"),
        coalesce(sum(when(col("__a") <=> col("__b"), col("__n"))
          .otherwise(lit(0L))), lit(0L)).as("agree"))
      .crossJoin(chance) // two 1-row aggregates
      .withColumn("__num", expr("cast(agree AS decimal(38,0)) * n - __S"))
      .withColumn("__den", expr("cast(n AS decimal(38,0)) * n - __S"))
      .select(col("n"), col("agree"),
        when(col("n") > 0,
          expr("(cast(agree AS decimal(38,0)) * 1000000) div n")
            .cast("long")).as("po_ppm"),
        when(col("n") > 0,
          expr("(__S * 1000000) div (cast(n AS decimal(38,0)) * n)")
            .cast("long")).as("pe_ppm"),
        when(col("__den") > 0,
          (when(col("__num") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(abs(__num) * 1000000) div __den").cast("long")))
          .as("kappa_ppm"))
  }

  /** Prefix sums over a per-group ordered support table — the shared
    * kernel behind [[rocAucByGroup]] and [[spearmanByGroup]]: for each
    * support row (g, v, counts…) the sum of each count over rows of
    * the same group with STRICTLY smaller v. A per-group distinct-value
    * support grows with the data for continuous columns, so a plain
    * `Window.partitionBy(g).orderBy(v)` would put one group's whole
    * support in one task — the same 100×-scale killer the two-phase
    * drift rewrites removed. Same cure, generalized to grouped form:
    * bucket v by split points collected once as plan literals (exact
    * for ANY monotone bucketing — they only steer balance), run the
    * cumulative window PARTITIONED by (g, bucket), and add per-(g,
    * bucket) offsets computed DISTRIBUTIVELY: a window over the
    * (g, bucket) totals table partitioned by g and ordered by bucket —
    * at most `TwoPhase.buckets` (≤ 64) rows per group at any scale, so
    * no driver collect and no single fat task anywhere. Below the
    * measured `maxSingleTask` support count the one-window-per-group
    * form runs instead (its input is ≤ maxSingleTask rows total by
    * construction — the same measured branch dictBuild/numericDrift
    * use, floor cost one count job).
    *
    * Contract: (g, v) pairs are distinct in `support` (it is the
    * output of a groupBy over exactly those columns at every call
    * site), so strict-below equals the ROWS-frame prefix.
    */
  private[graft] def groupedCumBelow(support: DataFrame,
      gCols: Seq[String], vCol: String, cntCols: Seq[String],
      maxSingleTask: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = support.count()
    def below(c: String) = s"__below_$c"
    if (n <= maxSingleTask) {
      val w = Window.partitionBy(gCols.map(col): _*).orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      cntCols.foldLeft(support)((df, c) =>
        df.withColumn(below(c), coalesce(sum(col(c)).over(w), lit(0L))))
    } else {
      val sp = TwoPhase.splits(support, vCol, TwoPhase.buckets(support),
        knownCount = n)
      val bucketed = support
        .withColumn("__b", TwoPhase.bucketCol(col(vCol), sp))
      val gb = (gCols :+ "__b").map(col)
      val perGB = bucketed.groupBy(gb: _*)
        .agg(sum(col(cntCols.head)).as(s"__s_${cntCols.head}"),
          cntCols.tail.map(c => sum(col(c)).as(s"__s_$c")): _*)
      val wOff = Window.partitionBy(gCols.map(col): _*)
        .orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = cntCols.foldLeft(perGB)((df, c) =>
          df.withColumn(s"__off_$c",
            coalesce(sum(col(s"__s_$c")).over(wOff), lit(0L))))
        .select(gb ++ cntCols.map(c => col(s"__off_$c")): _*)
      val wIn = Window.partitionBy(gb: _*).orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      cntCols.foldLeft(bucketed.join(offs, gCols :+ "__b"))((df, c) =>
          df.withColumn(below(c),
            coalesce(sum(col(c)).over(wIn), lit(0L)) +
              col(s"__off_$c")))
        .drop("__b")
        .drop(cntCols.map(c => s"__off_$c"): _*)
    }
  }

  /** Per-group ROC-AUC, exact (Mann-Whitney with the standard tie
    * correction): the probability a uniformly drawn positive outscores
    * a uniformly drawn negative, ties counting ½ — the
    * threshold-free quality-classifier audit (does the scorer actually
    * rank keep-worthy documents above junk?) that accuracy-at-a-cutoff
    * (q155/classifierEval) can't give. Per (group, distinct score s):
    * pos_s positives and neg_s negatives; then
    *   2·U = Σ_s pos_s · (2·negBelow(s) + neg_s),
    *   auc_ppm = ⌊10⁶ · 2U / (2·n_pos·n_neg)⌋
    * — integer end to end (products in decimal(38,0)), so any engine
    * reproduces it bit-for-bit. Scores must be integer-valued
    * (pre-scale to cents/ppm, the repo-wide discipline); null scores
    * are dropped (unscored rows), null labels count as negative.
    * Groups with no positives or no negatives yield null.
    *
    * Plan: one (g, s) count-agg over the corpus (map-side combine),
    * then [[groupedCumBelow]] on the distinct-score support — two-phase
    * partitioned windows above the measured single-task bound, never a
    * group-sized single task — and one final group agg. The support is
    * persisted MEMORY_ONLY across its multiple actions (guard count /
    * splits / reduction), same rationale as numericDrift.
    */
  def rocAucByGroup(df: DataFrame, groupCol: String, score: Column,
      label: Column,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val support = df
      .select(col(groupCol), score.cast("long").as("__s"),
        when(label, lit(1L)).otherwise(lit(0L)).as("__p"))
      .filter(col("__s").isNotNull)
      .groupBy(col(groupCol), col("__s"))
      .agg(sum(col("__p")).as("__pos"),
        (count(lit(1)) - sum(col("__p"))).as("__neg"))
      .transform(Materialize.memory)
    groupedCumBelow(support, Seq(groupCol), "__s", Seq("__neg"),
        maxSingleTask)
      .groupBy(col(groupCol))
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(d(col("__pos")) *
          (d(col("__below___neg")) * 2 + d(col("__neg")))).as("__num2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("(__num2 * 1000000) div " +
            "(cast(n_pos AS decimal(38,0)) * n_neg * 2)").cast("long"))
          .as("auc_ppm"))
  }

  /** Per-group Spearman rank correlation with average-rank ties —
    * Pearson on the rank transform, the standard monotone-association
    * audit (do two quality signals RANK documents the same way, even
    * when their scales disagree?). Ranks are exact integers in doubled
    * units (2·avgRank = 2·countBelow + ties + 1, always integral), built
    * from the per-group distinct-value supports via [[groupedCumBelow]]
    * and joined back to rows by (group, value) — two equi-joins, no
    * group-sized window task. The correlation itself is
    * [[pearsonByGroup]] on those exact rank integers: decimal(38,0)
    * sums, one final fixed double formula truncated to 6 dp (`rho6`) —
    * the scale-factor 2 cancels. Values must be integer-valued; rows
    * with a null on either side are dropped (rank positions must
    * agree across both columns). Zero rank variance (a constant
    * column) yields null.
    */
  def spearmanByGroup(df: DataFrame, groupCol: String, x: Column,
      y: Column,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    // NOTE (r16, measured and NOT adopted): a support-first reshape —
    // ONE (group, x, y) pair-support aggregation feeding both rank
    // tables and a weighted pearson — was A/B'd at sf0.1 and came back
    // 1.05 → 1.38 s (adjacent stash-pair min-of-5): the pair support
    // adds a corpus-wide exchange plus a pin materialization that
    // job-floor-dominates here, while this shape's extra corpus scans
    // are map-side-combined aggs and the rank joins stay broadcast.
    // At scale the trade flips only when the pair support is much
    // smaller than the corpus (near-continuous value pairs keep it
    // corpus-sized), so the three-scan shape stays.
    val rows = df.select(col(groupCol), x.cast("long").as("__x"),
        y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    def ranks2(vc: String, out: String): DataFrame = {
      val sup = rows.groupBy(col(groupCol), col(vc).as("__v"))
        .agg(count(lit(1)).as("__t"))
        .transform(Materialize.memory)
      groupedCumBelow(sup, Seq(groupCol), "__v", Seq("__t"),
          maxSingleTask)
        .select(col(groupCol), col("__v").as(vc),
          (col("__below___t") * 2 + col("__t") + 1).as(out))
    }
    val ranked = rows
      .join(ranks2("__x", "__rx2"), Seq(groupCol, "__x"))
      .join(ranks2("__y", "__ry2"), Seq(groupCol, "__y"))
    pearsonByGroup(ranked, groupCol, col("__rx2"), col("__ry2"))
      .withColumnRenamed("r6", "rho6")
  }

  /** Position-discount weights for [[rankingEval]]: ⌊2²⁰ / log₂(i+1)⌋
    * for i = 1..k. log₂ is irrational, but the positions are a FIXED
    * finite set, so the discounts enter the plan (and the graded
    * oracle, which is generated from this same function) as integer
    * literals — the Benford-ppm recipe: transcendental constants are
    * fine as long as they are constants, not per-row math.
    */
  def ndcgWeights(k: Int): Seq[Long] =
    (1 to k).map(i =>
      ((1L << 20).toDouble / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Ranking evaluation — NDCG@k and MRR@k per query group: does the
    * scorer put the relevant items FIRST, position-discounted? The
    * retrieval-quality audit next to q182's set-overlap ANN recall
    * (recall is order-blind; NDCG is the metric that actually grades
    * a ranked surface). Per group, items rank by (score desc, `tie`
    * asc — the caller supplies the total tie-break, so the ranking is
    * deterministic on any engine);
    *   DCG  = Σ_{i≤k} rel(item at i) · w(i),
    *   IDCG = the same sum over the top-k relevances in desc order,
    *   ndcg_ppm = ⌊10⁶·DCG/IDCG⌋,  rr_ppm = ⌊10⁶/firstRelPos⌋
    * with w(i) the fixed integer literals of [[ndcgWeights]] — every
    * number integer arithmetic end to end. Scores and gains must be
    * integer-valued; null score = unranked (dropped), null gain = 0,
    * gains must be non-negative. A group with zero relevant items in
    * its ideal top-k yields null ndcg (and null rr if none in the
    * actual top-k).
    *
    * Plan: BOTH rankings (actual and ideal) go through
    * [[Sampling.groupedRowNumber]] — range-partitioned global sort +
    * zipWithIndex, never a single-task-per-group window — then a
    * broadcast join against the k-row weight table and one group agg.
    * A billion-item query group costs two distributed sorts, not one
    * sequential task.
    */
  def rankingEval(df: DataFrame, groupCol: String, score: Column,
      tie: Column, rel: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 10000,
      s"rankingEval: k must be in [1, 10000] (got $k — the weight " +
        "table is a broadcast literal list)")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = broadcast(ndcgWeights(k).zipWithIndex
      .map { case (wt, i) => (i + 1L, wt) }.toDF("__pos", "__w"))
    val base = df.select(col(groupCol), score.cast("long").as("__sc"),
        tie.as("__tie"),
        coalesce(rel.cast("long"), lit(0L)).as("__rel"))
      .filter(col("__sc").isNotNull)
    // ACTUAL arm (r16 reshape, guide §2.3/§2.4): one distributed
    // ranking sort; the group size folds into the same aggregation
    // (left join against the k-row weight table keeps every row — w is
    // null past position k, so the DCG terms past k vanish from the
    // sum exactly as the old `__pos <= k` pre-filter dropped them) —
    // the previous shape scanned the corpus a THIRD time just to count
    // rows per group.
    val actual = Sampling.groupedRowNumber(base, groupCol,
        Seq(col("__sc").desc, col("__tie").asc), "__pos")
      .join(wDf, Seq("__pos"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__rel").cast("decimal(38,0)") * col("__w"))
          .cast("long").as("dcg_scaled"),
        min(when(col("__rel") > 0 && col("__pos") <= k, col("__pos")))
          .as("first_rel_pos"))
    // IDEAL arm (r16 reshape): the ideal ranking sorts by __rel alone,
    // so IDCG depends only on the per-group relevance MULTISET — a rel
    // value occupying ideal positions [above+1, above+cnt] contributes
    // rel · (W(min(above+cnt, k)) − W(min(above, k))) with W the
    // prefix sums of the weight literals. That needs the (group, rel)
    // support + a strict-above prefix count ([[groupedCumBelow]] on
    // the negated key, support-first like [[rocAucByGroup]]), never a
    // second corpus-wide ranking sort. Equality with the sort shape is
    // exact: within a rel run the positions are a permutation and the
    // weights sum over the same position set (Round16Spec pins it on
    // randomized inputs including ties across the k boundary).
    val relSup = Materialize.memory(
      base.groupBy(col(groupCol), negate(col("__rel")).as("__nr"))
        .agg(count(lit(1)).as("__c")))
    val wPrefix = ndcgWeights(k).scanLeft(0L)(_ + _)
    val wArr = typedLit(wPrefix)
    def wAt(j: Column): Column =
      element_at(wArr, (least(j, lit(k.toLong)) + 1).cast("int"))
    val ideal = groupedCumBelow(relSup, Seq(groupCol), "__nr",
        Seq("__c"), TwoPhase.defaultMaxSingleTask)
      .select(col(groupCol),
        (negate(col("__nr")).cast("decimal(38,0)") *
          (wAt(col("__below___c") + col("__c")) -
            wAt(col("__below___c"))).cast("decimal(38,0)")).as("__term"))
      .groupBy(col(groupCol))
      .agg(sum(col("__term")).cast("long").as("idcg_scaled"))
    actual.join(ideal, Seq(groupCol))
      .select(col(groupCol), col("n"), col("dcg_scaled"),
        col("idcg_scaled"),
        when(col("idcg_scaled") > 0,
          expr("(cast(dcg_scaled AS decimal(38,0)) * 1000000)" +
            " div idcg_scaled").cast("long")).as("ndcg_ppm"),
        col("first_rel_pos"),
        when(col("first_rel_pos").isNotNull,
          expr("1000000 div first_rel_pos").cast("long")).as("rr_ppm"))
  }

  /** Calibration audit (reliability diagram + ECE/MCE, Naeini et al.
    * AAAI'15 binning form) — the third axis of classifier evaluation
    * next to [[classifierEval]]'s point metrics and [[rocAucByGroup]]'s
    * threshold-free discrimination: when the scorer says 80%, is it
    * right 80% of the time? `confPpm` is the predicted probability in
    * ppm (integer 0..10⁶ — the repo-wide pre-scaled discipline); rows
    * bin into `bins` equal-width confidence buckets (10⁶ lands in the
    * top bin), and per bin the audit reports n, positives, exact mean
    * confidence and accuracy floors, and the signed gap. The headline
    * numbers repeat on every row (1-row broadcast crossJoin, never a
    * partition-less window):
    *   ece_ppm = ⌊Σ_b |10⁶·pos_b − sumconf_b| / n⌋   (the weighted
    *     |acc−conf| sum — one floor at the END, not per bin),
    *   mce_ppm = max_b ⌊|10⁶·pos_b − sumconf_b| / n_b⌋.
    * Null confidence = unscored (dropped); null label = negative;
    * confidence outside [0, 10⁶] raises (per-row guard, no extra job).
    * All arithmetic integer/decimal — engine-exact. One count-agg over
    * the corpus + literal-sized rollups.
    */
  def calibrationAudit(df: DataFrame, confPpm: Column, label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 10000,
      s"calibrationAudit: bins must be in [1, 10000] (got $bins)")
    val c = when(confPpm.isNull, confPpm)
      .when(confPpm >= 0 && confPpm <= 1000000L, confPpm)
      .otherwise(raise_error(concat(
        lit("calibrationAudit: confPpm out of [0, 1000000]: "),
        confPpm.cast("string"))))
      .cast("long")
    val perBin = df
      .select(c.as("__c"),
        when(label, lit(1L)).otherwise(lit(0L)).as("__p"))
      .filter(col("__c").isNotNull)
      .withColumn("__bin",
        expr(s"least(${bins - 1}L, (__c * $bins) div 1000000)"))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("pos"),
        sum(col("__c").cast("decimal(38,0)")).as("__sumc"))
      .withColumn("__dev",
        abs(col("pos").cast("decimal(38,0)") * 1000000L - col("__sumc")))
    val tot = perBin.agg(
      sum(col("n")).as("__N"),
      sum(col("__dev")).as("__devsum"),
      max(expr("cast(__dev div n AS long)")).as("mce_ppm"))
    perBin.crossJoin(broadcast(tot)) // 1-row headline
      .select(col("bin"), col("n"), col("pos"),
        expr("cast(__sumc div n AS long)").as("avg_conf_ppm"),
        expr("cast((pos * 1000000) div n AS long)").as("acc_ppm"),
        expr("cast((pos * 1000000) div n AS long)" +
          " - cast(__sumc div n AS long)").as("gap_ppm"),
        expr("cast(__devsum div __N AS long)").as("ece_ppm"),
        col("mce_ppm"))
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for a
    * FIXED number of raters per item, the multi-annotator form
    * [[agreementKappa]]'s two-column contract can't express (three
    * LLM judges labeling the same corpus). Input is long form: one row
    * per (item, rater) with a category; every item must be rated by
    * exactly the same number of raters n ≥ 2 (checked — one bounded
    * agg job, loud failure). Duplicate (item, rater) rows are the
    * caller's bug: they trip the check when they unbalance per-item
    * totals, but UNIFORM duplication passes it and inflates n —
    * dedupe upstream if the input can repeat. With n_ic the
    * per-(item, category) counts, N items, n raters:
    *   P̄  = (Σ_ic n_ic² − N·n) / (N·n·(n−1)),
    *   P̄e = Σ_c (Σ_i n_ic)² / (N·n)²,
    *   κ  = (P̄ − P̄e)/(1 − P̄e) = (A·D − B·C) / (B·(D − C))
    *        with A = Σn_ic²−Nn, B = Nn(n−1), C = Σ_c T_c², D = (Nn)².
    * The distributed work is the (item, category) count-agg and its
    * two rollups; the final κ is O(1) arithmetic over FOUR scalars,
    * finished driver-side in BigInt (A·D alone overflows decimal(38,0)
    * near N ~ 10⁹ — exact integers at any corpus size matter more than
    * plan purity for a 1-row result; precedent: TwoPhase's bounded
    * collects). Returned as a 1-row DataFrame of ppm floors with the
    * [[agreementKappa]] sign-split discipline; κ is null when the
    * denominator is ≤ 0 (P̄e = 1: all mass in one category).
    */
  def fleissKappa(df: DataFrame, itemCol: String, raterCol: String,
      catCol: String): DataFrame = Materialize.scope {
    val spark = df.sparkSession
    import spark.implicits._
    val nic = df.select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(catCol).as("__c"))
      .groupBy("__i", "__c").agg(count(lit(1)).as("__n"))
      .transform(Materialize.memory)
    val perItem = nic.groupBy("__i")
      .agg(sum(col("__n")).as("__ni"),
        sum(col("__n").cast("decimal(38,0)") * col("__n")).as("__s2i"))
    // one bounded collect: only "exactly one distinct raters-per-item
    // value" matters, so limit(2) suffices — a contract-violating
    // input with millions of distinct counts must not do an unbounded
    // driver collect (or build a huge error string) just to fail
    // (krippendorffAlpha's maxDistinctM+1 bound, same discipline)
    val nDist = perItem.groupBy("__ni").agg(count(lit(1)).as("__cnt"),
        sum(col("__s2i")).as("__s2"))
      .limit(2).collect()
    if (nDist.isEmpty) // empty input: degenerate 1-row, all null
      Seq((0L, 0L, Option.empty[Long], Option.empty[Long],
        Option.empty[Long]))
        .toDF("n_items", "n_raters", "pbar_ppm", "pe_ppm", "kappa_ppm")
    else {
      require(nDist.length == 1,
        "fleissKappa: every item must have the same rater count (got " +
          s">= 2 distinct counts, e.g. ${nDist.map(_.get(0)).mkString(", ")})")
      val n = nDist.head.getLong(0)
      require(n >= 2, s"fleissKappa: need >= 2 raters per item (got $n)")
      val nItems = nDist.head.getLong(1) // Σ items, same collected row
      val s2 = BigInt(nDist.head.getDecimal(2).toBigInteger)
      val tc = nic.groupBy("__c").agg(sum(col("__n")).as("__t"))
        .agg(sum(col("__t").cast("decimal(38,0)") * col("__t")).as("__tt"))
        .collect().head.getDecimal(0)
      val c = BigInt(tc.toBigInteger)
      val bigN = BigInt(nItems) * n
      val a = s2 - bigN
      val b = bigN * (n - 1)
      val dd = bigN * bigN
      def ppm(num: BigInt, den: BigInt): Option[Long] =
        if (den > 0) Some(((num.abs * 1000000 / den) * num.signum).toLong)
        else None
      val kNum = a * dd - b * c
      val kDen = b * (dd - c)
      Seq((nItems, n, ppm(a, b), ppm(c, dd), ppm(kNum, kDen)))
        .toDF("n_items", "n_raters", "pbar_ppm", "pe_ppm", "kappa_ppm")
    }
  }

  /** EXACT per-group quantiles at corpus scale — the third point on
    * the repo's quantile spectrum: q61's builtin `percentile` is exact
    * but sorts every group's full value multiset through one task;
    * [[Sketches.sampleQuantiles]] is one-pass but sampled. This is
    * exact AND scale-safe: it reduces the corpus to the per-group
    * DISTINCT-VALUE support with counts (one map-side-combined agg),
    * runs [[groupedCumBelow]] over the support (two-phase partitioned
    * windows above the measured single-task bound), and reads each
    * quantile as the unique support row whose cumulative range covers
    * the rank — a billion-row group costs its support size, never a
    * group-sized sort task. Quantiles are ppm integers; the rank is
    * the lower empirical quantile r = (q·(n−1)) div 10⁶ + 1 (q=0 →
    * min, q=10⁶ → max), engine-exact by construction. Values must be
    * integer-valued; nulls drop. One output row per (group, q_ppm).
    */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String, x: Column,
      qPpm: Seq[Long],
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    require(qPpm.nonEmpty && qPpm.size <= 1000,
      s"exactQuantilesByGroup: 1..1000 quantiles (got ${qPpm.size} — " +
        "the list becomes a plan-literal explode)")
    require(qPpm.forall(q => q >= 0 && q <= 1000000L),
      s"exactQuantilesByGroup: q_ppm must be in [0, 1000000]")
    val support = df.select(col(groupCol), x.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .transform(Materialize.memory)
    quantilesFromSupport(support, groupCol, qPpm, maxSingleTask)
  }

  /** The support-input half of [[exactQuantilesByGroup]]: quantiles
    * from an already-built (group, __v, __c) distinct-value support —
    * callers that ALREADY hold a support (robustProfile's deviation
    * pass) read their quantiles without a second corpus pass. The
    * input should be pinned by the caller (it is consumed by the rank
    * table and the cumulative pass).
    */
  private[graft] def quantilesFromSupport(support: DataFrame,
      groupCol: String, qPpm: Seq[Long],
      maxSingleTask: Long): DataFrame = {
    // rank table: |groups|·|qs| rows — the decimal rank arithmetic
    // runs HERE, once per (group, q), so the per-support-row work
    // below is a join probe + two long compares (measured 2×+ win
    // over evaluating the decimal div per support row per quantile)
    val ranks = support.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n"))
      .withColumn("q_ppm", explode(array(qPpm.map(lit): _*)))
      // decimal product: q·(n−1) overflows long only past n ~ 9·10¹²
      .withColumn("__r", expr(
        "(cast(q_ppm AS decimal(38,0)) * (n - 1)) div 1000000 + 1")
        .cast("long")) // the rank itself is ≤ n: always a long
    groupedCumBelow(support, Seq(groupCol), "__v", Seq("__c"),
        maxSingleTask)
      .join(ranks, groupCol)
      .filter(col("__below___c") < col("__r") &&
        col("__r") <= col("__below___c") + col("__c"))
      .select(col(groupCol), col("q_ppm"), col("n"),
        col("__v").as("value"))
  }

  /** Per-group percentile-rank / CDF table — the rank-normalization
    * transform (map a value to its quantile position, the
    * scale-free feature encoding) as a SUPPORT-sized table to join
    * back wherever needed, rather than a per-row window pass:
    *   pr_ppm  = ⌊10⁶ · below / (n−1)⌋   (SQL percent_rank of the
    *     value's first row; null for single-row groups),
    *   cdf_ppm = ⌊10⁶ · (below + cnt) / n⌋   (inclusive ECDF).
    * Exact integers via [[groupedCumBelow]] — no group-sized window
    * task at any support size; one output row per (group, value).
    */
  def percentileRank(df: DataFrame, groupCol: String, x: Column,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    val support = df.select(col(groupCol), x.cast("long").as("value"))
      .filter(col("value").isNotNull)
      .groupBy(col(groupCol), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Materialize.memory)
    val totals = support.groupBy(col(groupCol))
      .agg(sum(col("cnt")).as("n"))
    groupedCumBelow(support, Seq(groupCol), "value", Seq("cnt"),
        maxSingleTask)
      .join(totals, groupCol)
      .select(col(groupCol), col("value"), col("cnt"), col("n"),
        when(col("n") > 1, expr(
          "cast((cast(__below_cnt AS decimal(38,0)) * 1000000)" +
            " div (n - 1) AS long)")).as("pr_ppm"),
        expr("cast(((cast(__below_cnt AS decimal(38,0)) + cnt)" +
          " * 1000000) div n AS long)").as("cdf_ppm"))
  }

  /** One-sample Kolmogorov-Smirnov statistic against the CONTINUOUS
    * uniform on [0, m) — the distribution audit for the engine's own
    * hash discipline (md5-derived coordinates drive hashSplit /
    * negativeSample / ppsTake; this measures how uniform they actually
    * are), and the one-sample complement of ksDrift's two-sample form.
    * D = sup_v max((below+cnt)·m − v·n, v·n − below·m) / (n·m) — the
    * two one-sided gaps at each ECDF jump, exact decimal integers
    * inside (n·m overflows a long already at n ~ 2·10⁹ for m = 2³²),
    * reported as d_ppm = ⌊10⁶·maxNum/(n·m)⌋. Values outside [0, m)
    * raise per row. 1-row output; empty input yields an empty frame.
    *
    * Plan: value-support count-agg, [[groupedCumBelow]] under a
    * constant group (two-phase partitioned windows above the measured
    * bound — a billion-value support never funnels one sort task),
    * one max-agg.
    */
  def ksUniform(df: DataFrame, x: Column, m: Long,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    require(m >= 1, s"ksUniform: m must be >= 1 (got $m)")
    val v = when(x.isNull, x)
      .when(x >= 0 && x < m, x)
      .otherwise(raise_error(concat(
        lit(s"ksUniform: value out of [0, $m): "), x.cast("string"))))
      .cast("long")
    val support = df.select(v.as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .withColumn("__g", lit(1))
      .transform(Materialize.memory)
    val d = (c: Column) => c.cast("decimal(38,0)")
    groupedCumBelow(support, Seq("__g"), "__v", Seq("__c"),
        maxSingleTask)
      .crossJoin(broadcast(
        support.agg(coalesce(sum(col("__c")), lit(0L)).as("n"))))
      .withColumn("__dev", greatest(
        (d(col("__below___c")) + col("__c")) * m - d(col("__v")) * col("n"),
        d(col("__v")) * col("n") - d(col("__below___c")) * m))
      .groupBy(col("n"))
      .agg(max(col("__dev")).as("__dnum"))
      .select(col("n"),
        expr("cast((__dnum * 1000000)" +
          " div (cast(n AS decimal(38,0)) * " + m + "L) AS long)")
          .as("d_ppm"))
  }

  /** Robust per-group outlier profile — median / MAD / outlier count,
    * the outlier audit that survives what it measures (mean/stddev
    * move with every outlier they're supposed to flag; the median and
    * the median absolute deviation have 50% breakdown). Exact at any
    * scale: both medians come from [[exactQuantilesByGroup]] (support
    * counts + grouped two-phase cumsum — no group-sized sort task),
    * and the flag is pure integer arithmetic:
    *   outlier ⇔ |x − med| · kDen > kNum · mad
    * with the fence k = kNum/kDen rational so callers can fold in the
    * 1.4826 normal-consistency constant exactly (e.g. the classic
    * "3 robust sigmas" is kNum=44478, kDen=10000). A zero-MAD group
    * (over half the mass on one value) flags every x ≠ med — the
    * textbook caveat, documented rather than papered over. Values
    * must be integer-valued; nulls drop.
    *
    * Plan (r15, support-first): ONE corpus pass builds the (group, x)
    * distinct-value support; the median reads from it, the deviation
    * support derives from it by pure arithmetic on (value, count)
    * rows — |x−med| groups with summed counts ≡ the deviation
    * multiset — and the final stats aggregate the deviation support.
    * The previous shape fed corpus ROWS to both quantile passes and
    * the final agg, and because none of the intermediates were
    * pinned, Spark re-planned the corpus subtree per consumer — the
    * r15 plan audit counted the source scanned 20× (2.05 s at sf0.1;
    * 1.6 s after — the rest is stage count, not data volume).
    * Everything after the one pass is support-sized.
    */
  def robustProfile(df: DataFrame, groupCol: String, x: Column,
      kNum: Long, kDen: Long,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    require(kNum >= 0 && kDen > 0,
      s"robustProfile: need kNum >= 0, kDen > 0 (got $kNum/$kDen)")
    val support = df.select(col(groupCol), x.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .transform(Materialize.memory)
    val med = Materialize.memory( // |groups| rows; consumed twice
      quantilesFromSupport(support, groupCol, Seq(500000L),
        maxSingleTask)
        .select(col(groupCol), col("value").as("median")))
    val devSupport = Materialize.memory(
      support.join(med, groupCol)
        .select(col(groupCol),
          abs(col("__v") - col("median")).as("__v"), col("__c"))
        .groupBy(col(groupCol), col("__v"))
        .agg(sum(col("__c")).as("__c")))
    val mad = quantilesFromSupport(devSupport, groupCol, Seq(500000L),
        maxSingleTask)
      .select(col(groupCol), col("value").as("mad"))
    devSupport.join(mad, groupCol).join(med, groupCol)
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n"), min(col("median")).as("median"),
        min(col("mad")).as("mad"), // constant per group: min = the value
        sum(when(col("__v").cast("decimal(38,0)") * kDen >
          col("mad").cast("decimal(38,0)") * kNum, col("__c"))
          .otherwise(0L)).as("n_outliers"))
  }

  /** Exact per-group trimmed mean — the robust location estimator
    * between the mean (0% trim) and the median (50% trim): drop the
    * lowest and highest ⌊n·trimPpm/10⁶⌋ values by rank, average the
    * rest. Exact at any scale via the support kernel: each distinct
    * value's kept multiplicity is the overlap of its cumulative rank
    * range (below, below+cnt] with the kept band (lo, n−lo], so the
    * whole statistic is ONE pass over the support — no sort-and-slice
    * of the group, no window over rows:
    *   kept_c(v) = max(0, min(below+cnt, n−lo) − max(below, lo)),
    *   tmean6   = ⌊10⁶ · Σ v·kept_c / n_kept⌋  (sign-split floor —
    *     values may be negative).
    * Since trimPpm < 50%, 2·lo = 2·⌊n·t⌋ < n, so every group keeps at
    * least one value (the n_kept > 0 guard is defensive, spec'd as an
    * invariant). Values must be integer-valued; nulls drop.
    */
  def trimmedMean(df: DataFrame, groupCol: String, x: Column,
      trimPpm: Long,
      maxSingleTask: Long = TwoPhase.defaultMaxSingleTask): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000L,
      s"trimmedMean: trimPpm must be in [0, 500000) (got $trimPpm — " +
        "at 50% nothing can remain; use the median)")
    val support = df.select(col(groupCol), x.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .transform(Materialize.memory)
    val bounds = support.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n"))
      .withColumn("__lo", expr(
        s"(cast($trimPpm AS decimal(38,0)) * n) div 1000000")
        .cast("long"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    groupedCumBelow(support, Seq(groupCol), "__v", Seq("__c"),
        maxSingleTask)
      .join(bounds, groupCol)
      .withColumn("__kept", greatest(lit(0L),
        least(col("__below___c") + col("__c"), col("n") - col("__lo"))
          - greatest(col("__below___c"), col("__lo"))))
      .groupBy(col(groupCol))
      .agg(min(col("n")).as("n"), min(col("__lo")).as("trimmed_each"),
        sum(col("__kept")).as("n_kept"),
        sum(d(col("__v")) * col("__kept")).as("__s"))
      .select(col(groupCol), col("n"), col("trimmed_each"),
        col("n_kept"),
        when(col("n_kept") > 0,
          (when(col("__s") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("cast((abs(__s) * 1000000) div n_kept AS long)")))
          .as("tmean6"))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 1970/2004) —
    * the agreement statistic for RAGGED rater counts, i.e. exactly the
    * input [[fleissKappa]]'s constant-n contract rejects loudly
    * (missing ratings are the NORM in real annotation projects).
    * Items with a single rating are excluded (nothing to pair); over
    * pairable items, with n_ic the per-(item, category) counts and
    * m_i = Σ_c n_ic:
    *   observed disagreement Σ_{c≠c'} o_cc' = Σ_i (m_i² − Σ_c n_ic²)
    *     / (m_i − 1)   (the coincidence-matrix off-diagonal mass),
    *   n·· = Σ m_i,  n_c = Σ_i n_ic,  D = n··² − Σ_c n_c²,
    *   α = 1 − (n··−1)·[Σ_m S_m/(m−1)] / D.
    * The distributed work is the (item, cat) count-agg, its per-item
    * rollup, a per-RATER-COUNT rollup (S_m per distinct m — bounded
    * by `maxDistinctM`, checked via a limited collect), and one
    * Σ n_c² decimal agg; the final α is exact BigInt FRACTION
    * arithmetic over those few scalars (the per-m denominators m−1
    * make it rational — gcd-reduced, never floating), ppm floor with
    * the [[agreementKappa]] sign split (α < 0 = systematic
    * disagreement). Null α when D = 0 (one category total) or
    * n·· < 2; a 1-row all-null frame on empty/unpairable input.
    */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
      raterCol: String, catCol: String,
      maxDistinctM: Int = 1000): DataFrame = Materialize.scope {
    val spark = df.sparkSession
    import spark.implicits._
    val nic = df.select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(catCol).as("__c"))
      .groupBy("__i", "__c").agg(count(lit(1)).as("__n"))
      .transform(Materialize.memory)
    val perItem = nic.groupBy("__i")
      .agg(sum(col("__n")).as("__m"),
        sum(col("__n").cast("decimal(38,0)") * col("__n")).as("__s2"))
      .filter(col("__m") >= 2)
    val byM = perItem.groupBy("__m")
      .agg(count(lit(1)).as("__cnt"),
        sum(col("__m").cast("decimal(38,0)") * col("__m") -
          col("__s2")).as("__sm"))
      .limit(maxDistinctM + 1).collect()
    require(byM.length <= maxDistinctM,
      s"krippendorffAlpha: more than $maxDistinctM distinct rater " +
        "counts — raise maxDistinctM deliberately")
    def nullRow = Seq((0L, 0L, Option.empty[Long]))
      .toDF("n_items", "n_values", "alpha_ppm")
    if (byM.isEmpty) nullRow
    else {
      val nItems = byM.map(_.getLong(1)).sum
      val nn = byM.map(r => r.getLong(0) * r.getLong(1)).map(BigInt(_)).sum
      val sc2 = BigInt(nic
        .join(perItem.select(col("__i")), "__i") // pairable items only
        .groupBy("__c").agg(sum(col("__n")).as("__t"))
        .agg(coalesce(sum(col("__t").cast("decimal(38,0)") * col("__t")),
          lit(0).cast("decimal(38,0)")).as("__sc2"))
        .collect().head.getDecimal(0).toBigInteger)
      val d = nn * nn - sc2
      // A = Σ_m S_m/(m−1) as an exact gcd-reduced fraction
      var (aNum, aDen) = (BigInt(0), BigInt(1))
      byM.foreach { r =>
        val m = BigInt(r.getLong(0))
        val sm = BigInt(r.getDecimal(2).toBigInteger)
        val den = m - 1
        aNum = aNum * den + sm * aDen
        aDen = aDen * den
        val g = aNum.gcd(aDen)
        if (g > 1) { aNum /= g; aDen /= g }
      }
      val alpha: Option[Long] =
        if (nn < 2 || d <= 0) None
        else {
          val num = d * aDen - (nn - 1) * aNum // α = num / (d·aDen)
          val den = d * aDen
          Some(((num.abs * 1000000 / den) * num.signum).toLong)
        }
      Seq((nItems, nn.toLong, alpha))
        .toDF("n_items", "n_values", "alpha_ppm")
    }
  }

  /** Per-group Gini concentration of a non-negative integer value
    * column — the corpus-concentration audit (is 90% of the training
    * data from 1% of the domains?). Exact closed form over ascending
    * ranks i = 1..n_g:
    *   gini_ppm = ⌊10⁶ · (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)⌋
    * — rank·value products are invariant under tie permutation
    * (swapping equal x between positions i, j changes nothing), so the
    * result is deterministic without a total tie-break. Negative
    * values raise per row (no extra pass); nulls drop; an all-zero or
    * empty group yields null. Sums in decimal(38,0): exact at any
    * corpus size.
    *
    * Plan: ranks from [[Sampling.groupedRowNumber]] (range-partitioned
    * global sort + zipWithIndex — a billion-row group never funnels
    * through one window task), then one group agg.
    */
  def giniConcentration(df: DataFrame, groupCol: String, x: Column)
      : DataFrame = {
    val v = when(x.isNull, x)
      .when(x >= 0, x)
      .otherwise(raise_error(concat(
        lit("giniConcentration: negative value: "), x.cast("string"))))
      .cast("long")
    val rows = df.select(col(groupCol), v.as("__x"))
      .filter(col("__x").isNotNull)
    val d = (c: Column) => c.cast("decimal(38,0)")
    Sampling.groupedRowNumber(rows, groupCol, Seq(col("__x")), "__i")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("total"),
        sum(d(col("__i")) * col("__x")).as("__ix"))
      .select(col(groupCol), col("n"), col("total"),
        when(col("total") > 0, expr(
          "cast(((2 * __ix - (cast(n AS decimal(38,0)) + 1) * total)" +
            " * 1000000) div (cast(n AS decimal(38,0)) * total)" +
            " AS long)")).as("gini_ppm"))
  }
}
