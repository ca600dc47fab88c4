package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint audit — the validation gate a
  * production ingest runs before publishing a table (the Spark-native
  * precedent is AWS Deequ; the reference's null/empty guards (F2) and
  * RI semi-filters (F7) are single instances of the same idea). Each
  * rule yields a (rule, violations) row; a clean table is all zeros.
  *
  * Scale shape: ALL row-local rules (not-null, range, set, regex)
  * compile into ONE aggregation over ONE scan — adding a rule adds a
  * conditional-sum expression, not a pass. `Unique` adds one
  * key-grouped aggregation (map-side combine; violations = surplus
  * rows beyond the first per key). `ForeignKey` adds one left-anti
  * join per referenced table (broadcast when the reference side is
  * small, which dimension tables are). Results union as 1-row frames —
  * no driver-side actions anywhere, the audit is itself one lazy plan.
  */
object Quality {

  sealed trait Rule { def name: String }

  /** Row-local rule: `violated` must be a boolean Column over one row. */
  sealed trait RowRule extends Rule { def violated: Column }

  case class NotNull(c: String) extends RowRule {
    val name = s"not_null($c)"
    def violated: Column = col(c).isNull
  }
  /** Violation when null or outside [lo, hi] (closed interval). */
  case class InRange(c: String, lo: Column, hi: Column) extends RowRule {
    val name = s"in_range($c)"
    def violated: Column = col(c).isNull || col(c) < lo || col(c) > hi
  }
  case class InSet(c: String, values: Seq[String]) extends RowRule {
    val name = s"in_set($c)"
    def violated: Column = col(c).isNull || !col(c).isin(values: _*)
  }
  case class MatchesRegex(c: String, pattern: String) extends RowRule {
    val name = s"matches($c)"
    def violated: Column = col(c).isNull || !col(c).rlike(pattern)
  }
  case class Unique(cols: Seq[String]) extends Rule {
    val name = s"unique(${cols.mkString(",")})"
  }
  /** Non-null values of `c` must appear in `ref`'s `refCol`. */
  case class ForeignKey(c: String, ref: DataFrame, refCol: String,
      refName: String) extends Rule {
    val name = s"fk($c->$refName)"
  }

  def audit(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "audit: need at least one rule")
    val rowRules = rules.collect { case r: RowRule => r }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (rowRules.nonEmpty) {
      val aggs = rowRules.map(r =>
        sum(when(r.violated, 1L).otherwise(0L)).as(r.name))
      parts += df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(rowRules.map(r => struct(
          lit(r.name).as("rule"),
          coalesce(col(s"`${r.name}`"), lit(0L)).as("violations"))): _*))
          .as("kv"))
        .select(col("kv.rule"), col("kv.violations"))
    }
    rules.foreach {
      case Unique(cols) =>
        parts += df.groupBy(cols.map(col): _*)
          .agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1)
          .agg(coalesce(sum(col("__c") - 1), lit(0L)).as("violations"))
          .select(lit(Unique(cols).name).as("rule"), col("violations"))
      case fk @ ForeignKey(c, ref, refCol, _) =>
        parts += df.filter(col(c).isNotNull)
          .join(ref.select(col(refCol).as(c)), Seq(c), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit(fk.name).as("rule"), col("violations"))
      case _: RowRule => // folded into the single-scan aggregation
    }
    parts.reduce(_ unionByName _)
  }

  /** Functional-dependency audit (profiling's key-discovery primitive):
    * does `lhs → rhs` hold? Returns the violating lhs groups — those
    * seeing more than one distinct rhs value — with their distinct-rhs
    * and row counts. An empty result certifies the dependency (e.g.
    * "doc_id determines lang", "custkey determines nation") before a
    * downstream join or dedup assumes it.
    *
    * One aggregation keyed by (lhs, rhs) then one by lhs — both
    * partial-aggregating map-side; nothing driver-side. At 100 TB the
    * first agg's key space is the distinct (lhs, rhs) pairs, which an
    * FD that HOLDS keeps at |lhs| — the audit is cheapest exactly when
    * it passes.
    */
  def fdViolations(df: DataFrame, lhs: Seq[String],
      rhs: String): DataFrame = {
    require(lhs.nonEmpty, "fdViolations: lhs must be non-empty")
    df.groupBy((lhs.map(col) :+ col(rhs)): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rhs"), sum("__c").as("n_rows"))
      .filter(col("n_rhs") > 1)
  }

  /** Per-column data profile — the summarize/describe table a
    * catalog keeps per dataset: one row per requested column with
    * null count, EXACT distinct count, and native-order min/max
    * (rendered as strings for the uniform schema). One branch per
    * column, unioned into a single job: each branch reads ONLY its
    * column (ReadSchema-pruned — total I/O equals one full-width
    * pass), hash-aggregates to the column's distinct values with
    * map-side combine, and reduces those to the four stats.
    *
    * Deliberately NOT the single-Aggregate multi-distinct form (the
    * pre-r15 shape): Spark rewrites k countDistincts into an
    * Expand×(k+1) of every row, and the string-typed min/max buffers
    * disqualify HashAggregate, so the whole chain fell back to
    * SortAggregate — a per-partition SORT of the k+1-fold expanded
    * corpus (r15 plan audit: Expand + 4 SortAggregates; 2.0 s vs
    * 0.7 s at sf0.1). Here grouping keys may be strings (hash-agg
    * fine); the string min/max runs over the distinct-value table
    * with NO grouping key, which needs no sort. Profiling output is
    * O(columns), independent of corpus size.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    cols.map { c =>
      df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c"))
        .agg(
          coalesce(sum(when(col("__v").isNull, col("__c"))), lit(0L))
            .as("n_nulls"),
          count(when(col("__v").isNotNull, lit(1))).as("n_distinct"),
          min(col("__v")).cast("string").as("vmin"),
          max(col("__v")).cast("string").as("vmax"))
        .select(lit(c).as("col_name"), col("n_nulls"),
          col("n_distinct"), col("vmin"), col("vmax"))
    }.reduce(_ unionByName _)
  }

  /** k-anonymity / l-diversity audit (Sweeney '02; Machanavajjhala '07)
    * — the privacy gate a dataset release runs before shipping: group
    * rows by the quasi-identifier columns and flag every equivalence
    * class that is too small (fewer than `k` members — re-identifiable
    * by linking the QI tuple to an external table) or too uniform
    * (fewer than `l` distinct sensitive values — the homogeneity
    * attack: membership alone reveals the sensitive attribute).
    * Returns only the VIOLATING classes with their size, sensitive
    * diversity, and which rule(s) failed.
    *
    * One aggregation keyed by the QI tuple with an exact distinct on
    * the sensitive column — partial-aggregating map-side; output is
    * O(violating classes), and at 100 TB the QI key space is the
    * class count, not the row count. No driver state.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String],
      sensitive: Column, k: Int, l: Int): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymityAudit: need quasi-identifiers")
    require(k >= 1 && l >= 1, "kAnonymityAudit: k and l must be >= 1")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("k_violation", (col("class_size") < k).cast("int"))
      .withColumn("l_violation", (col("n_sensitive") < l).cast("int"))
      .filter(col("k_violation") === 1 || col("l_violation") === 1)
  }

  /** Pairwise functional-dependency DISCOVERY over a bounded column
    * set — the level-1 lattice of TANE (Huhtala et al., Comput. J.
    * '99), the data-profiling complement to [[fdViolations]] (which
    * CHECKS a given FD; this one FINDS them). For every ordered pair
    * (a → b) of distinct columns, the g3 error (Kivinen & Mannila):
    * the minimum number of rows to remove for the FD to hold exactly,
    * = n_rows − Σ_a max_b |rows(a,b)| — integer-exact, so "holds" is
    * g3 = 0 and approximate FDs rank by g3 directly. Nulls group as
    * ordinary values (TANE's convention).
    *
    * Shape: one (a,b)-keyed aggregation per pair — c·(c−1) passes,
    * each reading ONLY its two columns (ReadSchema-pruned, so per-pass
    * IO is ~2/c of a full-width scan; map-side partial aggs
    * throughout, output is one row per pair). The quadratic pair
    * count is a PROFILE-scale contract: `cols` is CHECKED against a
    * hard bound and an over-wide set fails loudly rather than
    * launching hundreds of corpus passes.
    */
  def fdDiscover(df: DataFrame, cols: Seq[String],
      maxCols: Int = 12): DataFrame = {
    require(cols.size >= 2, "fdDiscover: need at least two columns")
    require(cols.distinct.size == cols.size,
      "fdDiscover: duplicate columns in the profile set")
    require(cols.size <= maxCols,
      s"fdDiscover: ${cols.size} columns means " +
        s"${cols.size * (cols.size - 1)} corpus passes — profile-scale " +
        "only; raise maxCols explicitly if that is intended")
    cols.flatMap(a => cols.filter(_ != a).map(b => (a, b)))
      .map { case (a, b) =>
        df.groupBy(col(a).as("__l"), col(b).as("__r"))
          .agg(count(lit(1)).as("__n"))
          .groupBy(col("__l"))
          .agg(max(col("__n")).as("__mx"), sum(col("__n")).as("__tot"))
          .agg(count(lit(1)).as("n_lhs"),
            sum(col("__tot") - col("__mx")).as("__g3"))
          .select(lit(a).as("lhs"), lit(b).as("rhs"), col("n_lhs"),
            coalesce(col("__g3"), lit(0L)).as("g3"),
            (coalesce(col("__g3"), lit(0L)) === 0).cast("int")
              .as("holds"))
      }
      .reduce(_ unionByName _)
  }

  /** Benford's-law first-significant-digit audit (Newcomb 1881 /
    * Benford 1938; Nigrini's fraud-detection staple): natural
    * multi-magnitude quantities put digit d first with probability
    * log10(1 + 1/d) — fabricated or truncated data doesn't. Per
    * group: the observed count of each leading digit 1-9 and a
    * scaled chi-square divergence against the Benford expectation.
    *
    * Exactness discipline: the input must be a non-negative INTEGER
    * column (pre-scale money to cents — a double's engine-specific
    * string rendering would break replay); the leading digit is the
    * first character of the integer's decimal string, and the
    * expectation enters as fixed ppm literals (301030, 176091, …),
    * so the statistic is floor-division integer arithmetic end to
    * end: chi2_scaled = Σ_d (obs_d·10⁶ − n·ppm_d)² div (n·ppm_d·10⁶).
    * (One floor per digit term; identical on any engine. The ÷10⁶
    * keeps the statistic in conventional chi-square units.)
    *
    * Shape: one projection (leading digit is a substring of the
    * already-materialized value) + one (group, digit) count-agg +
    * one 9-row-per-group pivot-free reduction — map-side combine
    * throughout, output O(groups). Zeros contribute nothing (no
    * leading digit); rows ≤ 0 are dropped with them.
    */
  def benfordAudit(df: DataFrame, groupCol: String, intValue: Column)
      : DataFrame = {
    // log10(1 + 1/d) in ppm, d = 1..9 (sums to 1e6 − 2 from floors)
    val ppm = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val digits = df
      .select(col(groupCol).as("g"), intValue.cast("long").as("__v"))
      .filter(col("__v") > 0)
      .select(col("g"),
        substring(col("__v").cast("string"), 1, 1).cast("int")
          .as("digit"))
    val counts = digits.groupBy("g", "digit")
      .agg(count(lit(1)).as("obs"))
    val totals = counts.groupBy("g").agg(sum("obs").as("n"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val expPpm = ppm.zipWithIndex.tail
      .foldLeft(when(col("digit") === 1, lit(ppm.head))) {
        case (acc, (p, i)) => acc.when(col("digit") === i + 1, lit(p))
      }
    // 9-digit spine per group: an EXPECTED digit that never occurs
    // still contributes its n·p/10⁶ chi-square mass (obs = 0), which
    // a counts-only sum would silently drop
    val spine = totals.crossJoin(broadcast(
      df.sparkSession.range(1, 10)
        .select(col("id").cast("int").as("digit"))))
      .join(counts, Seq("g", "digit"), "left")
      .na.fill(0L, Seq("obs"))
    spine
      .withColumn("__p", expPpm)
      .withColumn("__num",
        d(col("obs")) * lit(1000000L) - d(col("n")) * col("__p"))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n"),
        sum(expr("(__num * __num) div (cast(n as decimal(38,0))" +
          " * __p * 1000000)")).as("chi2_scaled"),
        sum(when(col("obs") > 0, 1).otherwise(0)).cast("long")
          .as("digits_seen"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE '07) — the
    * privacy metric l-diversity misses: an equivalence class can hold
    * `l` distinct sensitive values and still leak (skewness attack) if
    * its sensitive DISTRIBUTION differs from the table's. Per QI
    * class, this computes the earth-mover's distance between the
    * class's sensitive-value distribution and the global one:
    *
    *   - `ordered = true` (numeric/ordinal sensitive): the 1-D EMD
    *     with ground distance |i−j|/(m−1) over the m-value domain =
    *     Σ_{i<m} |cumsum_i(p − q)| / (m−1) — the paper's ordered form.
    *   - `ordered = false` (categorical): variational distance
    *     ½ Σ |p − q| — the paper's equal-ground-distance form.
    *
    * All arithmetic is EXACT: p − q per value is represented as the
    * integer `P·N − G·n_g` over the common denominator `n_g·N`
    * (decimal(38,0) — no floats, so the audit is hash-gradeable and
    * replayable on any engine). Output per class: the QI columns,
    * `class_size`, the distance as an exact rational
    * (`emd_num`/`emd_den`), and `t_ppm` = ⌊10⁶·num/den⌋ for direct
    * thresholding (t = 0.2 ⇔ t_ppm > 200000).
    *
    * Scale shape: one corpus aggregation keyed by (QI, v) feeds both
    * the per-class totals (second keyed agg over its output) and the
    * value spine; the global distribution is an m-row frame
    * (m = |sensitive domain|, CHECKED against `maxDomain` — the spine
    * is |classes|·m rows, so an unbounded domain would blow the plan
    * up; t-closeness is defined for bounded sensitive domains). The
    * spine join broadcasts the m-row side; the cumsum window is
    * PARTITIONED by the QI class (never global). Driver state: one
    * ≤ maxDomain-row collect for N and m — bounded by the guard.
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String], sensitive: Column,
      ordered: Boolean = true, maxDomain: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qiCols.nonEmpty, "tCloseness: need quasi-identifiers")
    val qs = qiCols.map(col)
    val base = df.select(qs :+ sensitive.as("__v"): _*)
      .filter(col("__v").isNotNull)
    // global sensitive distribution: m rows, bounded by the guard
    // below — feeds the guard count, the N/m collect, and the spine
    // join, so cache it (MEMORY_ONLY: LRU-bounded, recompute exact)
    val global = base.groupBy("__v").agg(count(lit(1)).as("__gc"))
      .transform(Materialize.memory)
    val m = global.count()
    require(m <= maxDomain,
      s"tCloseness: sensitive domain has $m values, exceeding " +
        s"maxDomain=$maxDomain — the per-class spine is |classes|*m " +
        "rows. Bucket the sensitive column to a bounded domain (as " +
        "the t-closeness model assumes), or raise maxDomain explicitly")
    if (m == 0)
      // empty input: no classes — typed empty result, no require noise
      return base.groupBy(qs: _*).agg(count(lit(1)).as("class_size"))
        .withColumn("emd_num", lit(0L))
        .withColumn("emd_den", lit(1L))
        .withColumn("t_ppm", lit(0L))
    require(m >= 2 || !ordered,
      "tCloseness(ordered): need >= 2 distinct sensitive values " +
        "(the ordered EMD normalizes by m-1)")
    val n = global.agg(sum("__gc")).collect()(0).getLong(0)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val perGV = base.groupBy(qs :+ col("__v"): _*)
      .agg(count(lit(1)).as("__p"))
    val classes = perGV.groupBy(qs: _*).agg(sum("__p").as("__ng"))
    // spine: every class × every sensitive value, zeros filled — the
    // cumsum below must see absent values (their diff is −G·n_g ≠ 0)
    val spine = classes.crossJoin(broadcast(global))
      .join(perGV, qiCols :+ "__v", "left")
      .na.fill(0L, Seq("__p"))
      .withColumn("__diff",
        d(col("__p")) * lit(n) - d(col("__gc")) * col("__ng"))
    val out =
      if (ordered) {
        val wc = Window.partitionBy(qs: _*).orderBy("__v")
        spine
          .withColumn("__cum", sum(col("__diff"))
            .over(wc.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .withColumn("__rn", row_number().over(wc))
          .groupBy(qs: _*)
          .agg(max(col("__ng")).as("class_size"),
            sum(when(col("__rn") < m, abs(col("__cum")))
              .otherwise(lit(0).cast("decimal(38,0)"))).as("emd_num"),
            (max(d(col("__ng"))) * lit(n) * lit(m - 1)).as("emd_den"))
      } else {
        // variational distance: ½Σ|p−q| — fold the ½ into the
        // denominator so the numerator stays integral
        spine.groupBy(qs: _*)
          .agg(max(col("__ng")).as("class_size"),
            sum(abs(col("__diff"))).as("emd_num"),
            (max(d(col("__ng"))) * lit(n) * lit(2)).as("emd_den"))
      }
    out.withColumn("t_ppm",
      expr("(emd_num * 1000000) div emd_den").cast("long"))
  }

  /** Chi-square independence audit between two categorical columns —
    * the 2-D analog of the Benford 1-D goodness-of-fit, and the
    * statistical complement of [[fdDiscover]]: g3 measures DETERMINED
    * dependence (a function), χ² measures distributional association
    * far short of it (do `source` and `lang` mix independently, or is
    * one source all-Chinese?). Uses the zero-cell-free identity
    *   χ² = n·(Σ_observed o²/(r_a·c_b)) − n
    * so only OBSERVED contingency cells are touched, reported as
    *   stat_ppm = Σ_cells ⌊10⁶·n·o²/(r_a·c_b)⌋ − 10⁶·n
    * — per-cell floors, so the value is engine-exact and within
    * |cells| ulps of true 10⁶·χ² (the transitions row-sum discipline).
    * Also Cramér's V² (the [0,1]-normalized effect size; squared —
    * its square root is irrational) as v2_ppm = stat_ppm div
    * (n·(min(|A|,|B|)−1)), and dof = (|A|−1)(|B|−1). Nulls are
    * ordinary categories. Groups with a single row or a single
    * category on either side yield null stat (dof 0).
    *
    * Plan: one (a, b) count-agg (cells ≤ |A|·|B|, map-side combined),
    * two marginal rollups joined back by key, one 1-row total
    * crossJoined — fully distributed, no collect, no window. Decimal
    * (38,0) per-cell terms: 10⁶·n·o² overflows (loudly, ANSI) only
    * past n ~ 2·10¹⁰ in the worst all-one-cell case.
    */
  def chiSquareIndependence(df: DataFrame, aCol: Column, bCol: Column)
      : DataFrame = {
    val cells = df.select(aCol.as("__a"), bCol.as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__o"))
    val ra = cells.groupBy("__a").agg(sum(col("__o")).as("__ra"))
    val cb = cells.groupBy("__b").agg(sum(col("__o")).as("__cb"))
    val tot = cells.agg(coalesce(sum(col("__o")), lit(0L)).as("n"),
      countDistinct(col("__a")).as("__ka"),
      countDistinct(col("__b")).as("__kb"))
    cells.join(ra, "__a").join(cb, "__b")
      .crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("__t", expr(
        "(cast(n AS decimal(38,0)) * 1000000 * __o * __o)" +
          " div (cast(__ra AS decimal(38,0)) * __cb)"))
      .groupBy(col("n"), col("__ka"), col("__kb"))
      .agg(count(lit(1)).as("n_cells"), sum(col("__t")).as("__s"))
      .select(col("n"),
        ((col("__ka") - 1) * (col("__kb") - 1)).as("dof"),
        col("n_cells"),
        // greatest(0, ·): the per-cell floors can dip a few ulps below
        // the true chi-square's 0 at perfect independence, and the two
        // engines' integer divisions disagree on negatives — clamping
        // at the true statistic's hard floor removes the ambiguity
        when(col("n") > 1 && col("__ka") > 1 && col("__kb") > 1,
          expr("cast(greatest(cast(0 AS decimal(38,0))," +
            " __s - cast(n AS decimal(38,0)) * 1000000) AS long)"))
          .as("stat_ppm"),
        when(col("n") > 1 && col("__ka") > 1 && col("__kb") > 1,
          expr("cast(greatest(cast(0 AS decimal(38,0))," +
            " __s - cast(n AS decimal(38,0)) * 1000000) div " +
            "(cast(n AS decimal(38,0)) * (least(__ka, __kb) - 1))" +
            " AS long)")).as("v2_ppm"))
  }
}
