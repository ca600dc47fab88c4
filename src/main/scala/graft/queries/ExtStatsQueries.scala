package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ext.{Bloom, Clustering, Dedup, Similarity, Sketches, Skew, TextStats}
import graft.streaming.EventsOps
import graft.queries.ExtHarness._
import graft.queries.ExtOracleShared._

/** statistics, data-quality audits, agreement/eval metrics (exact integer/decimal arithmetic) — one domain slice of the graded
  * extension-query registry. Pure registry split (r13 verdict item 7):
  * entries are verbatim from the pre-split ExtQueries.scala; shared
  * plumbing lives in [[ExtHarness]] (streaming replay, temp dirs) and
  * [[ExtOracleShared]] (portable oracle SQL fragments). Composed back
  * into the driver contract by [[ExtQueries]].
  */
private[queries] object ExtStatsQueries {
  val defs: Map[String, Q] = Map(

    // Corpus length-distribution stats per language — the numbers a
    // curation team sets its thresholds from. Exact interpolated
    // percentiles (Spark `percentile` == DuckDB `quantile_cont`
    // definition); integer inputs keep the interpolation arithmetic
    // bit-identical across engines.
    "q61_length_quantiles" -> ((s, d) => {
      documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n"),
          percentile(col("n_chars"), lit(0.25)).as("p25"),
          percentile(col("n_chars"), lit(0.5)).as("p50"),
          percentile(col("n_chars"), lit(0.75)).as("p75"),
          percentile(col("n_chars"), lit(0.95)).as("p95"))
        .orderBy("lang")
    }),

    // Typed Aggregator UDAF: per-label top-3 vectors by cosine vs the
    // query vector — bounded top-k buffers merged map/reduce-side, then
    // exploded to rows. Oracle replays via a row_number window.
    "q46_topk_udaf" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{ScoredId, TopKAggregator}
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").as("q_vec"),
          Similarity.l2norm(col("embedding")).as("q_nrm"))
      val scored = emb.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .select(col("label"), col("vec_id"),
          Similarity.trunc(Similarity.dot(col("embedding"), col("q_vec")) /
            (Similarity.l2norm(col("embedding")) * col("q_nrm")), 6)
            .as("score"))
      val topk = new TopKAggregator(3).toColumn
      scored.as[(Int, Long, Double)]
        .groupByKey(_._1)
        .mapValues(r => ScoredId(r._2, r._3))
        .agg(topk.name("top"))
        .toDF("label", "top")
        .select(col("label"), posexplode(col("top")).as(Seq("rank", "s")))
        .select(col("label"), (col("rank") + 1).as("rank"),
          col("s.id").as("vec_id"), col("s.score").as("score"))
        .orderBy("label", "rank")
    }),

    // Hashing-trick linear quality classifier: md5-bucketed token
    // features, integer weight sum over 128 (exact in double), keep =
    // positive logit. The fastText-scorer shape with deterministic
    // stand-in weights.
    "q92_quality_logit" -> ((s, d) =>
      TextStats.logitScore(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Snapshot diff by key (table-versioning audit): synthesize an
    // "after" snapshot with removals (%7), value changes (%2 price
    // doubled), and additions (%11 re-keyed), then classify via one
    // null-safe full-outer join. Unchanged rows never leave the join.
    "q103_table_diff" -> ((s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      val base = orders(s, d).select(cols.map(col): _*)
      val after = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 2 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .unionByName(base.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      graft.etl.Warehouse.tableDiff(base, after, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // Per-group Pearson r from exact decimal sums — order-independent
    // accumulation, one fixed closed-form double expression at the end
    // (builtin corr streams FP moments and is not even run-to-run
    // stable).
    "q105_corr" -> ((s, d) =>
      graft.ext.Stats.pearsonByGroup(
        documents(s, d)
          .withColumn("__y", TextStats.tokenCount(col("text"))),
        "lang", col("n_chars"), col("__y"))
        .orderBy("lang")),

    // 2-D skyline: parts maximizing (size, retailprice) — sort-scan
    // frontier vs the oracle's quadratic NOT EXISTS dominance replay.
    "q109_skyline" -> ((s, d) =>
      graft.ext.Stats.paretoFrontier(
        part(s, d).select("p_partkey", "p_size", "p_retailprice"),
        "p_size", "p_retailprice")
        .orderBy("p_partkey")),

    // Grouped mode: most common event type per user-id decade —
    // deterministic tie-break on the value.
    "q118_mode" -> ((s, d) =>
      graft.ext.Stats.modeByGroup(
        events(s, d).withColumn("g", (col("user_id") / 10).cast("long")),
        "g", col("event_type"))
        .orderBy("g")),

    // Winsorization per priority class: order totals (cents) clamped
    // into their group's exact [p05, p95] — rank-based integer
    // quantiles, both bounds from ONE distinct-value pass.
    "q127_winsorize" -> ((s, d) =>
      graft.ext.Stats.winsorizeByGroup(
        orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority").as("g"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "g", col("cents"), 1, 20, 19, 20)
        .select("o_orderkey", "g", "cents", "qlo", "qhi", "clipped")
        .orderBy("o_orderkey")),

    // Median/MAD robust outliers per event type (the median twin of
    // q112's mean/variance z-test — immune to the outliers it hunts):
    // |x − med| > 5·MAD, all integer cross-multiplication.
    "q128_robust_outliers" -> ((s, d) =>
      graft.ext.Stats.robustOutliers(
        events(s, d), "event_type", "event_id",
        round(col("value") * 100).cast("long"), kNum = 5, kDen = 1)
        .orderBy("event_id")),

    // 2x2 chi-square feature screen: order priority vs "status = F",
    // significance flag fully cross-multiplied in decimal(38,0)
    // (384/100 ~ the 95% df=1 critical value).
    "q130_chi_assoc" -> ((s, d) =>
      graft.ext.Stats.chiAssoc(orders(s, d), "o_orderpriority",
        col("o_orderstatus") === "F", kNum = 384, kDen = 100)
        .orderBy("cat")),

    // Equi-depth deciles of line-item price per return flag: all 10
    // exact rank-based bounds from one distinct-value pass.
    "q133_deciles" -> ((s, d) =>
      graft.ext.Stats.equiDepthBounds(
        lineitem(s, d).select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
        "g", col("cents"), k = 10)
        .orderBy("g")),

    // Catalog-style per-column profile of orders: null/distinct
    // counts + native min/max, one logical pass, O(columns) output.
    "q137_profile" -> ((s, d) =>
      graft.ext.Quality.profile(orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderdate", "o_orderpriority"))
        .orderBy("col_name")),

    // Percentile-rank feature scaling: order totals normalized to
    // [0, 1e6] ppm within their priority class; ties share a rank so
    // equal inputs get equal features.
    "q144_percentile_rank" -> ((s, d) =>
      graft.ext.Stats.percentileRank(
        orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority").as("g"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "g", "o_orderkey", col("cents"))
        .orderBy("o_orderkey")),

    // Revenue-concentration audit: exact Gini (ppm) of per-supplier
    // revenue within each supplier nation — the unit aggregation runs
    // first, so the ranking window sees |suppliers| rows.
    "q145_gini" -> ((s, d) => {
      val rev = lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("g"), col("s_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      graft.ext.Stats.giniByGroup(rev, "g", col("cents"))
        .orderBy("g")
    }),

    // Numeric feature drift: exact earth-mover distance (cents) between
    // finished and open orders' total-price distributions.
    "q147_numeric_drift" -> ((s, d) => {
      val o = orders(s, d).withColumn("cents",
        round(col("o_totalprice") * 100).cast("long"))
      graft.ext.Stats.numericDrift(
        o.filter(col("o_orderstatus") === "F"),
        o.filter(col("o_orderstatus") =!= "F"),
        col("cents"))
    }),

    // Exact two-sample Kolmogorov-Smirnov drift between the click and
    // view value distributions — cross-multiplied integer CDF gap, one
    // FP division at the very end.
    "q152_ks_drift" -> ((s, d) => {
      val e = events(s, d)
      graft.ext.Stats.ksDrift(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "view"),
        col("value"))
    }),

    // Per-language equi-width histogram (k=10) of document lengths —
    // the shape profile next to q133's equi-depth quantile bounds.
    "q156_hist_equiwidth" -> ((s, d) => {
      graft.ext.Stats.equiWidthHist(documents(s, d), "lang",
        col("n_chars"), k = 10)
        .orderBy("lang", "bucket")
    }),

    // k-anonymity / l-diversity release audit on customer: QI =
    // (nation, coarse account-balance bucket), sensitive = market
    // segment; emits only the violating equivalence classes.
    "q158_kanon" -> ((s, d) => {
      val bucketed = customer(s, d).withColumn("acct_bucket",
        expr("(cast(round(c_acctbal * 100, 0) AS bigint) + 100000L)" +
          " div 100000L"))
      graft.ext.Quality.kAnonymityAudit(bucketed,
        Seq("c_nationkey", "acct_bucket"), col("c_mktsegment"),
        k = 4, l = 3)
        .orderBy("c_nationkey", "acct_bucket")
    }),

    // Benford first-digit audit per order priority on exact cents —
    // integer chi-square divergence against the log10(1+1/d) ppm
    // expectation.
    "q197_benford" -> ((s, d) =>
      graft.ext.Quality.benfordAudit(orders(s, d), "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"))
        .orderBy("o_orderpriority")),

    // Cohen's kappa of the langID guesser vs the true label —
    // chance-corrected agreement next to q155's per-class P/R/F1
    // (accuracy flatters any skewed-marginal classifier; kappa
    // doesn't). Exact integer counts end to end.
    "q198_kappa" -> ((s, d) =>
      graft.ext.Stats.agreementKappa(
        TextStats.withLangId(documents(s, d), "doc_id", "text"),
        col("lang_guess"), col("lang"))),

    // Exact per-group ROC-AUC (Mann-Whitney, tie-corrected): does
    // price rank finished orders above the rest, per priority? The
    // threshold-free scorer audit — integer 2U numerator over the
    // distinct-score support, grouped two-phase cumsum above the
    // measured single-task bound.
    "q199_roc_auc" -> ((s, d) =>
      graft.ext.Stats.rocAucByGroup(orders(s, d), "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"),
        col("o_orderstatus") === "F")
        .orderBy("o_orderpriority")),

    // Per-language Spearman rank correlation between character length
    // and token count — the monotone-association twin of q105's
    // Pearson, on exact average-rank integers (doubled units).
    "q200_spearman" -> ((s, d) =>
      graft.ext.Stats.spearmanByGroup(
        documents(s, d)
          .withColumn("__tok", TextStats.tokenCount(col("text"))),
        "lang", col("n_chars"), col("__tok"))
        .orderBy("lang")),

    // NDCG@10 + MRR per priority: does price rank finished (rel 2) and
    // partial (rel 1) orders first? Fixed integer log2 discounts,
    // distributed per-group ranking — the ranked-surface audit q182's
    // order-blind recall can't give.
    "q202_ranking_eval" -> ((s, d) =>
      graft.ext.Stats.rankingEval(orders(s, d), "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"),
        col("o_orderkey"),
        expr("CASE o_orderstatus WHEN 'F' THEN 2 WHEN 'P' THEN 1" +
          " ELSE 0 END"),
        k = 10)
        .orderBy("o_orderpriority")),

    // Calibration audit (reliability diagram + ECE/MCE): a price-
    // derived pseudo-confidence vs order-finished — the third
    // classifier-eval axis next to q155's point metrics and q199's
    // threshold-free AUC. Exact integer bins end to end.
    "q203_calibration" -> ((s, d) =>
      graft.ext.Stats.calibrationAudit(orders(s, d),
        expr("least(1000000L, cast(round(o_totalprice * 100, 0)" +
          " AS bigint) div 55)"),
        col("o_orderstatus") === "F", bins = 10)
        .orderBy("bin")),

    // Fleiss' kappa across THREE heuristic quality raters (length /
    // token-count / density terciles) over documents — do independent
    // cheap signals agree on which documents are big/small beyond the
    // marginals' chance agreement? Multi-rater form q198's two-column
    // Cohen contract can't express.
    "q204_fleiss" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"),
        col("n_chars").cast("long").as("len"),
        TextStats.tokenCount(col("text")).cast("long").as("tok"))
      def tier(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
        when(c < lo, "low").when(c < hi, "mid").otherwise(lit("high"))
      // one scan emits all three raters per doc (r16 — the 3-arm
      // union re-scanned documents and re-tokenized per arm; same
      // row multiset, and fleissKappa is order-blind aggregation)
      val raters = base.select(col("doc_id"), explode(array(
          struct(lit("len").as("rater"),
            tier(col("len"), 220, 380).as("cat")),
          struct(lit("tok").as("rater"),
            tier(col("tok"), 40, 70).as("cat")),
          struct(lit("dens").as("rater"),
            tier(expr("len div tok"), 5, 6).as("cat")))).as("x"))
        .select(col("doc_id"), col("x.rater").as("rater"),
          col("x.cat").as("cat"))
      graft.ext.Stats.fleissKappa(raters, "doc_id", "rater", "cat")
    }),

    // Gini concentration of order revenue per priority — the
    // corpus-concentration audit (how unequal is spend within each
    // priority class?). Exact rank-sum closed form, ppm floor.
    "q205_gini" -> ((s, d) =>
      graft.ext.Stats.giniConcentration(orders(s, d), "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"))
        .orderBy("o_orderpriority")),

    // EXACT per-group quantiles at corpus scale (p1/p25/p50/p75/p99
    // of order value per priority): support counts + grouped
    // two-phase cumsum — exact where q61's full-group sort and q97's
    // sampling each trade something away.
    "q206_exact_quantiles" -> ((s, d) =>
      graft.ext.Stats.exactQuantilesByGroup(orders(s, d),
        "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"),
        Seq(10000L, 250000L, 500000L, 750000L, 990000L))
        .orderBy("o_orderpriority", "q_ppm")),

    // Market-basket association rules (A-priori level 2): which part
    // brands co-occur in an order beyond chance — directed pairs with
    // exact supports, confidence and lift ppm.
    "q207_assoc_rules" -> ((s, d) =>
      graft.ext.Mining.assocRules(
        lineitem(s, d).join(part(s, d),
          col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("basket"),
            col("p_brand").as("item")),
        "basket", "item", minSupport = 10, maxBasketSize = 100)
        .orderBy("antecedent", "consequent")),

    // Robust outlier profile per priority: exact median + MAD from
    // the support-counts quantile kernel, and the count beyond 3
    // robust sigmas (k = 3 * 1.4826 as the rational 44478/10000).
    "q209_robust_outliers" -> ((s, d) =>
      graft.ext.Stats.robustProfile(orders(s, d), "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"),
        kNum = 44478, kDen = 10000)
        .orderBy("o_orderpriority")),

    // Chi-square independence of lang x source — the statistical
    // complement of q196's FD (determined dependence vs
    // distributional association): is language mix uniform across
    // sources? Zero-cell-free identity, per-cell ppm floors.
    "q212_chi2_indep" -> ((s, d) =>
      graft.ext.Quality.chiSquareIndependence(documents(s, d),
        col("lang"), col("source"))),

    // Percentile-rank / CDF table of order value per priority — the
    // rank-normalization transform as a support-sized join table,
    // exact percent_rank and inclusive-ECDF ppm per distinct value.
    "q213_percentile_rank" -> ((s, d) =>
      graft.ext.Stats.percentileRank(orders(s, d), "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"))
        .orderBy("o_orderpriority", "value")),

    // One-sample KS of the md5 32-bit coordinate of o_orderkey vs
    // continuous uniform on [0, 2^32) — the audit of the hash
    // discipline hashSplit/ppsTake/negativeSample stand on.
    "q214_ks_uniform" -> ((s, d) =>
      graft.ext.Stats.ksUniform(orders(s, d),
        conv(substring(graft.functions.DigestFunctions.fastMd5(
          col("o_orderkey").cast("string")), 1, 8), 16, 10)
          .cast("long"),
        m = 4294967296L)),

    // Krippendorff's alpha over q204's raters made RAGGED (the
    // density rater only covers even doc_ids) — the canonical
    // agreement statistic for exactly the missing-rating input
    // Fleiss rejects loudly. Exact BigInt rational end to end.
    "q215_krippendorff" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"),
        col("n_chars").cast("long").as("len"),
        TextStats.tokenCount(col("text")).cast("long").as("tok"))
      def tier(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
        when(c < lo, "low").when(c < hi, "mid").otherwise(lit("high"))
      // one scan emits each doc's rater rows (r16, q204's reshape);
      // the dens arm stays CONDITIONAL (empty sub-array on odd ids)
      // so its tier expression is never evaluated where the old
      // filtered arm never evaluated it
      val raters = base.select(col("doc_id"), explode(concat(
          array(
            struct(lit("len").as("rater"),
              tier(col("len"), 220, 380).as("cat")),
            struct(lit("tok").as("rater"),
              tier(col("tok"), 40, 70).as("cat"))),
          when(col("doc_id") % 2 === 0, array(
            struct(lit("dens").as("rater"),
              tier(expr("len div tok"), 5, 6).as("cat"))))
            .otherwise(array()
              .cast("array<struct<rater:string,cat:string>>")))).as("x"))
        .select(col("doc_id"), col("x.rater").as("rater"),
          col("x.cat").as("cat"))
      graft.ext.Stats.krippendorffAlpha(raters, "doc_id", "rater",
        "cat")
    }),

    // 10%-trimmed mean of order value per priority — the robust
    // location between mean and median, exact in one support pass
    // (per-value kept multiplicity = rank-band overlap).
    "q216_trimmed_mean" -> ((s, d) =>
      graft.ext.Stats.trimmedMean(orders(s, d), "o_orderpriority",
        expr("cast(round(o_totalprice * 100, 0) AS bigint)"),
        trimPpm = 100000L)
        .orderBy("o_orderpriority")),

    // Degenerate-agreement fixture GRADED cross-engine: every rater
    // assigns the same single category, so observed and chance
    // agreement are both exactly 1 and the kappa ratio is 0/0 — the
    // honest answer is NULL (not 1), and BOTH engines must take that
    // divide-by-zero branch identically. Pins q204's edge case on the
    // oracle path, not just in unit specs.
    "q217_fleiss_degenerate" -> ((s, d) => {
      val items = orders(s, d)
        .select(pmod(col("o_orderkey"), lit(37L)).as("doc_id"))
        .distinct()
      val raters = items.select(col("doc_id"), lit("r0").as("rater"),
          lit("only").as("cat"))
        .union(items.select(col("doc_id"), lit("r1").as("rater"),
          lit("only").as("cat")))
      graft.ext.Stats.fleissKappa(raters, "doc_id", "rater", "cat")
    }),

    // Pairwise FD discovery (TANE level 1) on a 4-column customer
    // profile: every ordered column pair with its exact g3 error —
    // the key column holds against everything, nothing else does.
    "q196_fd_discover" -> ((s, d) => {
      val bucketed = customer(s, d).withColumn("acct_bucket",
        expr("(cast(round(c_acctbal * 100, 0) AS bigint) + 100000L)" +
          " div 100000L"))
      graft.ext.Quality.fdDiscover(bucketed,
        Seq("c_custkey", "c_nationkey", "c_mktsegment", "acct_bucket"))
        .orderBy("lhs", "rhs")
    }),

    // t-closeness audit (Li et al. '07), ordered form: per nation, the
    // exact-rational 1-D EMD between the nation's account-balance
    // bucket distribution and the global one. Decimal internals cast
    // to bigint at the graded surface (q168 lesson).
    "q189_tcloseness" -> ((s, d) => {
      val bucketed = customer(s, d).withColumn("acct_bucket",
        expr("(cast(round(c_acctbal * 100, 0) AS bigint) + 100000L)" +
          " div 100000L"))
      graft.ext.Quality.tCloseness(bucketed, Seq("c_nationkey"),
        col("acct_bucket"), ordered = true)
        .select(col("c_nationkey"), col("class_size"),
          col("emd_num").cast("long").as("emd_num"),
          col("emd_den").cast("long").as("emd_den"), col("t_ppm"))
        .orderBy("c_nationkey")
    }),

    // t-closeness, categorical form (variational distance) on the
    // market-segment sensitive attribute — the skewness-attack check
    // l-diversity (q158) cannot express.
    "q190_tcloseness_cat" -> ((s, d) => {
      graft.ext.Quality.tCloseness(customer(s, d), Seq("c_nationkey"),
        col("c_mktsegment"), ordered = false)
        .select(col("c_nationkey"), col("class_size"),
          col("emd_num").cast("long").as("emd_num"),
          col("emd_den").cast("long").as("emd_den"), col("t_ppm"))
        .orderBy("c_nationkey")
    }),

    // Contrastive pair mining for an ER model: band-join candidates →
    // label 1 at Jaccard >= 1/2, hard negatives (< 1/5) kept at 10%
    // by a deterministic pair-key md5 coordinate; ambiguous middle
    // emitted to neither class.
    "q169_pair_mining" -> ((s, d) =>
      Dedup.trainingPairs(documents(s, d), "doc_id", "text",
        n = 3, k = 8, bands = 4, posNum = 1, posDen = 2,
        negNum = 1, negDen = 5, negKeepPct = 10)
        .orderBy(col("label").desc, col("id_a"), col("id_b"))),

    // Deterministic A/B bucketing (md5(experiment|unit) % 2) + exact
    // integer SRM chi-square per experiment — experiment = event type,
    // unit = user.
    "q170_ab_srm" -> ((s, d) =>
      graft.ext.Sampling.abSrmAudit(events(s, d), "event_type", "user_id")
        .orderBy("experiment")),

    // Functional-dependency audit: does o_custkey -> o_orderpriority
    // hold on orders? (It does not — the violating groups ARE the
    // answer; an empty result would certify the FD.)
    "q123_fd_audit" -> ((s, d) =>
      graft.ext.Quality.fdViolations(orders(s, d), Seq("o_custkey"),
        "o_orderpriority")
        .orderBy("o_custkey")),

    // Token-weighted median document length per language — exact
    // integer weighted median (cross-multiplied half test, no FP).
    "q113_weighted_median" -> ((s, d) =>
      graft.ext.Stats.weightedMedianByGroup(
        documents(s, d), "lang", col("n_chars"),
        TextStats.tokenCount(col("text")))
        .orderBy("lang")),

    // Distribution-drift audit: language shares of the full corpus vs
    // a deterministic subset, as exact ppm-share deltas (the
    // train-vs-serve skew monitor; integer TV-family, no libm).
    "q111_drift" -> ((s, d) => {
      val docs = documents(s, d)
      graft.ext.Stats.categoryDrift(docs,
        docs.filter(col("doc_id") % 3 =!= 0), "lang")
        .orderBy("lang")
    }),

    // Deequ-style constraint audit over a deterministically dirtied
    // orders snapshot: four row-local rules share ONE scan; unique and
    // FK add one agg / one anti-join. Violation counts are the grade.
    "q110_quality_audit" -> ((s, d) => {
      import graft.ext.Quality
      val base = orders(s, d)
      val k = col("o_orderkey")
      val dirty0 = base.select(k.as("o_orderkey"),
        when(k % 97 === 0, lit(null))
          .when(k % 107 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(k % 103 === 0, "X").otherwise(col("o_orderstatus"))
          .as("o_orderstatus"),
        when(k % 101 === 0, -1.0d).otherwise(col("o_totalprice"))
          .as("o_totalprice"),
        when(k % 109 === 0, "bogus").otherwise(col("o_orderpriority"))
          .as("o_orderpriority"))
      val dirty = dirty0.unionByName(dirty0.filter(k % 1000 === 0))
      Quality.audit(dirty, Seq(
        Quality.NotNull("o_custkey"),
        Quality.InRange("o_totalprice", lit(1.0d), lit(600000.0d)),
        Quality.InSet("o_orderstatus", Seq("O", "F", "P")),
        Quality.MatchesRegex("o_orderpriority", "^[1-5]-[A-Z ]+$"),
        Quality.Unique(Seq("o_orderkey")),
        Quality.ForeignKey("o_custkey", customer(s, d), "c_custkey",
          "customer")))
        .orderBy("rule")
    }),
  )

  val oracles: Map[String, String] = Map(

    // The diff classes are definable straight from the synthesis rules.
    "q103_table_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey FROM orders)
        |SELECT o_orderkey, change_type FROM (
        |  SELECT o_orderkey, 'removed' AS change_type FROM base
        |  WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'changed' FROM base
        |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'added' FROM base
        |  WHERE o_orderkey % 11 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // Exact hugeint sums; the closed form runs in double with the same
    // operation order as the Spark expression (floor-truncated 6 dp).
    "q105_corr" ->
      """WITH t AS (
        |  SELECT lang, n_chars AS x,
        |    len(string_split_regex(trim(text), '\s+')) AS y
        |  FROM documents),
        |a AS (SELECT lang, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM t GROUP BY lang)
        |SELECT lang, n,
        |  floor(cast(n * sxy - sx * sy AS double) /
        |    (sqrt(cast(n * sxx - sx * sx AS double)) *
        |     sqrt(cast(n * syy - sy * sy AS double))) * 1000000)
        |    / 1000000 AS r6
        |FROM a ORDER BY lang""".stripMargin,

    // Quadratic dominance replay — any false frontier row or omission
    // diverges from the definitional NOT EXISTS form.
    "q109_skyline" ->
      """SELECT p_partkey, p_size, p_retailprice FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_size >= a.p_size
        |    AND b.p_retailprice >= a.p_retailprice
        |    AND (b.p_size > a.p_size OR b.p_retailprice > a.p_retailprice))
        |ORDER BY p_partkey""".stripMargin,

    // Same ceil-rank lower-quantile reads off the cumulative window.
    "q127_winsorize" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS g,
        |    cast(round(o_totalprice * 100) AS bigint) AS cents
        |  FROM orders),
        |c AS (SELECT g, cents AS v, count(*) AS w FROM o GROUP BY 1, 2),
        |r AS (SELECT g, v,
        |    sum(w) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY g) AS tot FROM c),
        |q AS (SELECT g,
        |    min(CASE WHEN cum * 20 >= 1 * tot THEN v END) AS qlo,
        |    min(CASE WHEN cum * 20 >= 19 * tot THEN v END) AS qhi
        |  FROM r GROUP BY g)
        |SELECT o_orderkey, g, cents, qlo, qhi,
        |  greatest(qlo, least(cents, qhi)) AS clipped
        |FROM o JOIN q USING (g) ORDER BY o_orderkey""".stripMargin,

    // Two chained exact-median stages, same lower-median convention.
    "q128_robust_outliers" ->
      """WITH e AS (SELECT event_id, event_type AS g,
        |    cast(round(value * 100) AS bigint) AS x FROM events),
        |c AS (SELECT g, x AS v, count(*) AS w FROM e GROUP BY 1, 2),
        |r AS (SELECT g, v,
        |    sum(w) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY g) AS tot FROM c),
        |m AS (SELECT g, min(CASE WHEN cum * 2 >= tot THEN v END) AS med
        |  FROM r GROUP BY g),
        |d AS (SELECT e.event_id, e.g, e.x, m.med,
        |    abs(e.x - m.med) AS dev FROM e JOIN m USING (g)),
        |c2 AS (SELECT g, dev AS v, count(*) AS w FROM d GROUP BY 1, 2),
        |r2 AS (SELECT g, v,
        |    sum(w) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY g) AS tot FROM c2),
        |m2 AS (SELECT g, min(CASE WHEN cum * 2 >= tot THEN v END) AS mad
        |  FROM r2 GROUP BY g)
        |SELECT event_id, g AS event_type, x, med, mad
        |FROM d JOIN m2 USING (g) WHERE dev > 5 * mad
        |ORDER BY event_id""".stripMargin,

    // Contingency counts from one agg + global margins; the flag is
    // the identical cross-multiplied inequality in HUGEINT.
    "q130_chi_assoc" ->
      """WITH c AS (SELECT o_orderpriority AS cat, count(*) AS ncat,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n11
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(ncat) AS n, sum(n11) AS pos FROM c),
        |x AS (SELECT cat, n11::HUGEINT AS n11, (ncat - n11)::HUGEINT AS n10,
        |    (pos - n11)::HUGEINT AS n01,
        |    (n - ncat - pos + n11)::HUGEINT AS n00, n::HUGEINT AS n
        |  FROM c, t),
        |y AS (SELECT cat, n11, n10, n01, n00, n,
        |    n11 * n00 - n10 * n01 AS det FROM x)
        |SELECT cat, n11::bigint AS n11, n10::bigint AS n10,
        |  n01::bigint AS n01, n00::bigint AS n00,
        |  (CASE WHEN det > 0 THEN 1 WHEN det < 0 THEN -1 ELSE 0 END)::int
        |    AS assoc,
        |  n * det * det * 100 >
        |    384 * ((n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00))
        |    AS sig
        |FROM y ORDER BY cat""".stripMargin,

    // Ten ceil-rank reads off one cumulative window, as in q127.
    "q133_deciles" -> {
      val reads = (1 to 10).map(i =>
        s"min(CASE WHEN cum * 10 >= $i * tot THEN v END) AS b$i")
        .mkString(",\n|    ")
      s"""WITH o AS (SELECT l_returnflag AS g,
         |    cast(round(l_extendedprice * 100) AS bigint) AS cents
         |  FROM lineitem),
         |c AS (SELECT g, cents AS v, count(*) AS w FROM o GROUP BY 1, 2),
         |r AS (SELECT g, v,
         |    sum(w) OVER (PARTITION BY g ORDER BY v) AS cum,
         |    sum(w) OVER (PARTITION BY g) AS tot FROM c)
         |SELECT g,
         |    $reads
         |FROM r GROUP BY g ORDER BY g""".stripMargin
    },

    // One UNION ALL branch per profiled column, same native min/max.
    "q137_profile" -> {
      val branches = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderpriority").map(c =>
        s"""SELECT '$c' AS col_name, count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  cast(min($c) AS varchar) AS vmin,
           |  cast(max($c) AS varchar) AS vmax FROM orders""".stripMargin)
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // rank() ties + the identical integer ppm mapping.
    "q144_percentile_rank" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS g,
        |    cast(round(o_totalprice * 100) AS bigint) AS cents
        |  FROM orders),
        |r AS (SELECT o_orderkey, g, cents AS x,
        |    rank() OVER (PARTITION BY g ORDER BY cents) AS rk,
        |    count(*) OVER (PARTITION BY g) AS n FROM o)
        |SELECT o_orderkey, g, x,
        |  CASE WHEN n > 1
        |    THEN cast((rk - 1) * 1000000 // (n - 1) AS bigint)
        |    ELSE 0 END AS pr_ppm
        |FROM r ORDER BY o_orderkey""".stripMargin,

    // Ascending row_number ranks (tie order immaterial for sum(i*x)),
    // HUGEINT cross-multiplied floor.
    "q145_gini" ->
      """WITH rev AS (SELECT s_nationkey AS g, s_suppkey,
        |    sum(cast(round(l_extendedprice * 100) AS bigint)) AS cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |r AS (SELECT g, cents::HUGEINT AS x,
        |    row_number() OVER (PARTITION BY g ORDER BY cents)::HUGEINT
        |      AS i FROM rev),
        |a AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(i * x) AS six
        |  FROM r GROUP BY g)
        |SELECT g, n,
        |  CASE WHEN sx > 0 THEN cast(
        |    ((2 * six - (n + 1) * sx) * 1000000) // (n * sx) AS bigint)
        |  END AS gini_ppm
        |FROM a ORDER BY g""".stripMargin,

    // Same merged-support CDF separation integral in HUGEINT.
    "q147_numeric_drift" ->
      """WITH o AS (SELECT o_orderstatus,
        |    cast(round(o_totalprice * 100) AS bigint) AS v FROM orders),
        |ca AS (SELECT v, count(*) AS na FROM o
        |  WHERE o_orderstatus = 'F' GROUP BY v),
        |cb AS (SELECT v, count(*) AS nb FROM o
        |  WHERE o_orderstatus <> 'F' GROUP BY v),
        |m AS (SELECT coalesce(ca.v, cb.v) AS v,
        |    coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |c AS (SELECT v,
        |    sum(na) OVER (ORDER BY v)::HUGEINT AS cuma,
        |    sum(nb) OVER (ORDER BY v)::HUGEINT AS cumb,
        |    (sum(na) OVER ())::HUGEINT AS nat,
        |    (sum(nb) OVER ())::HUGEINT AS nbt,
        |    lead(v) OVER (ORDER BY v) - v AS gap
        |  FROM m)
        |SELECT cast(max(nat) AS bigint) AS n_a,
        |  cast(max(nbt) AS bigint) AS n_b,
        |  cast(sum(abs(cuma * nbt - cumb * nat) * gap)
        |    // (max(nat) * max(nbt)) AS bigint) AS emd
        |FROM c WHERE gap IS NOT NULL""".stripMargin,

    // Exact KS replay: per-value counts of both samples, full-outer
    // merge, running CDFs, max cross-multiplied gap; the only FP step
    // is the final division both engines evaluate identically.
    "q152_ks_drift" ->
      """WITH ca AS (
        |  SELECT value AS v, count(*) AS na FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |cb AS (
        |  SELECT value AS v, count(*) AS nb FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |m AS (
        |  SELECT coalesce(ca.v, cb.v) AS v,
        |    coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM ca FULL JOIN cb ON ca.v = cb.v),
        |c AS (
        |  SELECT sum(na) OVER (ORDER BY v) AS cca,
        |    sum(nb) OVER (ORDER BY v) AS ccb,
        |    sum(na) OVER () AS nat, sum(nb) OVER () AS nbt
        |  FROM m)
        |SELECT cast(max(nat) AS bigint) AS n_a,
        |  cast(max(nbt) AS bigint) AS n_b,
        |  cast(max(abs(cca * nbt - ccb * nat)) AS bigint) AS d_num,
        |  cast(max(abs(cca * nbt - ccb * nat)) AS double)
        |    / cast(max(nat) * max(nbt) AS double) AS ks
        |FROM c""".stripMargin,

    // Integer bucket replay: same div arithmetic (all operands
    // non-negative, so `//` floor = Spark's truncating div).
    "q156_hist_equiwidth" ->
      """WITH b AS (
        |  SELECT lang, min(n_chars) AS mn, max(n_chars) AS mx
        |  FROM documents GROUP BY lang),
        |v AS (
        |  SELECT d.lang, ((n_chars - mn) * 10) // (mx - mn + 1) AS bucket,
        |    mn, mx
        |  FROM documents d JOIN b USING (lang))
        |SELECT lang, bucket, mn + (bucket * (mx - mn + 1)) // 10 AS lo,
        |  cast(count(*) AS bigint) AS n, mn, mx
        |FROM v GROUP BY lang, bucket, mn, mx
        |ORDER BY lang, bucket""".stripMargin,

    // Cents-exact bucket (shifted non-negative so `//` = Spark div),
    // exact group count + distinct — the audit replays as one GROUP BY.
    "q158_kanon" ->
      """WITH b AS (
        |  SELECT c_nationkey,
        |    (cast(round(c_acctbal * 100, 0) AS bigint) + 100000)
        |      // 100000 AS acct_bucket,
        |    c_mktsegment
        |  FROM customer),
        |g AS (
        |  SELECT c_nationkey, acct_bucket,
        |    cast(count(*) AS bigint) AS class_size,
        |    cast(count(DISTINCT c_mktsegment) AS bigint) AS n_sensitive
        |  FROM b GROUP BY 1, 2)
        |SELECT c_nationkey, acct_bucket, class_size, n_sensitive,
        |  CASE WHEN class_size < 4 THEN 1 ELSE 0 END AS k_violation,
        |  CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END AS l_violation
        |FROM g
        |WHERE class_size < 4 OR n_sensitive < 3
        |ORDER BY c_nationkey, acct_bucket""".stripMargin,

    // Digit spine replay with the same fixed ppm literals; hugeint
    // through the squared term (obs·10⁶ squares past bigint at
    // ~15k-row groups), one floor per digit term like the operator.
    "q197_benford" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    cast(round(o_totalprice * 100, 0) AS bigint) AS v
        |  FROM orders),
        |dg AS (SELECT g,
        |    cast(substr(cast(v AS varchar), 1, 1) AS int) AS digit
        |  FROM v WHERE v > 0),
        |c AS (SELECT g, digit, cast(count(*) AS bigint) AS obs
        |  FROM dg GROUP BY 1, 2),
        |t AS (SELECT g, cast(sum(obs) AS bigint) AS n FROM c GROUP BY 1),
        |p AS (SELECT * FROM (VALUES (1, 301030), (2, 176091),
        |  (3, 124939), (4, 96910), (5, 79181), (6, 66947),
        |  (7, 57992), (8, 51153), (9, 45757)) AS pp(digit, ppm)),
        |sp AS (SELECT t.g, t.n, p.digit,
        |    cast(p.ppm AS hugeint) AS ppm,
        |    cast(coalesce(c.obs, 0) AS hugeint) AS obs
        |  FROM t CROSS JOIN p
        |  LEFT JOIN c ON c.g = t.g AND c.digit = p.digit)
        |SELECT g AS o_orderpriority, max(n) AS n,
        |  cast(sum(((obs * 1000000 - n * ppm)
        |      * (obs * 1000000 - n * ppm))
        |    // (n * ppm * 1000000)) AS bigint) AS chi2_scaled,
        |  cast(sum(CASE WHEN obs > 0 THEN 1 ELSE 0 END) AS bigint)
        |    AS digits_seen
        |FROM sp GROUP BY g ORDER BY o_orderpriority""".stripMargin,

    // Kappa replay: q155's langID guess CTE, then the exact count
    // formula in hugeint. Sign split keeps the truncation direction
    // engine-independent for negative kappa; all other operands are
    // non-negative, so `//` floor = Spark's truncating div.
    "q198_kappa" -> {
      val de = markerSql(TextStats.stopwords("de"))
      val en = markerSql(TextStats.stopwords("en"))
      val es = markerSql(TextStats.stopwords("es"))
      val fr = markerSql(TextStats.stopwords("fr"))
      s"""WITH scored AS (
         |  SELECT lang,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
         |    length(text) AS len,
         |    $de AS s_de, $en AS s_en, $es AS s_es, $fr AS s_fr
         |  FROM documents),
         |guessed AS (
         |  SELECT lang, CASE
         |    WHEN cjk * 2 > len THEN 'zh'
         |    WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'de'
         |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'en'
         |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'es'
         |    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'fr'
         |    ELSE 'und' END AS guess
         |  FROM scored),
         |conf AS (SELECT guess AS a, lang AS b,
         |    cast(count(*) AS bigint) AS n
         |  FROM guessed GROUP BY 1, 2),
         |ma AS (SELECT a AS cls, sum(n) AS na FROM conf GROUP BY 1),
         |mb AS (SELECT b AS cls, sum(n) AS nb FROM conf GROUP BY 1),
         |sS AS (SELECT cast(coalesce(sum(
         |      cast(coalesce(na, 0) AS hugeint) * coalesce(nb, 0)), 0)
         |    AS hugeint) AS s
         |  FROM ma FULL JOIN mb ON ma.cls = mb.cls),
         |t AS (SELECT cast(coalesce(sum(n), 0) AS bigint) AS n,
         |    cast(coalesce(sum(CASE WHEN a IS NOT DISTINCT FROM b
         |      THEN n ELSE 0 END), 0) AS bigint) AS agree
         |  FROM conf)
         |SELECT n, agree,
         |  cast(CASE WHEN n > 0 THEN
         |    (cast(agree AS hugeint) * 1000000) // n END AS bigint)
         |    AS po_ppm,
         |  cast(CASE WHEN n > 0 THEN
         |    (s * 1000000) // (cast(n AS hugeint) * n) END AS bigint)
         |    AS pe_ppm,
         |  cast(CASE WHEN (cast(n AS hugeint) * n - s) > 0 THEN
         |    (CASE WHEN (cast(agree AS hugeint) * n - s) < 0
         |      THEN -1 ELSE 1 END) *
         |    ((abs(cast(agree AS hugeint) * n - s) * 1000000)
         |      // (cast(n AS hugeint) * n - s)) END AS bigint)
         |    AS kappa_ppm
         |FROM t, sS""".stripMargin
    },

    // AUC replay: per-(group, score) counts, strict-below negatives
    // via a 1-PRECEDING cumulative window, then the same integer 2U
    // formula in hugeint.
    "q199_roc_auc" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    cast(round(o_totalprice * 100, 0) AS bigint) AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p
        |  FROM orders),
        |c AS (SELECT g, s, cast(sum(p) AS bigint) AS pos,
        |    cast(count(*) - sum(p) AS bigint) AS neg
        |  FROM v GROUP BY 1, 2),
        |w AS (SELECT g, pos, neg,
        |    cast(coalesce(sum(neg) OVER (PARTITION BY g ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS hugeint) AS below
        |  FROM c),
        |a AS (SELECT g, cast(sum(pos) AS bigint) AS n_pos,
        |    cast(sum(neg) AS bigint) AS n_neg,
        |    sum(cast(pos AS hugeint) * (below * 2 + neg)) AS num2
        |  FROM w GROUP BY g)
        |SELECT g AS o_orderpriority, n_pos, n_neg,
        |  cast(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    (num2 * 1000000) // (cast(n_pos AS hugeint) * n_neg * 2)
        |    END AS bigint) AS auc_ppm
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    // Spearman replay: doubled average ranks from rank() + a per-value
    // tie count (2·avg = 2·rank_min + ties − 1), then q105's exact-sum
    // Pearson formula with hugeint sums and the same one-double-
    // division 6-dp floor.
    "q200_spearman" ->
      """WITH t AS (SELECT lang, cast(n_chars AS bigint) AS x,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS bigint)
        |      AS y
        |  FROM documents),
        |r AS (SELECT lang,
        |    2 * rank() OVER (PARTITION BY lang ORDER BY x)
        |      + count(*) OVER (PARTITION BY lang, x) - 1 AS rx2,
        |    2 * rank() OVER (PARTITION BY lang ORDER BY y)
        |      + count(*) OVER (PARTITION BY lang, y) - 1 AS ry2
        |  FROM t),
        |a AS (SELECT lang, cast(count(*) AS bigint) AS n,
        |    sum(cast(rx2 AS hugeint)) AS sx,
        |    sum(cast(ry2 AS hugeint)) AS sy,
        |    sum(cast(rx2 AS hugeint) * ry2) AS sxy,
        |    sum(cast(rx2 AS hugeint) * rx2) AS sxx,
        |    sum(cast(ry2 AS hugeint) * ry2) AS syy
        |  FROM r GROUP BY lang)
        |SELECT lang, n,
        |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |    THEN floor(cast(n * sxy - sx * sy AS double) /
        |      (sqrt(cast(n * sxx - sx * sx AS double)) *
        |       sqrt(cast(n * syy - sy * sy AS double))) * 1000000)
        |      / 1000000 END AS rho6
        |FROM a ORDER BY lang""".stripMargin,

    // NDCG replay: both rankings as row_number windows with the same
    // (score desc, orderkey) / (rel desc, orderkey) total tie-breaks,
    // and the discount weights as the SAME integer literals the plan
    // uses (generated from Stats.ndcgWeights — transcendental
    // constants are exact once they're literals).
    "q202_ranking_eval" -> {
      val wVals = graft.ext.Stats.ndcgWeights(10).zipWithIndex
        .map { case (wt, i) => s"(${i + 1}, $wt)" }.mkString(", ")
      s"""WITH b AS (SELECT o_orderpriority AS g,
         |    cast(round(o_totalprice * 100, 0) AS bigint) AS s,
         |    o_orderkey AS tie,
         |    CASE o_orderstatus WHEN 'F' THEN 2 WHEN 'P' THEN 1
         |      ELSE 0 END AS rel
         |  FROM orders),
         |w AS (SELECT * FROM (VALUES $wVals) AS t(pos, wt)),
         |act AS (SELECT g, rel,
         |    row_number() OVER (PARTITION BY g ORDER BY s DESC, tie)
         |      AS pos
         |  FROM b),
         |idl AS (SELECT g, rel,
         |    row_number() OVER (PARTITION BY g ORDER BY rel DESC, tie)
         |      AS pos
         |  FROM b),
         |a AS (SELECT g,
         |    cast(sum(cast(rel AS hugeint) * wt) AS bigint) AS dcg,
         |    min(CASE WHEN rel > 0 THEN act.pos END) AS frp
         |  FROM act JOIN w ON act.pos = w.pos WHERE act.pos <= 10
         |  GROUP BY g),
         |i AS (SELECT g,
         |    cast(sum(cast(rel AS hugeint) * wt) AS bigint) AS idcg
         |  FROM idl JOIN w ON idl.pos = w.pos WHERE idl.pos <= 10
         |  GROUP BY g),
         |nn AS (SELECT g, cast(count(*) AS bigint) AS n
         |  FROM b GROUP BY g)
         |SELECT nn.g AS o_orderpriority, n, dcg AS dcg_scaled,
         |  idcg AS idcg_scaled,
         |  cast(CASE WHEN idcg > 0 THEN
         |    (cast(dcg AS hugeint) * 1000000) // idcg END AS bigint)
         |    AS ndcg_ppm,
         |  cast(frp AS bigint) AS first_rel_pos,
         |  cast(CASE WHEN frp IS NOT NULL THEN 1000000 // frp END
         |    AS bigint) AS rr_ppm
         |FROM nn JOIN a ON nn.g = a.g JOIN i ON nn.g = i.g
         |ORDER BY o_orderpriority""".stripMargin
    },

    // Calibration replay: same pseudo-confidence, equal-width bins,
    // per-bin integer deviations |10^6*pos - sumconf|, ONE floor at
    // the end for ECE (sum of floors != floor of sum), per-bin floor
    // max for MCE.
    "q203_calibration" ->
      """WITH v AS (SELECT
        |    least(1000000, cast(round(o_totalprice * 100, 0) AS bigint)
        |      // 55) AS c,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p
        |  FROM orders),
        |b AS (SELECT least(9, (c * 10) // 1000000) AS bin,
        |    cast(count(*) AS bigint) AS n, cast(sum(p) AS bigint) AS pos,
        |    sum(cast(c AS hugeint)) AS sumc
        |  FROM v GROUP BY 1),
        |d AS (SELECT *, abs(cast(pos AS hugeint) * 1000000 - sumc)
        |    AS dev FROM b),
        |t AS (SELECT sum(n) AS nn, sum(dev) AS devsum,
        |    max(dev // n) AS mce FROM d)
        |SELECT bin, n, pos,
        |  cast(sumc // n AS bigint) AS avg_conf_ppm,
        |  cast((pos * 1000000) // n AS bigint) AS acc_ppm,
        |  cast((pos * 1000000) // n - sumc // n AS bigint) AS gap_ppm,
        |  cast(devsum // nn AS bigint) AS ece_ppm,
        |  cast(mce AS bigint) AS mce_ppm
        |FROM d, t ORDER BY bin""".stripMargin,

    // Fleiss replay: the same three threshold raters in SQL, then the
    // closed form A=S2-Nn, B=Nn(n-1), C=sum T_c^2, D=(Nn)^2 in hugeint
    // with the kappa sign split.
    "q204_fleiss" ->
      """WITH base AS (SELECT doc_id, cast(n_chars AS bigint) AS len,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS bigint)
        |      AS tok
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 'len' AS rater, CASE WHEN len < 220 THEN 'low'
        |    WHEN len < 380 THEN 'mid' ELSE 'high' END AS cat FROM base
        |  UNION ALL
        |  SELECT doc_id, 'tok', CASE WHEN tok < 40 THEN 'low'
        |    WHEN tok < 70 THEN 'mid' ELSE 'high' END FROM base
        |  UNION ALL
        |  SELECT doc_id, 'dens', CASE WHEN len // tok < 5 THEN 'low'
        |    WHEN len // tok < 6 THEN 'mid' ELSE 'high' END FROM base),
        |nic AS (SELECT doc_id, cat, cast(count(*) AS bigint) AS n
        |  FROM r GROUP BY 1, 2),
        |s AS (SELECT cast(count(DISTINCT doc_id) AS hugeint) AS ni,
        |    sum(cast(n AS hugeint) * n) AS s2 FROM nic),
        |t AS (SELECT sum(cast(tt AS hugeint) * tt) AS c FROM
        |  (SELECT sum(n) AS tt FROM nic GROUP BY cat)),
        |f AS (SELECT ni, s2 - ni * 3 AS a, ni * 3 * 2 AS b, c,
        |    (ni * 3) * (ni * 3) AS d FROM s, t)
        |SELECT cast(ni AS bigint) AS n_items,
        |  cast(3 AS bigint) AS n_raters,
        |  cast((a * 1000000) // b AS bigint) AS pbar_ppm,
        |  cast((c * 1000000) // d AS bigint) AS pe_ppm,
        |  cast(CASE WHEN b * (d - c) > 0 THEN
        |    (CASE WHEN a * d - b * c < 0 THEN -1 ELSE 1 END) *
        |    ((abs(a * d - b * c) * 1000000) // (b * (d - c)))
        |    END AS bigint) AS kappa_ppm
        |FROM f""".stripMargin,

    // Gini replay: ascending row_number per group (tie order is
    // provably irrelevant — equal values swap without changing the
    // rank-weighted sum), hugeint rank-sum closed form, ppm floor.
    "q205_gini" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    cast(round(o_totalprice * 100, 0) AS bigint) AS x
        |  FROM orders),
        |r AS (SELECT g, x, row_number() OVER
        |    (PARTITION BY g ORDER BY x) AS i FROM v),
        |a AS (SELECT g, cast(count(*) AS bigint) AS n,
        |    cast(sum(x) AS bigint) AS total,
        |    sum(cast(i AS hugeint) * x) AS ix
        |  FROM r GROUP BY g)
        |SELECT g AS o_orderpriority, n, total,
        |  cast(CASE WHEN total > 0 THEN
        |    ((2 * ix - (cast(n AS hugeint) + 1) * total) * 1000000)
        |      // (cast(n AS hugeint) * total) END AS bigint) AS gini_ppm
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    // Exact-quantile replay: per-(group, value) support counts, a
    // strict-below cumulative window, and the same lower-empirical
    // rank r = (q*(n-1))//10^6 + 1 picked from the covering support
    // row.
    "q206_exact_quantiles" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    cast(round(o_totalprice * 100, 0) AS bigint) AS x
        |  FROM orders),
        |sup AS (SELECT g, x, cast(count(*) AS bigint) AS c
        |  FROM v GROUP BY 1, 2),
        |cw AS (SELECT g, x, c, cast(coalesce(sum(c) OVER (
        |      PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS hugeint) AS below
        |  FROM sup),
        |n AS (SELECT g, cast(sum(c) AS bigint) AS n FROM sup GROUP BY g),
        |q AS (SELECT unnest([10000, 250000, 500000, 750000, 990000])
        |    AS qv)
        |SELECT cw.g AS o_orderpriority, cast(qv AS bigint) AS q_ppm,
        |  n.n AS n, cw.x AS value
        |FROM cw JOIN n ON cw.g = n.g CROSS JOIN q
        |WHERE below < (cast(qv AS hugeint) * (n.n - 1)) // 1000000 + 1
        |  AND (cast(qv AS hugeint) * (n.n - 1)) // 1000000 + 1
        |    <= below + c
        |ORDER BY o_orderpriority, q_ppm""".stripMargin,

    // Association-rule replay: distinct (basket, item), basket-key
    // self-join with item inequality, HAVING the support floor, then
    // the conf/lift hugeint floors.
    "q207_assoc_rules" ->
      """WITH txn AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
        |    FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT cast(count(DISTINCT b) AS bigint) AS n FROM txn),
        |pr AS (SELECT l.i AS antecedent, r.i AS consequent,
        |    cast(count(*) AS bigint) AS sup_pair
        |  FROM txn l JOIN txn r ON l.b = r.b AND l.i <> r.i
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        |sup AS (SELECT i, cast(count(*) AS bigint) AS n
        |  FROM txn GROUP BY i)
        |SELECT antecedent, consequent, nb.n AS n_baskets,
        |  sa.n AS sup_ant, sc.n AS sup_cons, sup_pair,
        |  cast((cast(sup_pair AS hugeint) * 1000000) // sa.n AS bigint)
        |    AS conf_ppm,
        |  cast((cast(sup_pair AS hugeint) * nb.n * 1000000) //
        |    (cast(sa.n AS hugeint) * sc.n) AS bigint) AS lift_ppm
        |FROM pr CROSS JOIN nb
        |JOIN sup sa ON pr.antecedent = sa.i
        |JOIN sup sc ON pr.consequent = sc.i
        |ORDER BY antecedent, consequent""".stripMargin,

    // Robust-profile replay: the r-th order statistic (same lower
    // rank formula) via row_number for median and for the MAD over
    // |x - median|, then the integer fence count.
    "q209_robust_outliers" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    cast(round(o_totalprice * 100, 0) AS bigint) AS x
        |  FROM orders),
        |n AS (SELECT g, cast(count(*) AS bigint) AS n
        |  FROM v GROUP BY g),
        |rv AS (SELECT g, x, row_number() OVER
        |    (PARTITION BY g ORDER BY x) AS rn FROM v),
        |med AS (SELECT rv.g, x AS median FROM rv JOIN n ON rv.g = n.g
        |  WHERE rn = (500000 * (n - 1)) // 1000000 + 1),
        |dv AS (SELECT v.g, abs(x - median) AS d, median
        |  FROM v JOIN med ON v.g = med.g),
        |rd AS (SELECT g, d, row_number() OVER
        |    (PARTITION BY g ORDER BY d) AS rn FROM dv),
        |mad AS (SELECT rd.g, d AS mad FROM rd JOIN n ON rd.g = n.g
        |  WHERE rn = (500000 * (n - 1)) // 1000000 + 1)
        |SELECT dv.g AS o_orderpriority, n.n AS n,
        |  min(dv.median) AS median, min(mad.mad) AS mad,
        |  cast(sum(CASE WHEN cast(d AS hugeint) * 10000 >
        |    cast(mad.mad AS hugeint) * 44478 THEN 1 ELSE 0 END)
        |    AS bigint) AS n_outliers
        |FROM dv JOIN mad ON dv.g = mad.g JOIN n ON dv.g = n.g
        |GROUP BY dv.g, n.n ORDER BY o_orderpriority""".stripMargin,

    // Chi-square replay: observed cells + marginals, the same
    // per-cell hugeint floors of 10^6*n*o^2/(ra*cb), the same
    // greatest(0, sum - 10^6*n) clamp.
    "q212_chi2_indep" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
        |    cast(count(*) AS bigint) AS o
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
        |cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
        |tot AS (SELECT cast(coalesce(sum(o), 0) AS bigint) AS n,
        |    cast(count(DISTINCT a) AS bigint) AS ka,
        |    cast(count(DISTINCT b) AS bigint) AS kb
        |  FROM cells),
        |t AS (SELECT (cast(n AS hugeint) * 1000000 * o * o) //
        |    (cast(ra AS hugeint) * cb) AS term
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b)
        |  CROSS JOIN tot),
        |s AS (SELECT cast(count(*) AS bigint) AS n_cells,
        |    sum(term) AS s FROM t)
        |SELECT n, (ka - 1) * (kb - 1) AS dof, n_cells,
        |  cast(CASE WHEN n > 1 AND ka > 1 AND kb > 1 THEN
        |    greatest(0, s - cast(n AS hugeint) * 1000000)
        |    END AS bigint) AS stat_ppm,
        |  cast(CASE WHEN n > 1 AND ka > 1 AND kb > 1 THEN
        |    greatest(0, s - cast(n AS hugeint) * 1000000) //
        |    (cast(n AS hugeint) * (least(ka, kb) - 1))
        |    END AS bigint) AS v2_ppm
        |FROM s, tot""".stripMargin,

    // Percentile-rank replay: support counts, strict-below cumulative
    // window, percent_rank = below/(n-1) and inclusive ECDF floors.
    "q213_percentile_rank" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    cast(round(o_totalprice * 100, 0) AS bigint) AS value
        |  FROM orders),
        |sup AS (SELECT g, value, cast(count(*) AS bigint) AS cnt
        |  FROM v GROUP BY 1, 2),
        |c AS (SELECT g, value, cnt, cast(coalesce(sum(cnt) OVER (
        |      PARTITION BY g ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS hugeint) AS below
        |  FROM sup),
        |n AS (SELECT g, cast(sum(cnt) AS bigint) AS n
        |  FROM sup GROUP BY g)
        |SELECT c.g AS o_orderpriority, value, cnt, n.n AS n,
        |  cast(CASE WHEN n.n > 1 THEN
        |    (below * 1000000) // (n.n - 1) END AS bigint) AS pr_ppm,
        |  cast(((below + cnt) * 1000000) // n.n AS bigint) AS cdf_ppm
        |FROM c JOIN n ON c.g = n.g
        |ORDER BY o_orderpriority, value""".stripMargin,

    // KS replay: the same 8-hex md5 coordinate (digit-parsed), the
    // two one-sided gap numerators at each ECDF jump over a shared
    // n*2^32 denominator, one max, one ppm floor.
    "q214_ks_uniform" -> {
      val h8 = (0 until 8).map(i =>
        "(strpos('0123456789abcdef', substr(md5(cast(o_orderkey" +
          s" AS varchar)), ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH v AS (SELECT $h8 AS x FROM orders),
         |sup AS (SELECT x, cast(count(*) AS bigint) AS c
         |  FROM v GROUP BY x),
         |cw AS (SELECT x, c, cast(coalesce(sum(c) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS hugeint) AS below
         |  FROM sup),
         |n AS (SELECT cast(sum(c) AS bigint) AS n FROM sup)
         |SELECT n.n AS n,
         |  cast((max(greatest(
         |      (below + c) * 4294967296 - cast(x AS hugeint) * n.n,
         |      cast(x AS hugeint) * n.n - below * 4294967296))
         |    * 1000000) // (cast(n.n AS hugeint) * 4294967296)
         |    AS bigint) AS d_ppm
         |FROM cw, n GROUP BY n.n""".stripMargin
    },

    // Krippendorff replay: same ragged raters; rater counts are
    // {2,3} BY CONSTRUCTION, so A = S3/2 + S2 enters in doubled
    // units (2A = S3 + 2*S2) and everything stays hugeint:
    // alpha = (2D - (n..-1)*(S3 + 2*S2)) / (2D), sign-split floor.
    "q215_krippendorff" ->
      s"""WITH base AS (SELECT doc_id, cast(n_chars AS bigint) AS len,
         |    cast(len(string_split_regex(trim(text), '\\s+')) AS bigint)
         |      AS tok
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, 'len' AS rater, CASE WHEN len < 220 THEN 'low'
         |    WHEN len < 380 THEN 'mid' ELSE 'high' END AS cat FROM base
         |  UNION ALL
         |  SELECT doc_id, 'tok', CASE WHEN tok < 40 THEN 'low'
         |    WHEN tok < 70 THEN 'mid' ELSE 'high' END FROM base
         |  UNION ALL
         |  SELECT doc_id, 'dens', CASE WHEN len // tok < 5 THEN 'low'
         |    WHEN len // tok < 6 THEN 'mid' ELSE 'high' END FROM base
         |  WHERE doc_id % 2 = 0),
         |nic AS (SELECT doc_id, cat, cast(count(*) AS bigint) AS n
         |  FROM r GROUP BY 1, 2),
         |per AS (SELECT doc_id, sum(n) AS m,
         |    sum(cast(n AS hugeint) * n) AS s2
         |  FROM nic GROUP BY doc_id),
         |pair AS (SELECT * FROM per WHERE m >= 2),
         |sm AS (SELECT
         |    cast(coalesce(sum(CASE WHEN m = 3 THEN m * m - s2
         |      ELSE 0 END), 0) AS hugeint) AS s3,
         |    cast(coalesce(sum(CASE WHEN m = 2 THEN m * m - s2
         |      ELSE 0 END), 0) AS hugeint) AS s2s,
         |    cast(coalesce(sum(m), 0) AS hugeint) AS nn,
         |    cast(count(*) AS bigint) AS ni
         |  FROM pair),
         |nc AS (SELECT cast(coalesce(sum(cast(t AS hugeint) * t), 0)
         |    AS hugeint) AS sc2 FROM (
         |  SELECT sum(n) AS t FROM nic JOIN pair USING (doc_id)
         |  GROUP BY cat)),
         |f AS (SELECT ni, nn, nn * nn - sc2 AS d,
         |    s3 + 2 * s2s AS a2 FROM sm, nc)
         |SELECT ni AS n_items, cast(nn AS bigint) AS n_values,
         |  cast(CASE WHEN nn >= 2 AND d > 0 THEN
         |    (CASE WHEN 2 * d - (nn - 1) * a2 < 0 THEN -1 ELSE 1 END) *
         |    ((abs(2 * d - (nn - 1) * a2) * 1000000) // (2 * d))
         |    END AS bigint) AS alpha_ppm
         |FROM f""".stripMargin,

    // Trimmed-mean replay: support + strict-below window, the same
    // rank-band overlap per value, sign-split micro floor.
    "q216_trimmed_mean" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    cast(round(o_totalprice * 100, 0) AS bigint) AS x
        |  FROM orders),
        |sup AS (SELECT g, x, cast(count(*) AS bigint) AS c
        |  FROM v GROUP BY 1, 2),
        |cw AS (SELECT g, x, c, cast(coalesce(sum(c) OVER (
        |      PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS hugeint) AS below
        |  FROM sup),
        |b AS (SELECT g, cast(sum(c) AS bigint) AS n,
        |    cast((100000 * cast(sum(c) AS hugeint)) // 1000000
        |      AS bigint) AS lo
        |  FROM sup GROUP BY g),
        |k AS (SELECT cw.g, b.n, b.lo, cw.x,
        |    greatest(0, least(below + c, b.n - b.lo)
        |      - greatest(below, b.lo)) AS kept
        |  FROM cw JOIN b ON cw.g = b.g),
        |a AS (SELECT g, min(n) AS n, min(lo) AS trimmed_each,
        |    cast(sum(kept) AS bigint) AS n_kept,
        |    sum(cast(x AS hugeint) * kept) AS s
        |  FROM k GROUP BY g)
        |SELECT g AS o_orderpriority, n, trimmed_each, n_kept,
        |  cast(CASE WHEN n_kept > 0 THEN
        |    (CASE WHEN s < 0 THEN -1 ELSE 1 END) *
        |    ((abs(s) * 1000000) // n_kept) END AS bigint) AS tmean6
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    // Degenerate Fleiss replay: the same closed form as q204 with
    // n = 2 raters; p_o = p_e = 1 makes the kappa denominator 0, and
    // the CASE's missing ELSE must yield NULL on both engines.
    "q217_fleiss_degenerate" ->
      """WITH items AS (SELECT DISTINCT o_orderkey % 37 AS doc_id
        |    FROM orders),
        |r AS (SELECT doc_id, 'r0' AS rater, 'only' AS cat FROM items
        |  UNION ALL
        |  SELECT doc_id, 'r1', 'only' FROM items),
        |nic AS (SELECT doc_id, cat, cast(count(*) AS bigint) AS n
        |  FROM r GROUP BY 1, 2),
        |s AS (SELECT cast(count(DISTINCT doc_id) AS hugeint) AS ni,
        |    sum(cast(n AS hugeint) * n) AS s2 FROM nic),
        |t AS (SELECT sum(cast(tt AS hugeint) * tt) AS c FROM
        |  (SELECT sum(n) AS tt FROM nic GROUP BY cat)),
        |f AS (SELECT ni, s2 - ni * 2 AS a, ni * 2 AS b, c,
        |    (ni * 2) * (ni * 2) AS d FROM s, t)
        |SELECT cast(ni AS bigint) AS n_items,
        |  cast(2 AS bigint) AS n_raters,
        |  cast((a * 1000000) // b AS bigint) AS pbar_ppm,
        |  cast((c * 1000000) // d AS bigint) AS pe_ppm,
        |  cast(CASE WHEN b * (d - c) > 0 THEN
        |    (CASE WHEN a * d - b * c < 0 THEN -1 ELSE 1 END) *
        |    ((abs(a * d - b * c) * 1000000) // (b * (d - c)))
        |    END AS bigint) AS kappa_ppm
        |FROM f""".stripMargin,

    // Per-pair g3 replay (max-per-lhs subtracted from group totals),
    // one UNION ALL branch per ordered pair — count(*) over lhs
    // groups (not count(DISTINCT)) so a null lhs group counts, as in
    // the operator.
    "q196_fd_discover" -> {
      val cols = Seq("c_custkey", "c_nationkey", "c_mktsegment",
        "acct_bucket")
      val per = cols.flatMap(a => cols.filter(_ != a).map(b => (a, b)))
        .map { case (a, b) =>
          s"""SELECT '$a' AS lhs, '$b' AS rhs,
             |  cast(count(*) AS bigint) AS n_lhs,
             |  cast(sum(tot - mx) AS bigint) AS g3,
             |  CASE WHEN sum(tot - mx) = 0 THEN 1 ELSE 0 END AS holds
             |FROM (SELECT $a, max(n) AS mx, sum(n) AS tot
             |  FROM (SELECT $a, $b, count(*) AS n FROM bkt
             |    GROUP BY 1, 2) GROUP BY $a)""".stripMargin
        }
      s"""WITH bkt AS (
         |  SELECT c_custkey, c_nationkey, c_mktsegment,
         |    (cast(round(c_acctbal * 100, 0) AS bigint) + 100000)
         |      // 100000 AS acct_bucket
         |  FROM customer)
         |${per.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY lhs, rhs""".stripMargin
    },

    // Independent replay of the ordered t-closeness EMD: the same
    // exact-integer common-denominator form (P·N − G·ng over ng·N),
    // cumsum over a zero-filled class×value spine, |prefix| sum over
    // the first m−1 prefixes, normalized by m−1. All operands
    // non-negative at the `//`, so DuckDB floor = Spark div.
    "q189_tcloseness" ->
      """WITH b AS (
        |  SELECT c_nationkey,
        |    (cast(round(c_acctbal * 100, 0) AS bigint) + 100000)
        |      // 100000 AS v
        |  FROM customer),
        |g AS (SELECT v, cast(count(*) AS bigint) AS gc
        |      FROM b GROUP BY 1),
        |t AS (SELECT cast(sum(gc) AS bigint) AS n,
        |             cast(count(*) AS bigint) AS m FROM g),
        |grp AS (SELECT c_nationkey, cast(count(*) AS bigint) AS ng
        |        FROM b GROUP BY 1),
        |pg AS (SELECT c_nationkey, v, cast(count(*) AS bigint) AS p
        |       FROM b GROUP BY 1, 2),
        |sp AS (SELECT grp.c_nationkey, grp.ng, g.v, g.gc
        |       FROM grp CROSS JOIN g),
        |dd AS (SELECT sp.c_nationkey, sp.ng, sp.v,
        |         coalesce(pg.p, 0) * t.n - sp.gc * sp.ng AS diff
        |       FROM sp CROSS JOIN t LEFT JOIN pg
        |         ON sp.c_nationkey = pg.c_nationkey AND sp.v = pg.v),
        |c AS (SELECT c_nationkey, ng,
        |        sum(diff) OVER (PARTITION BY c_nationkey
        |          ORDER BY v) AS cum,
        |        row_number() OVER (PARTITION BY c_nationkey
        |          ORDER BY v) AS rn
        |      FROM dd)
        |SELECT c.c_nationkey, max(c.ng) AS class_size,
        |  cast(coalesce(sum(abs(c.cum))
        |    FILTER (WHERE c.rn < t.m), 0) AS bigint) AS emd_num,
        |  cast(max(c.ng) * t.n * (t.m - 1) AS bigint) AS emd_den,
        |  cast((coalesce(sum(abs(c.cum))
        |      FILTER (WHERE c.rn < t.m), 0) * 1000000)
        |    // (max(c.ng) * t.n * (t.m - 1)) AS bigint) AS t_ppm
        |FROM c CROSS JOIN t
        |GROUP BY c.c_nationkey, t.n, t.m
        |ORDER BY c.c_nationkey""".stripMargin,

    // Categorical t-closeness: variational distance ½Σ|p−q| with the
    // ½ folded into the denominator — no cumsum, one spine pass.
    "q190_tcloseness_cat" ->
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment AS v FROM customer),
        |g AS (SELECT v, cast(count(*) AS bigint) AS gc
        |      FROM b GROUP BY 1),
        |t AS (SELECT cast(sum(gc) AS bigint) AS n FROM g),
        |grp AS (SELECT c_nationkey, cast(count(*) AS bigint) AS ng
        |        FROM b GROUP BY 1),
        |pg AS (SELECT c_nationkey, v, cast(count(*) AS bigint) AS p
        |       FROM b GROUP BY 1, 2),
        |sp AS (SELECT grp.c_nationkey, grp.ng, g.v, g.gc
        |       FROM grp CROSS JOIN g),
        |dd AS (SELECT sp.c_nationkey, sp.ng,
        |         abs(coalesce(pg.p, 0) * t.n - sp.gc * sp.ng) AS ad
        |       FROM sp CROSS JOIN t LEFT JOIN pg
        |         ON sp.c_nationkey = pg.c_nationkey AND sp.v = pg.v)
        |SELECT dd.c_nationkey, max(dd.ng) AS class_size,
        |  cast(sum(dd.ad) AS bigint) AS emd_num,
        |  cast(max(dd.ng) * t.n * 2 AS bigint) AS emd_den,
        |  cast((sum(dd.ad) * 1000000)
        |    // (max(dd.ng) * t.n * 2) AS bigint) AS t_ppm
        |FROM dd CROSS JOIN t
        |GROUP BY dd.c_nationkey, t.n
        |ORDER BY dd.c_nationkey""".stripMargin,

    // Candidate scoring off the shared band CTEs; negatives thinned by
    // the digit-parsed pair-key coordinate.
    "q169_pair_mining" -> {
      val u = md5u32Sql(
        "cast(id_a AS varchar) || '|' || cast(id_b AS varchar)")
      s"""WITH $fuzzyBaseCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b ON a.bkey = b.bkey
         |  WHERE a.doc_id < b.doc_id),
         |sc AS (
         |  SELECT c.id_a, c.id_b,
         |    cast(len(list_intersect(a.s, b.s)) AS bigint) AS inter,
         |    cast(len(a.s) + len(b.s)
         |      - len(list_intersect(a.s, b.s)) AS bigint) AS uni
         |  FROM cand c
         |  JOIN dsh a ON a.doc_id = c.id_a
         |  JOIN dsh b ON b.doc_id = c.id_b),
         |j AS (SELECT id_a, id_b, (inter * 1000000) // uni AS jacc6,
         |  inter, uni FROM sc)
         |SELECT id_a, id_b, jacc6, 1 AS label FROM j
         |WHERE inter * 2 >= uni * 1
         |UNION ALL
         |SELECT id_a, id_b, jacc6, 0 AS label FROM j
         |WHERE inter * 5 < uni * 1 AND ($u) % 100 < 10
         |ORDER BY label DESC, id_a, id_b""".stripMargin
    },

    // Digit-parsed salted coordinate, distinct units, integer SRM.
    "q170_ab_srm" -> {
      val u = md5u32Sql("experiment || '|' || cast(user_id AS varchar)")
      s"""WITH un AS (
         |  SELECT DISTINCT event_type AS experiment, user_id
         |  FROM events),
         |a AS (
         |  SELECT experiment, ($u) % 2 AS arm FROM un),
         |g AS (
         |  SELECT experiment,
         |    cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS bigint)
         |      AS n0,
         |    cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS bigint)
         |      AS n1
         |  FROM a GROUP BY 1)
         |SELECT experiment, n0, n1,
         |  ((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1) AS srm6
         |FROM g ORDER BY experiment""".stripMargin
    },

    

    // Count-distinct-per-group replay of the FD definition.
    "q123_fd_audit" ->
      """WITH c AS (SELECT o_custkey, o_orderpriority, count(*) AS c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, count(*) AS n_rhs, cast(sum(c) AS bigint) AS n_rows
        |FROM c GROUP BY o_custkey HAVING count(*) > 1
        |ORDER BY o_custkey""".stripMargin,

    // Count-then-rank replay with the identical tie order.
    "q118_mode" ->
      """WITH c AS (SELECT user_id // 10 AS g, event_type AS v,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT g, v, n, row_number() OVER
        |    (PARTITION BY g ORDER BY n DESC, v ASC) AS rk FROM c)
        |SELECT g, v AS mode, n FROM r WHERE rk = 1 ORDER BY g""".stripMargin,

    // Distinct-value cumulative replay with the same half test.
    "q113_weighted_median" ->
      """WITH t AS (
        |  SELECT lang, n_chars AS v,
        |    len(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |bv AS (SELECT lang, v, sum(w) AS wv FROM t GROUP BY 1, 2),
        |c AS (SELECT lang, v,
        |    sum(wv) OVER (PARTITION BY lang ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(wv) OVER (PARTITION BY lang) AS tot
        |  FROM bv)
        |SELECT lang, cast(min(v) AS bigint) AS wmedian,
        |  cast(max(tot) AS bigint) AS total_w
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY lang ORDER BY lang""".stripMargin,

    

    // Integer ppm-share replay over the same subset rule.
    "q111_drift" ->
      """WITH a AS (SELECT lang, count(*) AS ca FROM documents GROUP BY lang),
        |b AS (SELECT lang, count(*) AS cb FROM documents
        |  WHERE doc_id % 3 <> 0 GROUP BY lang),
        |na AS (SELECT count(*) AS n FROM documents),
        |nb AS (SELECT count(*) AS n FROM documents WHERE doc_id % 3 <> 0)
        |SELECT lang, cast(coalesce(ca, 0) AS bigint) AS ca,
        |  cast(coalesce(cb, 0) AS bigint) AS cb,
        |  cast(abs((coalesce(ca, 0) * 1000000) // na.n -
        |           (coalesce(cb, 0) * 1000000) // nb.n) AS bigint) AS d6
        |FROM a FULL OUTER JOIN b USING (lang)
        |CROSS JOIN na CROSS JOIN nb
        |ORDER BY lang""".stripMargin,

    // Same dirtying CTE, each rule as a definitional count.
    "q110_quality_audit" ->
      """WITH dirty0 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |         WHEN o_orderkey % 107 = 0 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 103 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 101 = 0 THEN -1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 109 = 0 THEN 'bogus'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders),
        |dirty AS (SELECT * FROM dirty0
        |  UNION ALL SELECT * FROM dirty0 WHERE o_orderkey % 1000 = 0)
        |SELECT rule, violations FROM (
        |  SELECT 'fk(o_custkey->customer)' AS rule, count(*) AS violations
        |  FROM dirty d WHERE o_custkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = d.o_custkey)
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice)', count(*) FROM dirty
        |  WHERE o_totalprice IS NULL
        |    OR NOT (o_totalprice BETWEEN 1.0 AND 600000.0)
        |  UNION ALL
        |  SELECT 'in_set(o_orderstatus)', count(*) FROM dirty
        |  WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P')
        |  UNION ALL
        |  SELECT 'matches(o_orderpriority)', count(*) FROM dirty
        |  WHERE o_orderpriority IS NULL
        |    OR NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
        |  UNION ALL
        |  SELECT 'not_null(o_custkey)', count(*) FROM dirty
        |  WHERE o_custkey IS NULL
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    cast(coalesce(sum(c - 1), 0) AS bigint)
        |  FROM (SELECT count(*) AS c FROM dirty GROUP BY o_orderkey)
        |  WHERE c > 1)
        |ORDER BY rule""".stripMargin,

    "q61_length_quantiles" ->
      """SELECT lang, count(*) AS n,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  quantile_cont(n_chars, 0.95) AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q46_topk_udaf" ->
      s"""WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT label, vec_id,
         |    floor((${cosineSql("embedding", "q_vec")}) * 1000000) / 1000000
         |      AS score
         |  FROM embeddings, q WHERE vec_id <> 0),
         |ranked AS (
         |  SELECT label, vec_id, score,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT label, rank, vec_id, score FROM ranked
         |WHERE rank <= 3 ORDER BY label, rank""".stripMargin,

    // Token bucket via the q55 md5-digit assembly; integer weight sum,
    // /128.0 exact-dyadic logit.
    "q92_quality_logit" -> {
      val h32 = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hh, ${i + 1}, 1)) - 1) * ${math.pow(16, 7 - i).toLong}")
        .mkString("(", " + ", ")")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
         |  FROM documents),
         |h AS (SELECT doc_id, substr(md5(t), 1, 8) AS hh FROM tok),
         |b AS (SELECT doc_id, cast($h32 % 1024 AS bigint) AS b FROM h),
         |w AS (SELECT doc_id, (b * 37) % 201 - 100 AS wn FROM b)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
         |  cast(sum(wn) AS bigint) / 128.0 AS logit,
         |  cast(sum(wn) AS bigint) > 0 AS keep
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
  )
}
