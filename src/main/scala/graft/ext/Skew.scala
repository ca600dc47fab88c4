package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffles whose key distribution is pathological.
  *
  * First resort at runtime is AQE (`spark.sql.adaptive.skewJoin.enabled`,
  * on by default) — it splits oversized sort-merge partitions after the
  * fact. The explicit salting here is for the shapes AQE does not cover:
  * a hot key feeding a non-splittable aggregation, or a join the planner
  * chose a non-splittable strategy for; it also makes the spread
  * deterministic instead of threshold-dependent.
  */
object Skew {

  /** Join-explosion pre-audit: BEFORE running an equi-join, compute
    * its exact output contribution per key — Σ n_a(k)·n_b(k) is the
    * join's output size, and the per-key terms are where the memory/
    * shuffle blow-up hides (a many-to-many hot key multiplies). Run on
    * the two key-count profiles (one aggregation each, map-side
    * combine; the profile join carries one row per DISTINCT key, never
    * fact rows), so the audit costs two cheap aggs where the mistake
    * it prevents costs the cluster. Returns the top-`k` contributors
    * (key, n_a, n_b, contrib) by contribution, deterministic
    * tie-break on the key.
    */
  def joinExplosionAudit(a: DataFrame, keyA: String, b: DataFrame,
      keyB: String, k: Int): DataFrame = {
    require(k >= 1, "joinExplosionAudit: k must be >= 1")
    val ca = a.groupBy(col(keyA).as("key"))
      .agg(count(lit(1)).as("n_a"))
    val cb = b.groupBy(col(keyB).as("key"))
      .agg(count(lit(1)).as("n_b"))
    ca.join(cb, "key")
      // decimal(38,0): the pathological hot keys this audit exists to
      // catch are exactly where a LONG n_a*n_b wraps negative — the
      // worst key would then rank LAST and escape the top-k
      .withColumn("contrib",
        (col("n_a").cast("decimal(38,0)") * col("n_b"))
          .cast("decimal(38,0)"))
      .orderBy(col("contrib").desc, col("key").asc)
      .limit(k)
  }

  /** `__shard` is reserved by these utilities. */
  private def checkShardFree(df: DataFrame, keys: Seq[String]): Unit = {
    require(!df.columns.contains("__shard"),
      "column name __shard is reserved by Skew utilities")
    require(!keys.contains("__shard"), "__shard cannot be a join/group key")
  }

  /** Two-phase skew-safe aggregation for aggregates WITHOUT map-side
    * combine (exact distincts, collect_set/list): phase 1 aggregates
    * per (keys…, shard) so a hot key's state is built on `salt`
    * reducers, phase 2 merges the per-shard results per key. For
    * algebraic aggregates (sum/count/min/max) Spark's partial
    * aggregation already does this — use plain groupBy there.
    *
    * `phase1`/`phase2` are the per-shard and merge aggregate lists,
    * e.g. `collect_set(x) as s` then
    * `array_distinct(flatten(collect_list(s)))`.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltFrom: Column,
      phase1: Seq[Column], phase2: Seq[Column],
      salt: Int = 16): DataFrame = {
    require(salt > 0, s"salt must be positive, got $salt")
    require(phase1.nonEmpty && phase2.nonEmpty, "need aggregate lists")
    checkShardFree(df, keys)
    df.withColumn("__shard",
      pmod(xxhash64(saltFrom), lit(salt)).cast("int"))
      .groupBy((keys :+ "__shard").map(col): _*)
      .agg(phase1.head, phase1.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(phase2.head, phase2.tail: _*)
  }
}
