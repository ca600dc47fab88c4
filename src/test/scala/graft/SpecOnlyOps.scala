package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.functions.DigestFunctions.fastMd5

/** Operators no query or pipeline stage calls: each is the subject or
  * the reference of one spec, so it lives with the specs.
  */
object SpecOnlyOps {

  /** Character n-gram shingles (ExtSpec). */
  def charShingles(text: Column, n: Int): Column = {
    val s = trim(text)
    when(length(s) >= n,
      transform(sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n))))
      .otherwise(array(s))
  }

  /** Exact-duplicate media detection over the binary column — same
    * hash-groupBy shape as text dedup (MultimodalSpec).
    */
  def exactMediaDups(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    df.groupBy(fastMd5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Skew-safe equi-join of a big, skew-keyed left side against a right
    * side that is modest but still too big (or too dynamic) to
    * broadcast: left rows are salted into `salt` shards by a
    * deterministic hash of `saltFrom`, the right side is replicated
    * once per shard, and the join key becomes (keys…, shard). A hot
    * key's rows land on `salt` reducers instead of one; the result is
    * exactly the plain equi-join (SkewSpec). `__shard` is reserved.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      saltFrom: Column, salt: Int = 16): DataFrame = {
    require(salt > 0, s"salt must be positive, got $salt")
    Seq(big, small).foreach { df =>
      require(!df.columns.contains("__shard"),
        "column name __shard is reserved by Skew utilities")
    }
    require(!keys.contains("__shard"), "__shard cannot be a join/group key")
    val b = big.withColumn("__shard",
      pmod(xxhash64(saltFrom), lit(salt)).cast("int"))
    val s = small.withColumn("__shard",
      explode(sequence(lit(0), lit(salt - 1))))
    b.join(s, keys :+ "__shard").drop("__shard")
  }

  /** The retired bucket-partitioned-window form of
    * `Dedup.embeddingDedupGroups`, the equality witness Round13Spec
    * pins the groupBy+join-back rewrite bit-equal to:
    * `min(struct).over(Window.partitionBy(bucket))` funnels each
    * bucket through one task's sort and ships every vector twice
    * (row + window buffer), so a dense semantic cluster concentrating
    * a bucket serializes regardless of nBits.
    */
  def embeddingDedupGroupsWindowed(df: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nBits: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = math.min(nBits, Similarity.MaxRpBits)
    val t6 = math.floor(threshold * 1e6).toLong
    val w = Window.partitionBy("bucket")
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
      .withColumn("bucket", Similarity.rpBucket(col("v"), bits))
      .withColumn("rep",
        min(struct(col("id"), col("v"), col("nrm"))).over(w))
      .withColumn("cos6",
        when(col("nrm") > 0 && col("rep.nrm") > 0,
          floor(Similarity.dot(col("v"), col("rep.v")) /
            (col("nrm") * col("rep.nrm")) * lit(1e6)).cast("long")))
      .select(col("id"),
        when(col("cos6") >= t6, col("rep.id")).otherwise(col("id"))
          .as("group_rep"),
        col("cos6"))
  }
}
