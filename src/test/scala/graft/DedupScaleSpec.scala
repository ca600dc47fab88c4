package graft

import graft.ext.Dedup

/** The scale-shaped simhash decomposition: identical-signature groups
  * plus distinct-signature edges must carry exactly the information of
  * the all-pairs surface — a doc pair is a near-dup iff it shares a
  * group (hamming 0) or its two groups are edge-connected (hamming is
  * a pure function of the signatures).
  */
class DedupScaleSpec extends SparkSpec {
  import spark.implicits._

  test("simhash groups + group edges expand to the exact q37 pair set") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text",
      maxHamming = 3)
      .selectExpr("id_a", "id_b", "cast(hamming as int)")
      .as[(Long, Long, Int)].collect().toSet
    val groups = Dedup.simhashGroups(docs, "doc_id", "text")
      .selectExpr("doc_id", "group_id").as[(Long, Long)].collect()
    val edges = Dedup.simhashGroupEdges(docs, "doc_id", "text",
      maxHamming = 3)
      .selectExpr("rep_a", "rep_b", "cast(hamming as int)")
      .as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty, "corpus produced no near-dup pairs")
    assert(groups.length == docs.count(), "one group row per doc")
    val members: Map[Long, Seq[Long]] = groups.groupBy(_._2)
      .map { case (g, xs) => g -> xs.map(_._1).sorted.toSeq }
    val within = members.values.flatMap { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length)
        yield (ids(i), ids(j), 0)
    }
    val cross = edges.flatMap { case (ra, rb, h) =>
      for (x <- members(ra); y <- members(rb))
        yield (math.min(x, y), math.max(x, y), h)
    }
    val expanded = (within ++ cross).toSet
    assert(expanded == pairs,
      s"decomposition mismatch: expanded=${expanded.size} " +
        s"pairs=${pairs.size}")
    // edges connect distinct signatures only — no hamming-0 edge
    assert(edges.forall(_._3 >= 1), "edge with hamming 0")
  }

  test("simhashGroups: NULL-text docs re-enter as singleton groups, " +
      "never silently vanish") {
    // a null text produces no signature row; the groups surface still
    // owes one row per doc — losing it would turn a downstream
    // keep-canonical pass into data loss
    val d = Seq((1L, Some("a b c a b c")), (2L, None),
      (3L, Some("a b c a b c")), (4L, None))
      .toDF("doc_id", "text")
    val got = Dedup.simhashGroups(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // identical texts group together; each null-text doc is its OWN
    // singleton (no content evidence to merge on)
    assert(got === Seq((1L, 1L, 2L), (2L, 2L, 1L),
      (3L, 1L, 2L), (4L, 4L, 1L)))
  }
}
