package graft

/** Smoke coverage: every graded query runs at sf0.001 and produces a
  * well-formed result (schema non-empty; rows > 0 except the queries whose
  * correct result is legitimately empty on this synthetic data), and a
  * query run inside a `Materialize.scope` leaves no persisted RDD behind.
  */
class QueriesSpec extends SparkSpec {

  private val mayBeEmpty = Set(
    "q27_minhash_bands",   // no near-dup documents in synthetic data
    "q35_embedding_neardup", // bucket prefilter may isolate all vectors
    "q36_minhash_neardup", "q37_simhash",
    "q39_media_neardup",   // unique synthetic bytes → no near-dups
    "q49_dedup_clusters",  // empty when q36's pair graph is empty
    "q54_dedup_clusters_star",
    "q62_frame_neardup",   // unique synthetic frames may share no bucket
    "q63_contamination",   // synthetic corpus may share no 13-grams
    "q119_kcore")          // sf0.001 has 10 suppliers — nobody reaches k=25

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val n = graft.ext.Materialize.scope {
        val df = fn(spark, sf0001)
        assert(df.schema.fields.nonEmpty)
        df.count()
      }
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name left persisted RDDs $left")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // The driver hash-compares values — a nondeterministic query would
  // flake between the Spark dump and the oracle run. Re-run a sample of
  // shapes prone to nondeterminism (limits, windows, floats, ids) and
  // require identical collected output.
  Seq("q13_topk", "q14_window_rank", "q11_entity_resolution",
    "q28_cosine_topk", "q30_ann_topk", "q34_events_session",
    "q35_embedding_neardup", "q53_ann_at_rest").foreach { name =>
    test(s"$name is run-to-run deterministic") {
      val fn = SparkEntry.queries(name)
      def run() = fn(spark, sf0001).collect().map(_.toString).toSeq
      assert(run() == run())
    }
  }

  test("queries and oracles are exactly 1:1") {
    // Every graded query MUST carry an oracle — the driver downgrades
    // an oracle-less query to a weaker rows-only check, which this
    // repo's discipline forbids (all 188 have been fully graded since
    // round 5; a new query slipping in without SQL would silently
    // weaken its grade).
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"asymmetric: only-oracle=${
        SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
      } only-query=${
        SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet}")
  }
}
