package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ext.{Bloom, Clustering, Dedup, Similarity, Sketches, Skew, TextStats}
import graft.streaming.EventsOps

/** Graded queries for the training-data-pipeline extensions
  * (BASELINE.json north star): dedup, similarity search, text analysis,
  * event windows. Each delegates to the library module and keeps the
  * deterministic-output discipline of CoreQueries. Hash functions in
  * oracle-checked queries are md5-based (portable).
  */
object ExtQueries {
  val defs: Map[String, ExtHarness.Q] =
    ExtStreamQueries.defs ++
      ExtDedupQueries.defs ++
      ExtAnnQueries.defs ++
      ExtTextQueries.defs ++
      ExtStatsQueries.defs ++
      ExtInfraQueries.defs

  val oracles: Map[String, String] =
    ExtStreamQueries.oracles ++
      ExtDedupQueries.oracles ++
      ExtAnnQueries.oracles ++
      ExtTextQueries.oracles ++
      ExtStatsQueries.oracles ++
      ExtInfraQueries.oracles

  require(defs.size == 214 && oracles.size == defs.size,
    s"ExtQueries: domain slices overlap or dropped entries: " +
      s"defs=${defs.size} oracles=${oracles.size}")
}
