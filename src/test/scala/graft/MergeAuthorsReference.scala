package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental author merge as it was first written: the existing
  * dimension probed by ORCID and by name in one three-way join, which
  * yields both the matched rows and the claimed batch keys. Kept as the
  * reference `Entities.mergeAuthors` must equal (EntitiesSpec).
  */
object MergeAuthorsReference {
  def mergeAuthors(existing: DataFrame, batch: DataFrame): DataFrame = {
    val e = existing.select(col("autorId"), col("nombreLimpio"),
      col("nombreBusqueda"), col("orcid"))
    val byOrcid = batch.filter(col("orcid").isNotNull)
      .select(col("orcid"), col("entityKey").as("kO"))
    val claimedOrcids = e.filter(col("orcid").isNotNull)
      .select(col("orcid").as("claimedOrcid")).distinct()
    val byName = batch
      .join(claimedOrcids, col("orcid") === col("claimedOrcid"), "left")
      .select(col("nombreBusqueda"),
        when(col("claimedOrcid").isNull, col("orcid")).as("bOrcid"),
        col("entityKey").as("kN"))
    val joined = e
      .join(byOrcid, Seq("orcid"), "left")
      .join(byName, Seq("nombreBusqueda"), "left")
    val matched = joined
      .select(col("autorId"), col("nombreLimpio"), col("nombreBusqueda"),
        coalesce(col("orcid"), col("bOrcid")).as("orcid"))
    val claimedKeys = joined.select(col("kO").as("entityKey"))
      .filter(col("entityKey").isNotNull)
      .union(joined.select(col("kN").as("entityKey"))
        .filter(col("entityKey").isNotNull))
      .distinct()
    val maxId = e.agg(coalesce(max("autorId"), lit(0L)).cast("long"))
      .head().getLong(0)
    val novel = batch.join(claimedKeys, Seq("entityKey"), "left_anti")
    val novelWithIds = graft.etl.Entities.surrogateIds(novel.drop("autorId"),
      "entityKey", "autorId", maxId)
    matched
      .unionByName(novelWithIds
        .select("autorId", "nombreLimpio", "nombreBusqueda", "orcid"))
  }
}
