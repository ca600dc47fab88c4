package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.norm.Normalize

/** Batch entity resolution — the one real redesign vs the reference
  * (SURVEY.md §7.3). The reference resolves authors row-at-a-time:
  * probe by ORCID, else by normalized name (backfilling ORCID), else
  * insert with an AUTOINCREMENT id (PIPE:312-359). That is order-dependent
  * and serial. The batch semantics here are deterministic:
  *
  *  1. propagate any known ORCID to all same-name occurrences
  *     (groupBy(name).min(orcid) — "first non-null wins" made
  *     order-independent);
  *  2. identity key = coalesce(orcid, nombreBusqueda) — ORCID-first,
  *     name fallback, same precedence as the reference;
  *  3. surrogate ids = dense row_number over the sorted natural key.
  *
  * Divergence from the reference: ties are broken lexicographically, not
  * by arrival order — documented and covered by EntitiesSpec.
  *
  * Scale note: the row_number runs over the *dimension* (entities, post
  *-dedup), not the fact stream. For a dimension too large for a single
  * sort partition, swap `surrogateIds` for sortBy + zipWithIndex (RDD) or
  * a stable hash id — the rest of the pipeline only needs determinism.
  */
object Entities {

  /** Deterministic dense surrogate ids 1..n over `keyCol` (+ `offset`).
    * Single-partition window — fine for small increments (the incremental
    * merge's novel set); use `surrogateIdsDistributed` for full builds.
    */
  def surrogateIds(df: DataFrame, keyCol: String, idCol: String,
      offset: Long = 0L): DataFrame =
    df.withColumn(idCol,
      (row_number().over(Window.orderBy(col(keyCol))) + offset))

  /** Same ids as `surrogateIds` (dense, ordered by `keyCol`), computed
    * distributed: range-partitioned sort + `zipWithIndex` (one extra
    * count job for partition offsets, no single-partition stage). This is
    * the 100 TB-safe path for full dimension builds.
    */
  def surrogateIdsDistributed(df: DataFrame, keyCol: String, idCol: String,
      offset: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(col(keyCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        idCol, org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L + offset))
    }
    spark.createDataFrame(indexed, schema)
  }

  /** Author dimension from (work, author) occurrences
    * (`Crossref.authorOccurrences` shape: nombreLimpio, nombreBusqueda,
    * orcid). Output: autorId, nombreLimpio, nombreBusqueda, orcid.
    */
  def resolveAuthors(occ: DataFrame): DataFrame = {
    // 1. ORCID propagation within a name (PIPE:332-335 backfill).
    val byName = occ.groupBy("nombreBusqueda")
      .agg(min(col("orcid")).as("orcidProp"),
        min(col("nombreLimpio")).as("nombreLimpio"))
    // 2. ORCID-first identity: names sharing an ORCID unify (PIPE:315-325).
    val entities = byName
      .withColumn("entityKey",
        coalesce(col("orcidProp"), col("nombreBusqueda")))
      .groupBy("entityKey")
      .agg(min(col("nombreBusqueda")).as("nombreBusqueda"),
        min(col("nombreLimpio")).as("nombreLimpio"),
        min(col("orcidProp")).as("orcid"))
    surrogateIdsDistributed(entities, "entityKey", "autorId")
      .select("autorId", "nombreLimpio", "nombreBusqueda", "orcid",
        "entityKey")
  }

  /** Incremental author merge (the batch analog of the reference's
    * probe-by-ORCID / probe-by-name / insert loop, PIPE:312-340):
    * existing entities keep their ids (with ORCID backfilled when the
    * batch learned one); genuinely new entities get ids after the current
    * max. Matching precedence = ORCID, then nombreBusqueda — same as the
    * reference's probes.
    *
    * `batch` is a [[resolveAuthors]] output: `entityKey`, the name and
    * every non-null ORCID are each unique in it. Then each existing
    * entity meets at most one batch row per probe, and a batch key is
    * claimed by an existing entity iff its ORCID or its name is already
    * present — so the merge needs no existing × batch probe join on
    * ORCID at all (EntitiesSpec pins it against the three-way join it
    * replaced).
    */
  def mergeAuthors(existing: DataFrame, batch: DataFrame): DataFrame = {
    val e = existing.select(col("autorId"), col("nombreLimpio"),
      col("nombreBusqueda"), col("orcid"))
    // ORCID backfill through the NAME probe only when the batch ORCID
    // matched no existing entity (the reference backfills on the name
    // probe only after the ORCID probe MISSED, PIPE:326-335) — otherwise
    // a batch row carrying e1's ORCID but e2's name would copy the ORCID
    // onto e2 and leave two entities sharing one ORCID.
    val claimedOrcids = e.filter(col("orcid").isNotNull)
      .select(col("orcid").as("claimedOrcid")).distinct()
    val byName = batch
      .join(claimedOrcids, col("orcid") === col("claimedOrcid"), "left")
      .select(col("nombreBusqueda"),
        when(col("claimedOrcid").isNull, col("orcid")).as("bOrcid"))
    val matched = e.join(byName, Seq("nombreBusqueda"), "left")
      .select(col("autorId"), col("nombreLimpio"), col("nombreBusqueda"),
        coalesce(col("orcid"), col("bOrcid")).as("orcid"))
    // A key claimed on EITHER probe is not novel: an entity matched via
    // ORCID may also name-match a different batch key, and that key
    // re-entering would mint a duplicate autorId for the same name.
    val novel = batch
      .join(claimedOrcids, col("orcid") === col("claimedOrcid"), "left_anti")
      .join(e.select("nombreBusqueda"), Seq("nombreBusqueda"), "left_anti")
    val maxId = e.agg(coalesce(max("autorId"), lit(0L)).cast("long"))
      .head().getLong(0)
    val novelWithIds = surrogateIds(novel.drop("autorId"), "entityKey",
      "autorId", maxId)
    matched
      .unionByName(novelWithIds
        .select("autorId", "nombreLimpio", "nombreBusqueda", "orcid"))
  }

  /** Incremental affiliation merge (PIPE:343-372): existing rows keep ids,
    * sticky EsUPS (once true stays true), COALESCE-style first-non-null
    * country/sede backfill; new normalized strings append after max id.
    */
  def mergeAffiliations(existing: DataFrame, batch: DataFrame): DataFrame = {
    val b = batch.select(col("afiliacionBusqueda"),
      col("cadenaLiteral").as("b_lit"), col("sedeId").as("b_sede"),
      col("countryCode").as("b_cc"), col("countryName").as("b_cn"),
      col("esUps").as("b_ups"))
    val merged = existing.join(b, Seq("afiliacionBusqueda"), "left")
      .select(col("afiliacionId"), col("cadenaLiteral"),
        col("afiliacionBusqueda"),
        coalesce(col("sedeId"), col("b_sede")).as("sedeId"),
        coalesce(col("countryCode"), col("b_cc")).as("countryCode"),
        coalesce(col("countryName"), col("b_cn")).as("countryName"),
        (col("esUps") || coalesce(col("b_ups"), lit(false))).as("esUps"))
    val maxId = existing.agg(coalesce(max("afiliacionId"), lit(0L))
      .cast("long")).head().getLong(0)
    val novel = batch.join(existing.select("afiliacionBusqueda"),
      Seq("afiliacionBusqueda"), "left_anti").drop("afiliacionId")
    merged.unionByName(
      surrogateIds(novel, "afiliacionBusqueda", "afiliacionId", maxId)
        .select("afiliacionId", "cadenaLiteral", "afiliacionBusqueda",
          "sedeId", "countryCode", "countryName", "esUps"))
  }

  /** Occurrence → entity mapping for the bridge build: adds `autorId` to
    * each (doi, author occurrence) row by probing the dimension ORCID-first
    * then by name — the same precedence as the reference's lookups — after
    * propagating known ORCIDs within a name. Works against both
    * freshly-resolved and incrementally-merged dimensions.
    */
  def mapOccurrencesToAuthors(occ: DataFrame, autores: DataFrame): DataFrame = {
    val prop = occ.groupBy("nombreBusqueda")
      .agg(min(col("orcid")).as("orcidProp"))
    val byOrcid = autores.filter(col("orcid").isNotNull)
      .select(col("orcid").as("orcidProp"), col("autorId").as("idByOrcid"))
    val byName = autores
      .select(col("nombreBusqueda"), col("autorId").as("idByName"))
    occ.drop("orcid").join(prop, Seq("nombreBusqueda"))
      .join(byOrcid, Seq("orcidProp"), "left")
      .join(byName, Seq("nombreBusqueda"), "left")
      .withColumn("autorId", coalesce(col("idByOrcid"), col("idByName")))
      .filter(col("autorId").isNotNull)
      .drop("orcidProp", "idByOrcid", "idByName")
  }

  /** Affiliation dimension from affiliation-grain rows
    * (cadenaLiteral, afiliacionBusqueda), enriched with UPS flag,
    * sede classification (C9), country detection (C8) and the
    * Ecuador-default rule (C10). Sticky/once-true semantics (A12) are
    * order-independent aggregates here.
    * Output: afiliacionId, cadenaLiteral, afiliacionBusqueda, sedeId,
    * countryCode, countryName, esUps.
    */
  def resolveAffiliations(affRows: DataFrame): DataFrame = {
    val entities = affRows
      .groupBy("afiliacionBusqueda")
      .agg(min(col("cadenaLiteral")).as("cadenaLiteral"))
      .withColumn("esUps", Normalize.isUps(col("afiliacionBusqueda")))
      .withColumn("countryCode0",
        Normalize.guessCountryCode(col("afiliacionBusqueda")))
      // C10: UPS with no detected country defaults to Ecuador.
      .withColumn("countryCode",
        when(col("esUps") && col("countryCode0").isNull, lit("EC"))
          .otherwise(col("countryCode0")))
      .withColumn("countryName", Normalize.countryName(col("countryCode")))
      .withColumn("sedeId",
        Normalize.sedeFromText(col("esUps"), col("afiliacionBusqueda")))
      .drop("countryCode0")
    surrogateIdsDistributed(entities, "afiliacionBusqueda", "afiliacionId")
      .select("afiliacionId", "cadenaLiteral", "afiliacionBusqueda",
        "sedeId", "countryCode", "countryName", "esUps")
  }
}
