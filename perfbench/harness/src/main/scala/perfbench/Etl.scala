package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.etl.{Catalog, Entities, FlatView, Warehouse}
import graft.ingest.Crossref
import graft.norm.Normalize
import graft.query.Dashboard

/** The reference pipeline, driven one stage at a time.
  *
  * Untraced, each stage is one call into `Pipeline` (or `Dashboard`). Traced,
  * the stage runs the same calls that `Pipeline.ingest`, `integrateCatalog`
  * and `buildFlatView` make, in the same order, with a span around each call
  * into `Crossref`, `Entities`, `Warehouse`, `Catalog` and `FlatView`. Both
  * paths write the same warehouse, and the same checks run on both.
  */
final class Etl(spark: SparkSession, tr: Trace, catalogCsv: String) {
  import Etl._

  /** Counters only the traced run fills: rows offered to and appended by
    * the keyed appends, data files written, and table swaps.
    */
  val counts = scala.collection.mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)

  private def bump(k: String, v: Double): Unit = counts(k) = counts(k) + v

  /** `stage` names the span: a re-run of loaded pages is `stage.rerun`. */
  def ingest(pages: String, dir: String, stage: String = "stage.ingest")
      : Long =
    tr.span(stage) {
      if (tr.enabled) ingestTraced(pages, dir)
      else Pipeline.ingest(spark, pages, dir)
    }

  def catalog(dir: String): Unit =
    tr.span("stage.catalog") {
      if (tr.enabled) catalogTraced(dir)
      else Pipeline.integrateCatalog(spark, catalogCsv, dir)
    }

  def flatView(dir: String): DataFrame =
    tr.span("stage.flatview") {
      if (tr.enabled) flatViewTraced(dir)
      else Pipeline.buildFlatView(spark, dir)
    }

  /** The three dashboard charts over `Vista_Analisis`. */
  def dashboard(vista: DataFrame): Seq[Array[Row]] =
    tr.span("stage.dashboard") {
      Seq("worksPerYear" -> Dashboard.worksPerYear _,
        "worksPerCountry" -> Dashboard.worksPerCountry _,
        "worksPerArea" -> Dashboard.worksPerArea _).map { case (n, f) =>
        tr.span(s"dashboard.$n") {
          bump("dashboard.queries", 1)
          f(vista, Dashboard.Filters()).collect()
        }
      }
    }

  /** Pages on disk to the three dashboard results. */
  def load(pages: String, dir: String): Seq[Array[Row]] = {
    ingest(pages, dir)
    catalog(dir)
    dashboard(flatView(dir))
  }

  // ---- traced mirrors of the Pipeline stages ---------------------------

  private def dataFiles(dir: String): Set[(String, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toSet
      finally s.close()
    }
  }

  /** A warehouse call, with the data files it wrote counted. */
  private def write[T](call: String, dir: String)(body: => T): T = {
    val before = tr.span("trace.listFiles")(dataFiles(dir))
    val out = tr.span(s"warehouse.$call")(body)
    val after = tr.span("trace.listFiles")(dataFiles(dir))
    bump("warehouse.files_written", (after -- before).size)
    if (call == "overwriteSwap") bump("warehouse.swaps", 1)
    out
  }

  private def append(df: DataFrame, dir: String, table: String,
      keys: Seq[String], partitionCols: Seq[String] = Nil): Unit = {
    bump("warehouse.rows_offered",
      tr.span("trace.countOffered")(df.dropDuplicates(keys).count()))
    write("idempotentAppend", dir) {
      Warehouse.idempotentAppend(spark, df, dir, table, keys, partitionCols)
    }
  }

  private def ingestTraced(pages: String, dir: String): Long = {
    val runId = java.util.UUID.randomUUID().toString
    write("logRun", dir)(
      Warehouse.logRun(spark, dir, runId, "start", pages, 0L))
    val items = tr.span("ingest.readPages")(Crossref.readPages(spark, pages))
    val allWorks =
      tr.span("ingest.works")(tr.force(Crossref.works(items).cache()))
    val gated = tr.span("ingest.upsGate")(tr.force(
      Crossref.upsGate(allWorks).orderBy("doi").limit(MaxWorks).cache()))
    val affRows = tr.span("ingest.authorAffiliations")(
      tr.force(Crossref.authorAffiliations(allWorks).cache()))
    tr.span("trace.countIngest") {
      bump("ingest.works_read", allWorks.count().toDouble)
      bump("ingest.works_gated", gated.count().toDouble)
      bump("ingest.aff_rows", affRows.count().toDouble)
    }
    val occ = affRows.select("doi", "nombreLimpio", "nombreBusqueda",
      "orcid", "autorSecuencia")
    val hasDims = Warehouse.exists(spark, dir, "autores")
    val (autoresBatch, afilBatch) = tr.span("entities.resolve") {
      val a = Entities.resolveAuthors(occ)
      val f = Entities.resolveAffiliations(affRows)
      // with no dimension yet the checkpoint below is the resolution itself
      if (hasDims) { tr.force(a); tr.force(f) }
      (a, f)
    }
    val (autores, afiliaciones) =
      tr.span(if (hasDims) "entities.merge" else "entities.resolve") {
        val a = (if (hasDims) Entities.mergeAuthors(
          Warehouse.read(spark, dir, "autores"), autoresBatch)
        else autoresBatch.drop("entityKey")).localCheckpoint()
        val f = (if (Warehouse.exists(spark, dir, "afiliaciones"))
          Entities.mergeAffiliations(
            Warehouse.read(spark, dir, "afiliaciones"), afilBatch)
        else afilBatch).localCheckpoint()
        (a, f)
      }
    tr.span("trace.countEntities") {
      counts("entities.authors") = autores.count().toDouble
      counts("entities.affiliations") = afiliaciones.count().toDouble
    }
    write("overwriteSwap", dir)(
      Warehouse.overwriteSwap(spark, autores, dir, "autores"))
    write("overwriteSwap", dir)(
      Warehouse.overwriteSwap(spark, afiliaciones, dir, "afiliaciones"))

    append(gated.drop("author", "subject"), dir, "obras", Seq("doi"),
      Seq("anio"))
    val temas = tr.span("ingest.obraTema")(tr.force(Crossref.obraTema(gated)))
    append(temas, dir, "obra_tema", Seq("doi", "tema"))

    val mapped = tr.span("entities.mapOccurrencesToAuthors")(tr.force(
      Entities.mapOccurrencesToAuthors(affRows, autores)
        .join(gated.select("doi"), Seq("doi"), "left_semi")))
    val oaa = mapped
      .join(afiliaciones.select("afiliacionBusqueda", "afiliacionId"),
        Seq("afiliacionBusqueda"))
      .groupBy("doi", "autorId", "afiliacionId")
      .agg(when(min(when(col("autorSecuencia") === "first", 0).otherwise(1))
        === 0, lit("first")).otherwise(min(when(
        col("autorSecuencia") =!= "first", col("autorSecuencia"))))
        .as("autorSecuencia"))
    append(oaa, dir, "obra_autor_afiliacion",
      Seq("doi", "autorId", "afiliacionId"))

    if (!Warehouse.exists(spark, dir, "sedes_areas"))
      write("overwrite", dir)(
        Warehouse.overwrite(Catalog.seededSedes(spark), dir, "sedes_areas"))

    val n =
      tr.span("warehouse.read")(Warehouse.read(spark, dir, "obras").count())
    write("logRun", dir)(
      Warehouse.logRun(spark, dir, runId, "finish", pages, n))
    Seq(allWorks, gated, affRows).foreach(_.unpersist())
    Seq(autores, afiliaciones).foreach(
      _.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(false)))
    n
  }

  private def catalogTraced(dir: String): Unit = {
    val incoming = tr.span("catalog.readCsv")(
      tr.force(Catalog.readCsv(spark, catalogCsv)))
    val existing =
      if (Warehouse.exists(spark, dir, "sedes_areas"))
        Warehouse.read(spark, dir, "sedes_areas")
      else Catalog.seededSedes(spark)
    val merged = tr.span("catalog.upsertSedes")(
      tr.force(Catalog.upsertSedes(existing, incoming)))
    write("overwriteSwap", dir)(
      Warehouse.overwriteSwap(spark, merged, dir, "sedes_areas"))
    write("writeCsv", dir)(Warehouse.writeCsv(
      Warehouse.read(spark, dir, "sedes_areas").orderBy("sedeId"),
      s"$dir/export/sedes_areas_csv"))
    val relabeled = tr.span("catalog.labelAffiliations")(tr.force(
      Catalog.labelAffiliations(Warehouse.read(spark, dir, "afiliaciones"),
        Warehouse.read(spark, dir, "sedes_areas"))))
    write("overwriteSwap", dir)(
      Warehouse.overwriteSwap(spark, relabeled, dir, "afiliaciones"))
  }

  private def flatViewTraced(dir: String): DataFrame = {
    val obras = tr.span("flatview.cleanObras")(tr.force(
      FlatView.cleanObras(Warehouse.read(spark, dir, "obras"))))
    val autores = Warehouse.read(spark, dir, "autores")
      .dropDuplicates("autorId")
    val afiliaciones = Warehouse.read(spark, dir, "afiliaciones")
      .dropDuplicates("afiliacionId")
    val oaa = tr.span("flatview.enforceRi")(tr.force(FlatView.enforceRi(
      Warehouse.read(spark, dir, "obra_autor_afiliacion"),
      obras, autores, afiliaciones)))
    val temas = Warehouse.read(spark, dir, "obra_tema")
      .join(obras.select("doi"), Seq("doi"), "left_semi")
      .dropDuplicates("doi", "tema")
    val sedes = Warehouse.read(spark, dir, "sedes_areas")
    write("overwrite", dir)(Warehouse.overwrite(obras, dir, "obras_clean"))
    write("overwrite", dir)(Warehouse.overwrite(oaa, dir, "oaa_clean"))
    val vista = tr.span("flatview.vistaAnalisis")(tr.force(
      FlatView.vistaAnalisis(obras, autores, afiliaciones, oaa, temas, sedes)))
    write("overwrite", dir)(Warehouse.overwrite(vista, dir, "vista_analisis"))
    val out = Warehouse.read(spark, dir, "vista_analisis")
    counts("flatview.rows") =
      tr.span("trace.countVista")(out.count().toDouble)
    out
  }

  /** Projects the `Normalize` column functions over the raw author and
    * affiliation strings of `pages`; returns the number of strings.
    */
  def normalizeStrings(pages: String): Long = {
    val items = Crossref.readPages(spark, pages)
    val au = items.select(explode(col("item.author")).as("au"))
    val names = au.select(col("au.given"), col("au.family"), col("au.name"),
      col("au.ORCID"))
    val affs = au.select(explode(col("au.affiliation.name")).as("aff"))
    tr.span("norm.project") {
      tr.force(names.select(
        Normalize.normKey(Normalize.authorFullName(col("given"),
          col("family"), col("name"))).as("k"),
        Normalize.orcidBare(col("ORCID")).as("o")))
      tr.force(affs.select(Normalize.normNfc(col("aff")).as("c"),
        Normalize.isUps(Normalize.normKey(col("aff"))).as("u"),
        Normalize.guessCountryCode(Normalize.normKey(col("aff"))).as("g")))
    }
    tr.span("trace.countStrings")(names.count() + affs.count())
  }
}

object Etl {
  /** The reference's MAX_WORKS cap, as `Pipeline.ingest` defaults it. */
  val MaxWorks = 1000000

  /** Warehouse state the checks compare across batches. */
  final case class State(vistaRows: Long, vistaWithAuthors: Long,
      oaaDois: Long, perYear: Map[Int, Long], facts: Map[String, Long],
      authors: Map[Long, String], affiliations: Map[Long, String])

  /** Row counts of the tables a batch writes, in one Spark job. */
  private val Counted = Seq("obras", "obras_clean", "obra_tema",
    "obra_autor_afiliacion", "autores", "afiliaciones")

  def state(spark: SparkSession, dir: String,
      perYear: Array[Row]): State = {
    def rd(t: String) = Warehouse.read(spark, dir, t)
    def tagged(df: DataFrame, tag: Column) = df.select(tag.as("t"))
    val counts = (Counted.map(t => tagged(rd(t), lit(t))) ++ Seq(
      tagged(rd("oaa_clean").select("doi").distinct(), lit("oaa_dois")),
      tagged(rd("vista_analisis"), when(col("autores") =!= "", "vista_authors")
        .otherwise("vista_no_authors"))))
      .reduce(_ union _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    State(
      vistaRows = counts("vista_authors") + counts("vista_no_authors"),
      vistaWithAuthors = counts("vista_authors"),
      oaaDois = counts("oaa_dois"),
      perYear = perYear.map(r => r.getInt(0) -> r.getLong(1)).toMap,
      facts = Counted.map(t => t -> counts(t)).toMap,
      authors = rd("autores").select("autorId", "nombreBusqueda").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap,
      affiliations = rd("afiliaciones")
        .select("afiliacionId", "afiliacionBusqueda").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  /** Copies a warehouse directory tree. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally s.close()
  }
}
