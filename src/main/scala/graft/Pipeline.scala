package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Catalog, Entities, FlatView, Warehouse}
import graft.ext.{Materialize, ParJobs}
import graft.ingest.Crossref

/** End-to-end orchestration of the reference pipeline (SURVEY.md §3):
  * ingest JSONL pages → UPS gate → dimensions (batch ER) → facts
  * (idempotent keyed append) → catalog integration → flat analytics view.
  * Re-running `ingest` over the same pages is a no-op (K1 semantics),
  * and a batch whose every page is already committed skips the work:
  * one MD5 and one marker probe per page, both read through the Hadoop
  * file system in this process, decide it without a Spark job, and a
  * full run marks its pages after its finish row, unless the F8 cap
  * bound (`ingest` states the contract).
  *
  * On a small batch a stage's time is set by its chain of Spark jobs,
  * not by compute, so each stage submits the actions that share no
  * input and no output together, through [[graft.ext.ParJobs]]:
  *  - `ingest`, after the swap recovery and the `exists` probes:
  *    phase 1 resolves, merges and checkpoints `autores` and
  *    `afiliaciones` while it appends `obras` and `obra_tema` — the two
  *    facts read only the gated works, never a dimension; phase 2 swaps
  *    both dimensions in while it appends `obra_autor_afiliacion` (which
  *    sees the dimensions only through the two checkpoints) and counts
  *    `obras` (written in phase 1, untouched in phase 2). The run log's
  *    start and finish rows stay first and last; the page markers
  *    follow the finish row.
  *  - `integrateCatalog`: after the `sedes_areas` swap, the CSV export
  *    and the relabel + `afiliaciones` swap, both readers of the new
  *    catalog.
  *  - `buildFlatView`: `obras_clean` and `oaa_clean`, both built from
  *    the raw tables; then the view from them.
  * Every writer still commits through its own swap or keyed append, a
  * failed action rethrows once the others have settled, and a re-run
  * converges to the state an unfailed run leaves (PipelineFaultSpec).
  */
object Pipeline {

  /** A phase action that only writes: no result for the phase. */
  private def write(f: => Unit): () => Option[Nothing] = () => { f; None }

  /** The tables `ingest` writes, the run log aside. */
  private[graft] val IngestTables = Seq("autores", "afiliaciones",
    "sedes_areas", "obras", "obra_tema", "obra_autor_afiliacion")

  /** Ingest one batch of CrossRef JSONL page files into the warehouse.
    * `maxWorks` is the F8 ingest cap (reference MAX_WORKS, PIPE:27):
    * like the reference's arrival-order cutoff, the surviving subset is
    * arbitrary-but-capped, via `limit`.
    *
    * A batch whose every page is already committed is skipped: the
    * call recovers each table it writes (a dead writer's pending swap
    * is finished, as a full run would finish it), logs its start and
    * finish rows and returns the `obras` count, in a handful of Spark
    * jobs. A page is one non-blank line of a page file; it is committed
    * when its marker `<dir>/_pages/<md5 of the line>` exists. Digests
    * and markers are read in this process, so the decision runs no job.
    * The rule is all or nothing: a batch with one uncommitted page runs
    * in full, because the ORCID propagation, the in-batch DOI dedup and
    * the cap each see the whole batch.
    *
    * A full run creates the markers of its uncommitted pages after its
    * finish row, and only when the cap did not bind: fewer than
    * `maxWorks` gated works, counted as an observed metric of the
    * `obras` append in phase 1, so the check adds no job (a count over
    * the gated cache plans a shuffle: two jobs). A capped batch left
    * works out, and its re-run must see them. A run that fails or dies
    * before its markers leaves its pages uncommitted, and its re-run
    * runs in full.
    *
    * Contract: a marker asserts that its page's rows are in the ingest
    * tables. A writer that removes rows from them must delete
    * `<dir>/_pages`, as `Warehouse.expirePartitions` does.
    */
  def ingest(spark: SparkSession, pagesPath: String, dir: String,
      maxWorks: Int = 1000000): Long = Materialize.scope {
    val runId = java.util.UUID.randomUUID().toString
    Warehouse.logRun(spark, dir, runId, "start", pagesPath, 0L)

    val items = Crossref.readPages(spark, pagesPath)
    val pages = Crossref.pageDigests(items)
    val fresh = Warehouse.uncommittedPages(spark, dir, pages)
    val (n, markable) =
      if (pages.nonEmpty && fresh.isEmpty) {
        IngestTables.foreach(Warehouse.recover(spark, dir, _))
        (Warehouse.read(spark, dir, "obras").count(), false)
      } else ingestBatch(spark, items, dir, maxWorks)
    Warehouse.logRun(spark, dir, runId, "finish", pagesPath, n)
    if (markable) Warehouse.commitPages(spark, dir, fresh)
    // the scope releases a full run's three caches and two cuts, also
    // when a phase throws
    n
  }

  /** The full ingest of `items`: returns the `obras` count and whether
    * the cap left every gated work in.
    */
  private def ingestBatch(spark: SparkSession, items: DataFrame, dir: String,
      maxWorks: Int): (Long, Boolean) = {
    val allWorks = Materialize.disk(Crossref.works(items))
    // DETERMINISTIC F8 cap: a bare limit over an unordered plan picks
    // an arbitrary subset PER EVALUATION — if the cache is lost
    // between the three fact appends (executor failure), each append
    // could see a different work subset and desynchronize the
    // warehouse. doi order makes the cap a pure function of the input
    // (the reference's arrival-order cutoff doesn't exist once pages
    // are a distributed dataset — same convention as the documented
    // lexicographic merge tiebreaks).
    val gated = Materialize.disk(Crossref.upsGate(allWorks).orderBy("doi")
      .limit(maxWorks))

    // Dimensions resolve over ALL scanned works — the reference upserts
    // authors/affiliations while parsing, BEFORE the work-level UPS gate
    // (PIPE:604-659 vs 662-663); only facts are gated. Authors enter the
    // dimension only with >=1 valid affiliation (`if aff_ids:` PIPE:653).
    val affRows = Materialize.disk(Crossref.authorAffiliations(allWorks))
    val occ = affRows
      .select("doi", "nombreLimpio", "nombreBusqueda", "orcid",
        "autorSecuencia")

    // Incremental dimension merge: existing surrogate ids are preserved,
    // new entities append after the current max (PIPE:312-359 semantics).
    // A swap a dead run left half done is finished first: a stashed
    // dimension would otherwise probe as missing and be rebuilt from
    // this batch alone, renumbering every entity.
    Seq("autores", "afiliaciones", "sedes_areas")
      .foreach(Warehouse.recover(spark, dir, _))
    val Seq(hasAutores, hasAfiliaciones, hasSedes) =
      Seq("autores", "afiliaciones", "sedes_areas")
        .map(Warehouse.exists(spark, dir, _))

    // Phase 1. EAGER lineage cut, not cache: phase 2's overwriteSwap
    // renames the very files these merged plans read — a best-effort
    // cache that loses blocks would recompute against a deleted
    // directory and die mid-run after facts were partially appended.
    // The cut happens before the swap. Resolution runs inside its
    // action: the surrogate-id step materialises eagerly. The cuts are
    // made on ParJobs threads and still register with this scope.
    val obras = gated.drop("author", "subject")
    val gatedN = Observation("gatedWorks")
    val Seq(autores, afiliaciones) = ParJobs[Option[DataFrame]](
      () => Some(Materialize.cut {
        val batch = Entities.resolveAuthors(occ)
        if (hasAutores) Entities.mergeAuthors(
          Warehouse.read(spark, dir, "autores"), batch)
        else batch.drop("entityKey")
      }),
      () => Some(Materialize.cut {
        val batch = Entities.resolveAffiliations(affRows)
        if (hasAfiliaciones) Entities.mergeAffiliations(
          Warehouse.read(spark, dir, "afiliaciones"), batch)
        else batch
      }),
      // Facts — idempotent keyed appends (K1).
      write(Warehouse.idempotentAppend(spark,
        obras.observe(gatedN, count(lit(1)).as("n")), dir, "obras",
        Seq("doi"), partitionCols = Seq("anio"))),
      write(Warehouse.idempotentAppend(spark, Crossref.obraTema(gated), dir,
        "obra_tema", Seq("doi", "tema")))).flatten

    // Bridge at (doi, autorId, afiliacionId) grain with A6/A7 semantics:
    // distinct affiliation set per author-in-work; sequence upgrades to
    // "first" if any occurrence was first, else the min non-null seq
    // (PIPE:653-659). Occurrence→entity mapping runs over the full
    // occurrence set (same ORCID propagation as the dimension build),
    // then facts are gated to UPS works.
    val mapped = Entities.mapOccurrencesToAuthors(affRows, autores)
      .join(gated.select("doi"), Seq("doi"), "left_semi")
    val oaa = mapped
      .join(afiliaciones.select("afiliacionBusqueda", "afiliacionId"),
        Seq("afiliacionBusqueda"))
      .groupBy("doi", "autorId", "afiliacionId")
      .agg(when(min(when(col("autorSecuencia") === "first", 0).otherwise(1))
        === 0, lit("first")).otherwise(min(when(
        col("autorSecuencia") =!= "first", col("autorSecuencia"))))
        .as("autorSecuencia"))

    // Phase 2: publish the dimensions beside the bridge append.
    val Seq(n) = ParJobs[Option[Long]](
      () => Some(Warehouse.read(spark, dir, "obras").count()),
      write(Warehouse.overwriteSwap(spark, autores, dir, "autores")),
      write(Warehouse.overwriteSwap(spark, afiliaciones, dir,
        "afiliaciones")),
      write(Warehouse.idempotentAppend(spark, oaa, dir,
        "obra_autor_afiliacion", Seq("doi", "autorId", "afiliacionId"))),
      write(if (!hasSedes)
        Warehouse.overwrite(Catalog.seededSedes(spark), dir, "sedes_areas"))
    ).flatten
    // the append completed the observation before it returned; were it
    // missing, the cap would count as bound and no page be marked
    (n, gatedN.future.value.flatMap(_.toOption)
      .exists(_.getLong(0) < maxWorks))
  }

  /** Catalog integration + keyword relabel (§3.2). */
  def integrateCatalog(spark: SparkSession, csvPath: String,
      dir: String): Unit = {
    val incoming = Catalog.readCsv(spark, csvPath)
    Seq("sedes_areas", "afiliaciones").foreach(Warehouse.recover(spark, dir, _))
    val existing =
      if (Warehouse.exists(spark, dir, "sedes_areas"))
        Warehouse.read(spark, dir, "sedes_areas")
      else Catalog.seededSedes(spark)
    val merged = Catalog.upsertSedes(existing, incoming)
    Warehouse.overwriteSwap(spark, merged, dir, "sedes_areas")
    val sedes = Warehouse.read(spark, dir, "sedes_areas")
    ParJobs(
      // K3 — catalog CSV export (PIPE:396-398)
      () => Warehouse.writeCsv(sedes.orderBy("sedeId"),
        s"$dir/export/sedes_areas_csv"),
      () => Warehouse.overwriteSwap(spark, Catalog.labelAffiliations(
        Warehouse.read(spark, dir, "afiliaciones"), sedes),
        dir, "afiliaciones"))
  }

  /** Cleanup + flat view (§3.3): *_clean tables and Vista_Analisis. */
  def buildFlatView(spark: SparkSession, dir: String): DataFrame = {
    val obras = FlatView.cleanObras(Warehouse.read(spark, dir, "obras"))
    val autores = Warehouse.read(spark, dir, "autores")
      .dropDuplicates("autorId")
    val afiliaciones = Warehouse.read(spark, dir, "afiliaciones")
      .dropDuplicates("afiliacionId")
    val oaa = FlatView.enforceRi(
      Warehouse.read(spark, dir, "obra_autor_afiliacion"),
      obras, autores, afiliaciones)
    ParJobs(
      () => Warehouse.overwrite(obras, dir, "obras_clean"),
      () => Warehouse.overwrite(oaa, dir, "oaa_clean"))

    // The view reads the clean tables just committed: re-using the
    // `obras`/`oaa` plans would re-run the cleanup and the RI
    // semi-joins a second and third time (PipelineSpec pins that the
    // result is the same).
    val obrasClean = Warehouse.read(spark, dir, "obras_clean")
    val temas = Warehouse.read(spark, dir, "obra_tema")
      .join(obrasClean.select("doi"), Seq("doi"), "left_semi")
      .dropDuplicates("doi", "tema")
    val sedes = Warehouse.read(spark, dir, "sedes_areas")
    val vista = FlatView.vistaAnalisis(obrasClean, autores, afiliaciones,
      Warehouse.read(spark, dir, "oaa_clean"), temas, sedes)
    Warehouse.overwrite(vista, dir, "vista_analisis")
    Warehouse.read(spark, dir, "vista_analisis")
  }

  /** Full run: ingest → catalog → flat view. */
  def runAll(spark: SparkSession, pagesPath: String, csvPath: String,
      dir: String): DataFrame = {
    ingest(spark, pagesPath, dir)
    integrateCatalog(spark, csvPath, dir)
    buildFlatView(spark, dir)
  }
}
