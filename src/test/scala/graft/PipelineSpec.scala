package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.etl.{FlatView, Warehouse}
import graft.query.Dashboard

/** End-to-end golden test of the reference pipeline over the CrossRef
  * JSONL fixture (src/test/resources/crossref): ingest → catalog →
  * flat view → dashboard aggregations, plus idempotence (K1) and
  * incremental-dimension-merge invariants.
  *
  * Golden values derived by hand from the fixture + the reference's rules
  * (see scaladoc in each module). Known deterministic divergence: entity
  * display names pick the lexicographic min across unified spellings
  * ("J. Pérez" < "José Pérez"), not the arrival-order-first.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_wh").toString

  private lazy val pages = resource("crossref")
  private lazy val csv = resource("ups_institucional.csv")

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  private def finishRows(dir: String): Long =
    Warehouse.read(spark, dir, "runs").filter($"phase" === "finish").count()

  /** A person's name spellings and the one ORCID they share, if any;
    * no spelling names two people.
    */
  private val people = Seq(
    (Seq("José Pérez", "J. Pérez"), Some("0000-0001-0000-0001")),
    (Seq("Ana Ruiz", "A. Ruiz"), Some("0000-0002-0000-0002")),
    (Seq("Eva Mora", "E. Mora", "Eva M. Mora"), Some("0000-0003-0000-0003")),
    (Seq("Pablo Vega"), Some("0000-0004-0000-0004")),
    (Seq("Luis Torres"), None),
    (Seq("María González", "M. González"), None),
    (Seq("Raúl Cano"), None))
  private val affiliations = Seq(
    "Universidad Politécnica Salesiana, Cuenca, Ecuador",
    "Universidad Politécnica Salesiana sede Quito",
    "Universidad Politecnica Salesiana, Guayaquil",
    "Universidad de Cuenca, Ecuador",
    "University of California, U.S.A.",
    "Escuela Politécnica Nacional, Quito")

  /** One CrossRef page envelope of 2 to 4 works drawn from shared
    * pools: DOIs recur across pages and batches (each delivery with
    * its own authors and subjects), and an author occurrence may omit
    * its person's ORCID.
    */
  private def randomPage(rnd: Random): String = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val works = Seq.fill(2 + rnd.nextInt(3)) {
      val w = rnd.nextInt(24)
      val authors = Seq.fill(1 + rnd.nextInt(3)) {
        val (names, orcid) = pick(people)
        val Array(given, family) = pick(names).split(" (?=[^ ]+$)")
        val o = orcid.filter(_ => rnd.nextDouble() < 0.6)
          .map(x => s""", "ORCID": "https://orcid.org/$x"""").getOrElse("")
        val affs = Seq.fill(rnd.nextInt(3))(pick(affiliations)).distinct
          .map(a => s"""{"name": "$a"}""").mkString(", ")
        s"""{"given": "$given", "family": "$family"$o, """ +
          s""""sequence": "${pick(Seq("first", "additional"))}", """ +
          s""""affiliation": [$affs]}"""
      }
      val subjects = Seq.fill(rnd.nextInt(3))(pick(Seq("Engineering",
        "Education", "Computer Science", "Biology"))).distinct
        .map(t => s""""$t"""").mkString(", ")
      s"""{"DOI": "10.9/W$w", "title": ["Work $w"], """ +
        s""""publisher": "P${w % 3}", """ +
        s""""type": "journal-article", "is-referenced-by-count": $w, """ +
        s""""issued": {"date-parts": [[${2019 + w % 5}]]}, """ +
        s""""subject": [$subjects], "author": [${authors.mkString(", ")}]}"""
    }
    s"""{"message": {"items": [${works.mkString(", ")}]}}"""
  }

  /** A batch directory of two page files of one or two pages each. */
  private def randomBatch(rnd: Random, root: Path): String = {
    val b = Files.createTempDirectory(root, "batch")
    Seq("p1.jsonl", "p2.jsonl").foreach(f => Files.write(b.resolve(f),
      Seq.fill(1 + rnd.nextInt(2))(randomPage(rnd)).asJava))
    b.toString
  }

  test("e2e: ingest + catalog + flat view golden") {
    val dir = freshDir()
    val vista = Pipeline.runAll(spark, pages, csv, dir).cache()

    // 4 UPS-gated works (non-UPS and empty-DOI items dropped; in-batch
    // duplicate DOI collapsed).
    assert(vista.count() == 4)
    assert(vista.select("doi").as[String].collect().sorted.toSeq ==
      Seq("10.1/aaa", "10.2/bbb", "10.5/eee", "10.6/fff"))

    // Dimensions cover ALL scanned works (incl. the rejected non-UPS one);
    // the two ORCID-unified Pérez spellings are one entity; the
    // zero-affiliation author is absent.
    val autores = Warehouse.read(spark, dir, "autores")
    assert(autores.count() == 5)
    assert(autores.filter($"orcid" === "0000-0001-0000-0001").count() == 1)
    assert(autores.filter($"nombreBusqueda" === "zero aff").count() == 0)
    val afil = Warehouse.read(spark, dir, "afiliaciones")
    assert(afil.count() == 7)
    // non-UPS affiliation from the rejected work is present, got
    // country EC and the keyword relabel to sede 1 ("cuenca").
    val udc = afil.filter($"afiliacionBusqueda" === "universidad de cuenca, ecuador")
      .select("esUps", "countryCode", "sedeId").head()
    assert(udc.getBoolean(0) == false)
    assert(udc.getString(1) == "EC")
    assert(udc.getInt(2) == 1)

    // per-work rollups
    val row1 = vista.filter($"doi" === "10.1/aaa").head()
    def s(n: String) = row1.getAs[String](n)
    assert(s("titulo") == "Análisis & Diseño de Sistemas")
    assert(row1.getAs[Int]("anio") == 2023)
    assert(s("editorial") == "Editorial \"Andina\"")
    assert(s("autores") == "Anna Müller; J. Pérez")
    assert(s("paisesCodigo") == "EC; US")
    assert(s("paises") == "Ecuador; United States")
    assert(s("sedes") == "Otra; Sede Cuenca")
    assert(s("areas") == "Ciencias de la Vida; No definida")
    assert(s("temas") == "Computer Science; Engineering")
    assert(row1.getAs[Boolean]("upsFlag"))

    val row6 = vista.filter($"doi" === "10.6/fff").head()
    assert(row6.getAs[String]("paisesCodigo") == "DE; EC")
    assert(row6.getAs[String]("sedes") == "Otra")
    assert(row6.getAs[java.sql.Date]("fechaPublicacion").toString ==
      "2025-01-03")

    // dashboard aggregations (A9-A11)
    val byYear = Dashboard.worksPerYear(vista)
      .as[(Int, Long)].collect().toSeq
    assert(byYear == Seq((2022, 1L), (2023, 1L), (2024, 1L), (2025, 1L)))
    val byCountry = Dashboard.worksPerCountry(vista)
      .as[(String, Long)].collect().toSeq
    assert(byCountry == Seq(("DE", 1L), ("EC", 4L), ("US", 1L)))
    val byArea = Dashboard.worksPerArea(vista)
      .as[(String, Long)].collect().toSeq
    assert(byArea == Seq(("Ciencias Sociales y Humanas", 1L),
      ("Ciencias de la Vida", 1L), ("Ingenierías y Arquitectura", 1L),
      ("No definida", 2L)))

    // K3 csv export + K4 run log
    val csvOut = spark.read.option("header", "true")
      .csv(s"$dir/export/sedes_areas_csv")
    assert(csvOut.count() == 4)
    val runs = Warehouse.read(spark, dir, "runs")
    assert(runs.filter($"phase" === "finish").count() == 1)
    assert(runs.select("query").as[String].head().startsWith("{"))

    // dashboard filter pushdown surface
    assert(Dashboard.worksPerYear(vista,
      Dashboard.Filters(anioFrom = Some(2024))).count() == 2)
    assert(Dashboard.worksPerCountry(vista,
      Dashboard.Filters(sede = Some("Sede Quito")))
      .as[(String, Long)].collect().toSeq == Seq(("EC", 1L)))
  }

  test("schema evolution: narrow v1 batches merge under a widened schema") {
    val dir = freshDir()
    // v1 writer: the obras table before `citas`/`referencias` existed
    val v1 = Seq(("10.1/a", "Work A", 2020), ("10.2/b", "Work B", 2021))
      .toDF("doi", "titulo", "anio")
    Warehouse.overwrite(v1, dir, "obras")
    // v2 writer appends with two extra columns (the reference would
    // ALTER TABLE via _ensure_column; Parquet just writes the new footer)
    val v2 = Seq(("10.3/c", "Work C", 2022, 5, 40))
      .toDF("doi", "titulo", "anio", "citas", "referencias")
    Warehouse.idempotentAppend(spark, v2, dir, "obras", Seq("doi"))
    // merged read: union schema, nulls where v1 had no column
    val merged = Warehouse.readMerged(spark, dir, "obras").cache()
    assert(merged.columns.toSet ==
      Set("doi", "titulo", "anio", "citas", "referencias"))
    assert(merged.count() == 3)
    assert(merged.filter($"doi" === "10.1/a").select("citas")
      .as[Option[Int]].head().isEmpty)
    assert(merged.filter($"doi" === "10.3/c").select("citas")
      .as[Option[Int]].head().contains(5))
    // a LATE narrow writer aligns to the widened schema via ensureColumns
    val v1Late = Seq(("10.4/d", "Work D", 2023)).toDF("doi", "titulo", "anio")
    Warehouse.idempotentAppend(spark,
      Warehouse.ensureColumns(v1Late, merged.schema), dir, "obras",
      Seq("doi"))
    val again = Warehouse.readMerged(spark, dir, "obras")
    assert(again.count() == 4)
    assert(again.filter($"doi" === "10.4/d").select("referencias")
      .as[Option[Int]].head().isEmpty)
  }

  test("mergeByKey: update+insert in one pass, untouched partitions kept") {
    val dir = freshDir()
    val base = Seq(
      ("10.1/a", "Work A", 2020, 1),
      ("10.2/b", "Work B", 2020, 2),
      ("10.3/c", "Work C", 2021, 3),
      ("10.4/d", "Work D", 2022, 4))
      .toDF("doi", "titulo", "anio", "citas")
    Warehouse.mergeByKey(spark, base, dir, "obras", Seq("doi"), Seq("anio"))

    def files(part: String) = {
      val d = new java.io.File(s"$dir/obras/$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSeq.sorted
    }
    val untouched2021 = files("anio=2021")
    val untouched2022 = files("anio=2022")

    // one pass: update 10.1/a (2020), insert 10.5/e into existing 2020,
    // insert 10.6/f into brand-new partition 2023
    val batch = Seq(
      ("10.1/a", "Work A v2", 2020, 99),
      ("10.5/e", "Work E", 2020, 5),
      ("10.6/f", "Work F", 2023, 6))
      .toDF("doi", "titulo", "anio", "citas")
    Warehouse.mergeByKey(spark, batch, dir, "obras", Seq("doi"), Seq("anio"))

    val got = Warehouse.read(spark, dir, "obras")
      .select("doi", "titulo", "anio", "citas")
      .as[(String, String, Int, Int)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("10.1/a", "Work A v2", 2020, 99), // updated in place
      ("10.2/b", "Work B", 2020, 2),     // same partition, untouched key
      ("10.3/c", "Work C", 2021, 3),     // untouched partition
      ("10.4/d", "Work D", 2022, 4),     // untouched partition
      ("10.5/e", "Work E", 2020, 5),     // insert, existing partition
      ("10.6/f", "Work F", 2023, 6)))    // insert, new partition
    // copy-on-write: untouched partition directories byte-identical
    // (same files, same mtimes) — they were never read or rewritten
    assert(files("anio=2021") == untouched2021)
    assert(files("anio=2022") == untouched2022)
    // staging/aside dirs cleaned up
    assert(!new java.io.File(s"$dir/obras__delta").exists())
    assert(!new java.io.File(s"$dir/obras__mergeold").exists())

    // re-running the same merge is idempotent on content
    Warehouse.mergeByKey(spark, batch, dir, "obras", Seq("doi"), Seq("anio"))
    assert(Warehouse.read(spark, dir, "obras").count() == 6)

    // un-partitioned degrade: full-rewrite merge keeps MERGE semantics
    val dir2 = freshDir()
    Warehouse.mergeByKey(spark, base, dir2, "obras", Seq("doi"))
    Warehouse.mergeByKey(spark, batch, dir2, "obras", Seq("doi"))
    val flat = Warehouse.read(spark, dir2, "obras")
      .select("doi", "titulo").as[(String, String)].collect().toMap
    assert(flat.size == 6 && flat("10.1/a") == "Work A v2")
  }

  test("flat view from the committed clean tables equals the lineage-built view") {
    val dir = freshDir()
    val vista = Pipeline.runAll(spark, pages, csv, dir)
    // the view as built before it read obras_clean/oaa_clean: every
    // input re-planned from the base tables
    def rd(t: String) = Warehouse.read(spark, dir, t)
    val obras = FlatView.cleanObras(rd("obras"))
    val autores = rd("autores").dropDuplicates("autorId")
    val afiliaciones = rd("afiliaciones").dropDuplicates("afiliacionId")
    val oaa = FlatView.enforceRi(rd("obra_autor_afiliacion"), obras,
      autores, afiliaciones)
    val temas = rd("obra_tema").join(obras.select("doi"), Seq("doi"),
      "left_semi").dropDuplicates("doi", "tema")
    val lineage = FlatView.vistaAnalisis(obras, autores, afiliaciones, oaa,
      temas, rd("sedes_areas"))
    assert(vista.columns.toSeq == lineage.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doi").collect().toSeq
    val got = rows(vista)
    assert(got.size == 4)
    assert(got == rows(lineage))
  }

  test("K1 idempotence: re-running ingest is a no-op") {
    val dir = freshDir()
    val n = Pipeline.ingest(spark, pages, dir)
    val before = ingestSnapshot(dir)
    var again = 0L
    val jobs = jobsDuring { again = Pipeline.ingest(spark, pages, dir) }
    assert(again == n)
    val after = ingestSnapshot(dir)
    Pipeline.IngestTables.foreach(t => assert(after(t) == before(t), t))
    assert(before("obra_tema").size == 5)
    assert(finishRows(dir) == 2)
    // every page is committed, so the re-run is the skip: its run-log
    // rows, the recovery probes and the obras count
    assert(jobs.size <= 6, s"the re-run ran ${jobs.size} jobs")
  }

  test("skipped re-runs of seeded random batch sequences equal the " +
      "full re-run: every ingest table as it was") {
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new Random(seed)
      val root = Files.createTempDirectory("graft_batches")
      val dir = freshDir()
      // three batches over shared DOI and author pools, with a catalog
      // relabel between the first and the second
      val batches = Seq.fill(3)(randomBatch(rnd, root))
      batches.zipWithIndex.foreach { case (b, i) =>
        Pipeline.ingest(spark, b, dir)
        if (i == 0) Pipeline.integrateCatalog(spark, csv, dir)
      }
      val state = ingestSnapshot(dir)
      val committed = pageMarkers(dir)
      assert(state("obra_autor_afiliacion").nonEmpty, s"seed $seed")
      rnd.shuffle(batches).foreach { b =>
        val jobs = jobsDuring(Pipeline.ingest(spark, b, dir))
        assert(jobs.size <= 6, s"seed $seed: a skip ran ${jobs.size} jobs")
        val got = ingestSnapshot(dir)
        Pipeline.IngestTables.foreach(t => assert(got(t) == state(t),
          s"seed $seed: a skipped re-run changed $t"))
      }
      assert(pageMarkers(dir) == committed)
      // without the markers the same re-run takes the full path, which
      // changes nothing either, and commits its pages again
      rmTree(Paths.get(dir, "_pages"))
      val b = batches(rnd.nextInt(batches.size))
      Pipeline.ingest(spark, b, dir)
      val got = ingestSnapshot(dir)
      Pipeline.IngestTables.foreach(t => assert(got(t) == state(t),
        s"seed $seed: the full re-run changed $t"))
      assert(pageMarkers(dir).nonEmpty && pageMarkers(dir).subsetOf(committed))
      assert(finishRows(dir) == 7)
    }
  }

  test("a batch that mixes a committed page and a new page runs in full") {
    val root = Files.createTempDirectory("graft_mixed")
    val mixed = Files.createDirectory(root.resolve("mixed"))
    Seq("page1.jsonl", "page2.jsonl").foreach(f =>
      Files.copy(Paths.get(pages, f), mixed.resolve(f)))
    val dir = freshDir()
    val expected = freshDir()
    Seq(dir, expected).foreach(
      Pipeline.ingest(spark, pages + "/page1.jsonl", _))
    val page1 = pageMarkers(dir)
    assert(page1.size == 1)
    val before = ingestSnapshot(dir)
    Pipeline.ingest(spark, mixed.toString, dir)
    // the same batch with no page committed runs in full for sure
    rmTree(Paths.get(expected, "_pages"))
    Pipeline.ingest(spark, mixed.toString, expected)
    assert(ingestSnapshot(dir) == ingestSnapshot(expected))
    // and the new page's rows are in: a skip adds none
    assert(ingestSnapshot(dir) != before)
    val committed = pageMarkers(dir)
    assert(committed == pageMarkers(expected) && committed.size == 2 &&
      page1.subsetOf(committed))
  }

  test("pages re-delivered gzipped are the committed pages") {
    // a page is a line of the decompressed file, as Spark reads it
    val gz = Files.createTempDirectory("graft_gz")
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(gz.resolve("page1.jsonl.gz")))
    try Files.copy(Paths.get(pages, "page1.jsonl"), out) finally out.close()
    val dir = freshDir()
    Pipeline.ingest(spark, pages + "/page1.jsonl", dir)
    val before = ingestSnapshot(dir)
    val jobs = jobsDuring(Pipeline.ingest(spark, gz.toString, dir))
    assert(jobs.size <= 6, s"not a skip: ${jobs.size} jobs")
    assert(ingestSnapshot(dir) == before && pageMarkers(dir).size == 1)
  }

  test("a run the maxWorks cap binds on commits no page") {
    val dir = freshDir()
    Pipeline.ingest(spark, pages, dir, maxWorks = 2)
    assert(Warehouse.read(spark, dir, "obras").count() == 2)
    assert(pageMarkers(dir).isEmpty)
    // so the uncapped re-run runs in full and ingests the rest
    Pipeline.ingest(spark, pages, dir)
    assert(Warehouse.read(spark, dir, "obras").count() == 4)
    assert(pageMarkers(dir).size == 3)
  }

  test("expiring a year of obras drops the page markers, so the " +
      "re-delivered batch brings the expired works back") {
    val dir = freshDir()
    Pipeline.ingest(spark, pages, dir)
    val before = ingestSnapshot(dir)
    assert(pageMarkers(dir).size == 3)
    assert(Warehouse.expirePartitions(spark, dir, "obras", "anio", "2024") ==
      Seq("2022", "2023"))
    assert(pageMarkers(dir).isEmpty)
    assert(Warehouse.read(spark, dir, "obras").count() == 2)
    Pipeline.ingest(spark, pages, dir)
    assert(ingestSnapshot(dir) == before)
    assert(pageMarkers(dir).size == 3)
  }

  test("every job of an incremental ingest, the catalog and the flat " +
      "view runs under a SQL execution") {
    // a bare parquet read's schema inference was the one job without
    // an execution id; this keeps such jobs from coming back
    val dir = freshDir()
    Pipeline.ingest(spark, pages + "/page1.jsonl", dir)
    val all = jobsDuring {
      Pipeline.ingest(spark, pages + "/page2.jsonl", dir)
      Pipeline.integrateCatalog(spark, csv, dir)
      Pipeline.buildFlatView(spark, dir)
    }
    assert(all.nonEmpty)
    val bare = all.filter(js => Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isEmpty)
    assert(bare.isEmpty, s"${bare.size} of ${all.size} jobs outside a SQL " +
      "execution: " + bare.map(_.stageInfos.map(_.name).mkString(","))
        .mkString("; "))
  }

  test("incremental ingest preserves dimension ids") {
    val dir = freshDir()
    Pipeline.ingest(spark, pages + "/page1.jsonl", dir)
    val idsBefore = Warehouse.read(spark, dir, "autores")
      .select("nombreBusqueda", "autorId").as[(String, Long)].collect().toMap
    Pipeline.ingest(spark, pages + "/page2.jsonl", dir)
    val after = Warehouse.read(spark, dir, "autores")
    val idsAfter = after
      .select("nombreBusqueda", "autorId").as[(String, Long)].collect().toMap
    // every pre-existing entity kept its id
    idsBefore.foreach { case (k, id) => assert(idsAfter(k) == id) }
    // the page2 "J. Pérez" occurrence resolved to the existing ORCID
    // entity (no new author row for it)
    assert(after.filter($"nombreBusqueda" === "j. perez").count() == 0)
    // full pipeline over the incremental warehouse matches the one-shot run
    Pipeline.integrateCatalog(spark, csv, dir)
    val vista = Pipeline.buildFlatView(spark, dir)
    assert(vista.count() == 4)
    assert(vista.filter($"doi" === "10.5/eee").head()
      .getAs[String]("autores") == "José Pérez")
  }
}
