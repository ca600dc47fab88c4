package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.etl.Entities

/** Entity-resolution determinism properties (SURVEY §5.3): identical input
  * multisets produce identical id assignments regardless of row order or
  * partitioning; ORCID propagation and unification behave like the
  * reference's probe chain.
  */
class EntitiesSpec extends SparkSpec {
  import spark.implicits._

  private val baseOcc = Seq(
    // (doi, nombreLimpio, nombreBusqueda, orcid, autorSecuencia)
    ("10.1/a", "José Pérez", "jose perez", "0001", "first"),
    ("10.2/b", "J. Pérez", "j. perez", "0001", "first"), // same ORCID
    ("10.3/c", "Anna Müller", "anna muller", null, "additional"),
    ("10.3/c", "Anna Müller", "anna muller", "0002", "first"), // backfill
    ("10.4/d", "Solo Name", "solo name", null, "first"),
  )

  private def toDf(rows: Seq[(String, String, String, String, String)]) =
    rows.toDF("doi", "nombreLimpio", "nombreBusqueda", "orcid",
      "autorSecuencia")

  /** `Entities.mergeAuthors` equals the three-way-join reference on
    * (`existing`, `batch`), row for row; returns the merge.
    */
  private def mergeLikeReference(existing: DataFrame,
      batch: DataFrame): DataFrame = {
    def rows(df: DataFrame) =
      df.select("autorId", "nombreLimpio", "nombreBusqueda", "orcid")
        .collect().map(_.toString).sorted.toSeq
    val merged = Entities.mergeAuthors(existing, batch)
    assert(rows(merged) == rows(
      MergeAuthorsReference.mergeAuthors(existing, batch)),
      "the merge differs from the three-way-join reference")
    merged
  }

  test("ER stability: shuffled input ⇒ identical entities and ids") {
    val expected = Entities.resolveAuthors(toDf(baseOcc))
      .select("autorId", "nombreBusqueda", "orcid")
      .collect().map(_.toSeq).toSet
    val rnd = new Random(7)
    (1 to 5).foreach { i =>
      val shuffled = rnd.shuffle(baseOcc)
      val got = Entities.resolveAuthors(
        toDf(shuffled).repartition(1 + i % 4))
        .select("autorId", "nombreBusqueda", "orcid")
        .collect().map(_.toSeq).toSet
      assert(got == expected, s"divergence on shuffle $i")
    }
  }

  test("ORCID unification and backfill") {
    val autores = Entities.resolveAuthors(toDf(baseOcc)).cache()
    // two Pérez spellings unified under the shared ORCID
    assert(autores.count() == 3)
    // Anna's null-orcid occurrence got the propagated ORCID
    assert(autores.filter($"nombreBusqueda" === "anna muller")
      .select("orcid").as[String].head() == "0002")
    // mapping probes ORCID first: the j. perez occurrence maps to the
    // unified entity
    val mapped = Entities.mapOccurrencesToAuthors(toDf(baseOcc), autores)
    assert(mapped.filter($"doi" === "10.2/b").select("autorId")
      .as[Long].head() ==
      autores.filter($"orcid" === "0001").select("autorId").as[Long].head())
  }

  test("merge: key name-matching an ORCID-claimed entity is not novel") {
    // existing entity claimed by the batch TWICE: one batch key via
    // ORCID, a different batch key via name. Neither may re-enter as
    // novel — the name-matched key minting a fresh autorId would create
    // a duplicate id for the same nombreBusqueda (ADVICE r01).
    val existing = Seq((7L, "José Pérez", "jose perez", "0001"))
      .toDF("autorId", "nombreLimpio", "nombreBusqueda", "orcid")
    val batch = Seq(
      ("0001", "J. Pérez", "j. perez", "0001"),       // ORCID match
      ("jose perez", "José Pérez", "jose perez", null) // name match
    ).toDF("entityKey", "nombreLimpio", "nombreBusqueda", "orcid")
    val merged = mergeLikeReference(existing, batch).cache()
    assert(merged.count() == 1)
    assert(merged.select("autorId", "nombreBusqueda")
      .as[(Long, String)].head() == ((7L, "jose perez")))
    // per-name uniqueness invariant
    assert(merged.groupBy("nombreBusqueda").count()
      .filter($"count" > 1).count() == 0)
  }

  test("merge: name probe never backfills an ORCID already claimed") {
    // e1 owns ORCID O; e2 shares the batch row's NAME but has no ORCID.
    // The reference's probe chain resolves the row via ORCID (e1) and
    // never touches e2 — so e2 must NOT receive O via the name probe
    // (two entities sharing one ORCID would break unification).
    val existing = Seq(
      (1L, "José Pérez", "jose perez", "O"),
      (2L, "J. Pérez", "j. perez", null)
    ).toDF("autorId", "nombreLimpio", "nombreBusqueda", "orcid")
    val batch = Seq(("O", "J. Pérez", "j. perez", "O"))
      .toDF("entityKey", "nombreLimpio", "nombreBusqueda", "orcid")
    val merged = mergeLikeReference(existing, batch).cache()
    assert(merged.count() == 2)
    assert(merged.filter($"autorId" === 2L).select("orcid")
      .as[Option[String]].head().isEmpty)
    // a genuinely unclaimed ORCID still backfills through the name probe
    val batch2 = Seq(("P", "J. Pérez", "j. perez", "P"))
      .toDF("entityKey", "nombreLimpio", "nombreBusqueda", "orcid")
    val merged2 = mergeLikeReference(existing, batch2)
    assert(merged2.filter($"autorId" === 2L).select("orcid")
      .as[Option[String]].head().contains("P"))
  }

  test("merge against an empty dimension starts ids at 1 (no NPE)") {
    val noAuthors = Seq.empty[(Long, String, String, String)]
      .toDF("autorId", "nombreLimpio", "nombreBusqueda", "orcid")
    val batch = Seq(("solo name", "Solo Name", "solo name", null))
      .toDF("entityKey", "nombreLimpio", "nombreBusqueda", "orcid")
    val merged = mergeLikeReference(noAuthors, batch)
    assert(merged.select("autorId").as[Long].collect().toSeq == Seq(1L))

    val noAffs = Seq.empty[(Long, String, String, Int, String, String, Boolean)]
      .toDF("afiliacionId", "cadenaLiteral", "afiliacionBusqueda",
        "sedeId", "countryCode", "countryName", "esUps")
    val affBatch = Seq((null.asInstanceOf[Long], "UPS, Cuenca",
      "ups, cuenca", 1, "EC", "Ecuador", true))
      .toDF("afiliacionId", "cadenaLiteral", "afiliacionBusqueda",
        "sedeId", "countryCode", "countryName", "esUps")
      .drop("afiliacionId")
    val mergedAff = Entities.mergeAffiliations(noAffs, affBatch)
    assert(mergedAff.select("afiliacionId").as[Long].collect().toSeq ==
      Seq(1L))
  }

  test("merge equals the three-way-join reference on random batches") {
    // occurrences over a small name and ORCID pool, so names collide,
    // ORCIDs unify several spellings, and a later batch both re-meets
    // and extends the dimension; resolveAuthors yields the batch shape
    // the merge assumes (entityKey, name and ORCID each unique)
    val rnd = new Random(20261018)
    def occurrences(n: Int) = toDf(Seq.fill(n) {
      val name = s"author ${rnd.nextInt(40)}"
      val orcid = if (rnd.nextInt(3) == 0) null
        else "%04d".format(rnd.nextInt(25))
      ("10.9/x", name.capitalize, name, orcid, "first")
    })
    (1 to 4).foreach { trial =>
      var existing = Entities.resolveAuthors(occurrences(30))
        .drop("entityKey")
      (1 to 2).foreach { step =>
        val batch = Entities.resolveAuthors(occurrences(25))
        val merged = mergeLikeReference(existing, batch)
        assert(merged.select("autorId").distinct().count() ==
          merged.count(), s"trial $trial step $step: duplicate autorId")
        existing = merged.localCheckpoint()
      }
    }
  }

  test("distributed surrogate ids equal the window formulation") {
    val df = (1 to 500).map(i => (s"key_${"%03d".format(i)}", i))
      .toDF("k", "payload")
    val viaWindow = Entities.surrogateIds(df, "k", "id")
      .select("k", "id").as[(String, Long)].collect().toMap
    val viaZip = Entities.surrogateIdsDistributed(
      df.repartition(8), "k", "id")
      .select("k", "id").as[(String, Long)].collect().toMap
    assert(viaZip == viaWindow)
  }
}
