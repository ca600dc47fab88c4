package graft.ingest

import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.norm.Normalize

/** CrossRef work-JSON ingestion (reference PIPE:563-733 re-expressed as a
  * schema-on-read file scan; see SURVEY.md S1).
  *
  * The reference walks the REST cursor imperatively; the engine ingests the
  * same payloads as JSONL page files (one `message` envelope per line) with
  * an explicit StructType — absent fields become nulls, matching the
  * reference's defensive `.get(..., default)` reads (PIPE:127-691). At
  * cluster scale this scan becomes a DataSource V2 with one InputPartition
  * per cursor shard; the downstream plan is identical.
  */
object Crossref {

  private val dateParts = StructType(Seq(
    StructField("date-parts", ArrayType(ArrayType(IntegerType)))))

  val workSchema: StructType = StructType(Seq(
    StructField("DOI", StringType),
    StructField("title", ArrayType(StringType)),
    StructField("container-title", ArrayType(StringType)),
    StructField("publisher", StringType),
    StructField("type", StringType),
    StructField("is-referenced-by-count", IntegerType),
    StructField("reference-count", IntegerType),
    StructField("subject", ArrayType(StringType)),
    StructField("published-online", dateParts),
    StructField("published-print", dateParts),
    StructField("issued", dateParts),
    StructField("created", dateParts),
    StructField("author", ArrayType(StructType(Seq(
      StructField("given", StringType),
      StructField("family", StringType),
      StructField("name", StringType),
      StructField("ORCID", StringType),
      StructField("sequence", StringType),
      StructField("affiliation", ArrayType(StructType(Seq(
        StructField("name", StringType)))))))))))

  val envelopeSchema: StructType = StructType(Seq(
    StructField("message", StructType(Seq(
      StructField("next-cursor", StringType),
      StructField("items", ArrayType(workSchema)))))))

  /** Read JSONL page files → one row per work item (E0: page un-nest). */
  def readPages(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(envelopeSchema).json(path)
      .select(explode(col("message.items")).as("item"))

  /** The MD5 (hex) of each distinct page `readPages` read into `items`:
    * of each non-blank line of its input files, split as the JSON
    * reader above splits them (one envelope per line) and read through
    * the file's compression codec, if any. Read in this process through
    * the Hadoop file system: no Spark job.
    */
  def pageDigests(items: DataFrame): Seq[String] = {
    val conf = items.sparkSession.sparkContext.hadoopConfiguration
    val codecs = new CompressionCodecFactory(conf)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val line = new Text
    items.inputFiles.toSeq.flatMap { f =>
      val p = new Path(new java.net.URI(f))
      Using.resource(p.getFileSystem(conf).open(p)) { raw =>
        Using.resource(new LineReader(Option(codecs.getCodec(p))
          .fold[java.io.InputStream](raw)(_.createInputStream(raw)), conf)) {
          lines =>
            Iterator.continually(lines.readLine(line)).takeWhile(_ > 0)
              .filter(_ => line.toString.trim.nonEmpty)
              .map { _ =>
                md5.update(line.getBytes, 0, line.getLength)
                md5.digest().map("%02x".format(_)).mkString
              }
              .toList
        }
      }
    }.distinct
  }

  /** Work-grain projection F1/C3-C5/C11 + in-batch DOI dedup F2/F3.
    * Keeps the raw `author`/`subject` arrays for the downstream explodes.
    */
  def works(items: DataFrame): DataFrame = {
    val it = col("item")
    items.select(
      Normalize.standardizeDoi(it.getField("DOI")).as("doi"),
      Normalize.normNfc(concat_ws("; ", it.getField("title"))).as("titulo"),
      Normalize.extractYearAny(it).as("anio"),
      Normalize.normNfc(concat_ws("; ", it.getField("container-title")))
        .as("revista"),
      Normalize.normNfc(it.getField("publisher")).as("editorial"),
      it.getField("type").as("tipo"),
      it.getField("is-referenced-by-count").as("citas"),
      it.getField("reference-count").as("referencias"),
      Normalize.extractDateAny(it).as("fechaPublicacion"),
      it.getField("author").as("author"),
      it.getField("subject").as("subject"))
      .filter(length(col("doi")) > 0)
      // DETERMINISTIC in-batch DOI dedup: dropDuplicates keeps an
      // arbitrary partition-order winner, so a DOI whose metadata
      // changed between cursor pages would flip titulo/anio between
      // runs. The winner here is the lexicographic-min row — identical
      // when the duplicates are identical (the normal crawl case), and
      // stable under re-partitioning otherwise (same tiebreak
      // convention as the documented entity-merge divergence; the
      // reference keeps arrival order, which no longer exists once the
      // pages are a distributed dataset).
      .groupBy(col("doi"))
      .agg(min(struct(col("titulo"), col("anio"), col("revista"),
        col("editorial"), col("tipo"), col("citas"), col("referencias"),
        col("fechaPublicacion"), col("author"), col("subject")))
        .as("__w"))
      .select(col("doi"), col("__w.*"))
  }

  /** E1+E2 — (work, author, affiliation) grain. Authors with an empty
    * resolved name are dropped (F2, PIPE:613); authors with zero
    * affiliations are dropped from this grain (inner explode, PIPE:653)
    * but still participate in the UPS gate via `authorOccurrences`.
    */
  def authorAffiliations(works: DataFrame): DataFrame =
    authorOccurrences(works)
      .select(col("doi"), col("nombreLimpio"), col("nombreBusqueda"),
        col("orcid"), col("autorSecuencia"),
        explode(col("affiliation")).as("aff"))
      .select(col("doi"), col("nombreLimpio"), col("nombreBusqueda"),
        col("orcid"), col("autorSecuencia"),
        Normalize.normNfc(col("aff.name")).as("cadenaLiteral"),
        Normalize.normKey(col("aff.name")).as("afiliacionBusqueda"))
      .filter(length(col("afiliacionBusqueda")) > 0)

  /** E1 — (work, author) grain with normalized names (C2/C6/C12). */
  def authorOccurrences(works: DataFrame): DataFrame =
    works
      .select(col("doi"), explode(col("author")).as("au"))
      .select(col("doi"),
        Normalize.authorFullName(col("au.given"), col("au.family"),
          col("au.name")).as("nombreLimpio"),
        Normalize.orcidBare(col("au.ORCID")).as("orcid"),
        col("au.sequence").as("autorSecuencia"),
        col("au.affiliation").as("affiliation"))
      .withColumn("nombreBusqueda", Normalize.normKey(col("nombreLimpio")))
      .filter(length(col("nombreBusqueda")) > 0)

  /** F5 — the work-level UPS gate: a work passes iff ANY author has ANY
    * UPS-matching affiliation (PIPE:662-663). Computed set-at-a-time:
    * affiliation-grain predicate → max per work → semi-join.
    */
  def upsGate(works: DataFrame): DataFrame = {
    val flags = authorAffiliations(works)
      .select(col("doi"),
        Normalize.isUps(col("afiliacionBusqueda")).as("esUps"))
      .groupBy("doi")
      .agg(max(col("esUps")).as("workHasUps"))
      .filter(col("workHasUps"))
    works.join(flags.select("doi"), Seq("doi"), "left_semi")
  }

  /** E3 — (doi, tema) pairs, normalized, deduped (PIPE:686-696). */
  def obraTema(works: DataFrame): DataFrame =
    works.select(col("doi"), explode(col("subject")).as("temaRaw"))
      .select(col("doi"), Normalize.normNfc(col("temaRaw")).as("tema"))
      .filter(length(col("tema")) > 0)
      .distinct()
}
