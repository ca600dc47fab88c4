package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import graft.etl.{ParquetRead, Swap}
import graft.functions.DigestFunctions.fastMd5

/** At-rest inverted index: the text-retrieval twin of
  * `Similarity.writeBucketed`/`lshTopKAtRest` (vectors) and
  * `Dedup.writeLshIndex` (fuzzy dedup). Build cost is one pass over the
  * corpus, paid once; term lookups then touch only the directories whose
  * bucket matches a probe term's hash — at 100 TB the difference between
  * reading `|probe buckets|/nBuckets` of the index and scanning all of
  * it. The bucket hash is the same portable md5 family the rest of the
  * engine grades through, and is computable driver-side (probe bucket
  * literals come from plain Scala, not a data pass).
  */
object Index {
  /** Driver-side replica of the write-side bucket column: first 8 md5
    * hex digits of the term as an unsigned int, mod nBuckets. MUST stay
    * in lockstep with `writePostings`' `conv(substring(md5(term),1,8),
    * 16, 10) % nBuckets` — asserted by IndexSpec.
    */
  def termBucket(term: String, nBuckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % nBuckets
  }

  /** The (term, doc_id, tf, bucket) posting rows for a document batch. */
  private def postingsOf(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(TextStats.tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        pmod(conv(substring(fastMd5(col("term")), 1, 8), 16, 10).cast("long"),
          lit(nBuckets.toLong)))

  /** EXACT-PHRASE search — the positional twin of the tf postings and
    * the primitive behind exact-sequence contamination checks (does
    * this benchmark sentence appear verbatim in the corpus?). Token
    * positions are materialized ONLY for the phrase's terms (the
    * posexplode is filtered before its shuffle, same discipline as
    * BM25's postings filter — the shuffle carries |phrase terms|/vocab
    * of the corpus), grouped per doc, and a phrase match at anchor
    * position p requires position p+i in term i's list for every i —
    * one `filter`/`array_contains` expression over bounded per-doc
    * lists, no position self-joins. Repeated words in the phrase are
    * handled (lists are per DISTINCT term). Returns (id, n_matches)
    * for matching docs. The same (term, doc_id, positions) rows slot
    * into `writePostings`' bucket layout for an at-rest variant.
    */
  def phraseMatches(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "phraseMatches: need at least 2 words")
    val terms = phrase.distinct
    val pos = df.select(col(idCol),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("p", "term")))
      .filter(col("term").isin(terms: _*))
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      collect_list(when(col("term") === t, col("p"))).as(s"__p$i") }
    val byDoc = pos.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    def listOf(w: String) = col(s"__p${terms.indexOf(w)}")
    val matchesAt = phrase.zipWithIndex.tail
      .foldLeft(listOf(phrase.head)) { case (acc, (w, i)) =>
        filter(acc, p => array_contains(listOf(w), p + i))
      }
    byDoc.select(col(idCol), size(matchesAt).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Positional postings layout: (term, doc_id, positions[]) rows,
    * directory-partitioned by the term-hash bucket — `writePostings`
    * extended with the in-doc position list, so exact-phrase probes
    * work at rest. Same bucket hash, same small-files discipline.
    */
  def writePositionalPostings(df: DataFrame, idCol: String,
      textCol: String, path: String, nBuckets: Int = 16): Unit =
    df.select(col(idCol).as("doc_id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("p", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("p"))).as("positions"))
      .withColumn("bucket",
        pmod(conv(substring(fastMd5(col("term")), 1, 8), 16, 10).cast("long"),
          lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Exact-phrase probe against the positional layout, reading ONLY the
    * phrase terms' bucket directories (PartitionFilters IN-list + term
    * PushedFilters — at 100 TB a contamination probe reads
    * |phrase-term buckets|/nBuckets of the index, never the corpus).
    * Matching logic is identical to `phraseMatches`; position lists
    * arrive pre-aggregated from the layout. Only docs containing every
    * distinct phrase term survive to the per-position check.
    */
  def phraseAtRest(spark: SparkSession, path: String,
      phrase: Seq[String], nBuckets: Int = 16): DataFrame = {
    require(phrase.size >= 2, "phraseAtRest: need at least 2 words")
    val terms = phrase.distinct
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val all = ParquetRead(spark, path)
    val bucketLits = AtRest.partitionLits("phraseAtRest", "bucket",
      all.schema("bucket").dataType, buckets.map(_.toLong))
    val pos = all.filter(col("bucket").isin(bucketLits: _*) &&
      col("term").isin(terms: _*))
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      first(when(col("term") === t, col("positions")), ignoreNulls = true)
        .as(s"__p$i") }
    val byDoc = pos.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .filter(terms.indices.map(i => col(s"__p$i").isNotNull)
        .reduce(_ && _))
    def listOf(w: String) = col(s"__p${terms.indexOf(w)}")
    val matchesAt = phrase.zipWithIndex.tail
      .foldLeft(listOf(phrase.head)) { case (acc, (w, i)) =>
        filter(acc, p => array_contains(listOf(w), p + i))
      }
    byDoc.select(col("doc_id"),
      size(matchesAt).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Build the index: (term, doc_id, tf) rows, directory-partitioned by
    * the term-hash bucket. The groupBy's partial aggregation collapses
    * within-doc repeats map-side; the repartition keeps the write to one
    * file per directory per task wave (same small-files discipline as
    * the other at-rest layouts).
    */
  def writePostings(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 16): Unit =
    postingsOf(df, idCol, textCol, nBuckets)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Top-k postings (by tf, doc_id tiebreak) + document frequency for
    * each probe term, reading ONLY the probed bucket directories: the
    * bucket IN-list lands in the scan's `PartitionFilters` (asserted in
    * PLANS.md), the term IN-list in `PushedFilters`. Like
    * `lshTopKAtRest`, the literal type must match the partition column's
    * read-back type or pruning silently degrades to a full scan — so a
    * surprising type fails loudly instead.
    */
  def termLookupAtRest(spark: SparkSession, path: String,
      terms: Seq[String], k: Int, nBuckets: Int = 16): DataFrame = {
    require(terms.nonEmpty, "termLookupAtRest: terms must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val all = ParquetRead(spark, path)
    val bucketLits = AtRest.partitionLits("termLookupAtRest", "bucket",
      all.schema("bucket").dataType, buckets.map(_.toLong))
    val byTerm = Window.partitionBy("term")
    val ranked = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("doc_id").asc)
    all.filter(col("bucket").isin(bucketLits: _*))
      .filter(col("term").isin(terms: _*))
      .withColumn("df", count(lit(1)).over(byTerm))
      .withColumn("rank", row_number().over(ranked).cast("long"))
      .filter(col("rank") <= k)
      .select("term", "df", "doc_id", "tf", "rank")
  }

  // ------------------------------------------------------------------
  // Segmented (LSM-style) incremental maintenance
  // ------------------------------------------------------------------
  //
  // A new document batch must NOT rewrite the corpus index: its vocabulary
  // usually spans most term buckets, so bucket-level copy-on-write
  // (mergeByKey's unit) degrades to a near-full rewrite. The standard
  // answer is the log-structured one: each batch lands as a NEW SEGMENT
  // (same bucket directories, one level deeper), reads merge segments at
  // query time, and a periodic compaction folds them flat. Re-ingesting a
  // changed document cannot tombstone its stale terms from inside a
  // term-pruned read (the new version may not contain the probed term at
  // all) — so liveness lives in a separate doc→segment MANIFEST, the
  // per-doc sidecar every LSM index keeps; a posting row is live iff its
  // segment is its document's latest.

  /** Append one batch as the new segment `seg`: bucket-partitioned
    * postings under `postings/seg=N/bucket=B`, plus the batch's doc
    * manifest under `docs/seg=N`, published as one [[Swap.append]] —
    * a manifest seg without its postings would make the lookup drop
    * those docs' older postings as stale. One pass over the batch; the
    * corpus is not touched.
    */
  def writeSegment(df: DataFrame, idCol: String, textCol: String,
      path: String, seg: Int, nBuckets: Int = 16): Unit = {
    recoverSegments(df.sparkSession, path)
    // postings and manifest are independent writes to distinct dirs,
    // both pure functions of the batch — overlapped (guide §2.6, the
    // writeIndexAs pattern) into the one staging
    Swap.append(df.sparkSession, path)(stage => ParJobs(
      () => postingsOf(df, idCol, textCol, nBuckets)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$stage/postings/seg=$seg"),
      () => df.select(col(idCol).as("doc_id")).distinct()
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/docs/seg=$seg")))
  }

  /** Term lookup over a segmented index: bucket pruning applies inside
    * EVERY segment (`seg`/`bucket` are both partition directories, the
    * bucket IN-list prunes across segments), stale rows from re-ingested
    * docs are dropped by the manifest join (live iff row.seg ==
    * doc's max seg), then the same df/top-k ranking as
    * `termLookupAtRest`. The manifest is doc-count-sized — orders of
    * magnitude under the postings — and joins on doc_id AFTER the
    * pruned, term-filtered read, so the join's left side is only the
    * probe result.
    */
  def termLookupSegments(spark: SparkSession, path: String,
      terms: Seq[String], k: Int, nBuckets: Int = 16): DataFrame = {
    require(terms.nonEmpty, "termLookupSegments: terms must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    // through Swap.resolve: a crash inside compactSegments' swap leaves
    // the pair spread over live, staged and stashed paths
    val ms = segmentMoves(path)
    val Seq(postPath, docsPath) = Swap.resolve(segmentFs(spark, path),
      ms.head.stash, ms).map(_.toString)
    val post = ParquetRead(spark, postPath)
    val bucketLits = AtRest.partitionLits("termLookupSegments", "bucket",
      post.schema("bucket").dataType, buckets.map(_.toLong))
    val latest = ParquetRead(spark, docsPath)
      .groupBy("doc_id")
      .agg(max(col("seg").cast("long")).as("__live_seg"))
    val probed = post
      .filter(col("bucket").isin(bucketLits: _*))
      .filter(col("term").isin(terms: _*))
    val live = probed
      .join(latest, "doc_id")
      .filter(col("seg").cast("long") === col("__live_seg"))
    val byTerm = Window.partitionBy("term")
    val ranked = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("doc_id").asc)
    live
      .withColumn("df", count(lit(1)).over(byTerm))
      .withColumn("rank", row_number().over(ranked).cast("long"))
      .filter(col("rank") <= k)
      .select("term", "df", "doc_id", "tf", "rank")
  }

  /** [[compactSegments]]' group: postings and docs staged under
    * `__compact` replace the live pair, stashed at `__old_postings`
    * (the group's aside) and `__old_docs`. The pair moves as one: a
    * compacted postings dir beside the OLD manifest (or vice versa)
    * makes every lookup silently return zero rows, because the
    * liveness filter expects seg numbers the other half does not have.
    */
  private def segmentMoves(path: String): Seq[Swap.Move] =
    Seq("postings", "docs").map(n => Swap.Move(
      Some(new Path(s"$path/__compact/$n")), new Path(s"$path/$n"),
      new Path(s"$path/__old_$n")))

  private def segmentFs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Finish a compaction or a segment append a dead writer left
    * committed.
    */
  private def recoverSegments(spark: SparkSession, path: String): Unit = {
    val ms = segmentMoves(path)
    Swap.recover(segmentFs(spark, path), ms.head.stash,
      Some(new Path(s"$path/__compact")))(ms)
    Swap.recoverAppend(spark, path)
  }

  /** Fold all segments into a fresh seg=0 (live rows only) and drop the
    * rest — the LSM compaction, staged and then promoted as one
    * [[Swap]] group.
    */
  def compactSegments(spark: SparkSession, path: String,
      nBuckets: Int = 16): Unit = {
    recoverSegments(spark, path)
    val post = ParquetRead(spark, s"$path/postings")
    val latest = ParquetRead(spark, s"$path/docs")
      .groupBy("doc_id")
      .agg(max(col("seg").cast("long")).as("__live_seg"))
    val live = post.join(latest, "doc_id")
      .filter(col("seg").cast("long") === col("__live_seg"))
      .select("term", "doc_id", "tf", "bucket")
    val docs = latest.select("doc_id")
    val fs = segmentFs(spark, path)
    // stage the compacted layout next to the live one
    val stage = new Path(s"$path/__compact")
    if (fs.exists(stage)) fs.delete(stage, true)
    Swap.stage(spark, fs, stage) {
      live.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/__compact/postings/seg=0")
      docs.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/__compact/docs/seg=0")
    }
    val ms = segmentMoves(path)
    Swap.swap(fs, ms.head.stash, ms, Some(stage))
  }
}
