package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.ParquetRead
import graft.Tables._
import graft.ext.{Bloom, Clustering, Dedup, Similarity, Sketches, Skew, TextStats}
import graft.streaming.EventsOps
import graft.queries.ExtHarness._
import graft.queries.ExtOracleShared._

/** exact/minhash/simhash/embedding/media dedup, clustering, survivorship, fingerprinting — one domain slice of the graded
  * extension-query registry. Pure registry split (r13 verdict item 7):
  * entries are verbatim from the pre-split ExtQueries.scala; shared
  * plumbing lives in [[ExtHarness]] (streaming replay, temp dirs) and
  * [[ExtOracleShared]] (portable oracle SQL fragments). Composed back
  * into the driver contract by [[ExtQueries]].
  */
private[queries] object ExtDedupQueries {
  val defs: Map[String, Q] = Map(
    // Exact dedup: one shuffle on the content digest.
    "q21_dedup_exact" -> ((s, d) => {
      Dedup.exactGroups(documents(s, d), "doc_id", "text")
        .orderBy("content_hash")
    }),

    // Order-sensitive polynomial fingerprint.
    "q25_fingerprint" -> ((s, d) => {
      documents(s, d).select(
        col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Portable MinHash signature (K=4, 3-word shingles, md5 family),
    // computed explode-side with partial-aggregated min (codegen'd).
    "q26_minhash_sig" -> ((s, d) => {
      Dedup.minhashSignatures(documents(s, d), "doc_id", "text",
        n = 3, k = 4)
        .orderBy("doc_id")
    }),

    // LSH banding on the portable signature: 2 bands × 2 rows.
    // Candidates = docs agreeing on a full band slice (cross-band
    // collisions included — the bucket key is the slice VALUES, no band
    // index, matching the oracle's band-less join). Single-pass bucket
    // shape: one signature aggregation, one shuffle, local pair
    // emission — not a self-join that would compute signatures twice.
    "q27_minhash_bands" -> ((s, d) => {
      Dedup.minhashSignatures(documents(s, d), "doc_id", "text",
        n = 3, k = 4)
        .select(col("doc_id"), explode(array(
          struct(col("mh0").as("k1"), col("mh1").as("k2")),
          struct(col("mh2").as("k1"), col("mh3").as("k2")))).as("b"))
        .groupBy("b.k1", "b.k2").agg(collect_list(col("doc_id")).as("ids"))
        .select(explode(Dedup.bucketPairs(col("ids"),
          org.apache.spark.sql.types.LongType)).as("p"))
        .select(col("p.id_a"), col("p.id_b")).distinct()
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup: k-means clusters (q81's), then cosine-prune inside each
    // cluster — pairwise work bounded by cluster size, never O(n²).
    // Output = the drop table (who is a dup of whom).
    "q82_semantic_dedup" -> ((s, d) =>
      Clustering.semanticDedup(embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, tau = 0.3)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),

    // EXACT Jaccard join (τ = 1/2) over 3-gram shingle sets via PPJoin
    // prefix filtering — guaranteed recall where minhash/simhash are
    // probabilistic. The prefix filter is semantically invisible, so
    // the oracle is the naive quadratic join.
    "q83_setsim_join" -> ((s, d) =>
      Dedup.setSimJoin(documents(s, d), "doc_id", "text",
        n = 3, tauNum = 1, tauDen = 2)),

    // Embedding-cosine near-dup pairs with the sign-RP bucket prefilter
    // (nBits=8): the pair join is equi-keyed on the bucket, never a
    // single-key all-pairs cross — the shape that survives 100 TB.
    // Identical vectors always share a bucket, so exact duplicates are
    // never lost; the graded semantics are "same-bucket pairs above the
    // threshold" and the oracle replays the bucket.
    "q35_embedding_neardup" -> ((s, d) => {
      Dedup.embeddingNearDups(embeddings(s, d), "vec_id", "embedding",
        threshold = 0.35, nBits = 8)
        .select(col("id_a"), col("id_b"),
          Similarity.trunc(col("cosine"), 6).as("cos6"))
        .orderBy("id_a", "id_b")
    }),

    // End-to-end fuzzy dedup — the flagship LLM-pipeline operator:
    // shingle → minhash → LSH band join → Jaccard verify, graded with
    // the portable md5 family + literal band keys so DuckDB replays the
    // ENTIRE pipeline (banding included).
    "q36_minhash_neardup" -> ((s, d) => {
      Dedup.minhashNearDups(documents(s, d), "doc_id", "text",
        n = 3, k = 8, bands = 4, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dups, portable md5 bit family: the 2-of-5 block join
    // is lossless for hamming<=3 (ExtSpec asserts pair-set equality with
    // brute force), so the DuckDB oracle replays the semantics as a
    // brute-force per-bit-majority + hamming filter.
    "q37_simhash" -> ((s, d) => {
      Dedup.simhashNearDups(documents(s, d), "doc_id", "text",
        maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // SimHash, scale-shaped: identical-signature groups (the quadratic
    // mass of q37's pair output, measured at 10x in BUILD_NOTES round
    // 7, collapsed to one row per doc) ...
    "q187_simhash_groups" -> ((s, d) =>
      Dedup.simhashGroups(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // ... plus near-dup edges between DISTINCT signatures only — the
    // linear-size decomposition of q37 (groups + edges expand back to
    // the exact q37 pair set; DedupScaleSpec asserts it).
    "q188_simhash_group_edges" -> ((s, d) =>
      Dedup.simhashGroupEdges(documents(s, d), "doc_id", "text",
        maxHamming = 3)
        .orderBy("rep_a", "rep_b")),

    // Multimodal plumbing: synthetic media table → mapPartitions decode
    // (filter-bank kernel) → per-item frame/byte accounting. The metadata
    // rules are pure functions of the documents table, so the oracle can
    // replay them without the binary column.
    "q38_media_features" -> ((s, d) => {
      val media = graft.ext.Multimodal.syntheticMedia(s, documents(s, d))
      graft.ext.Multimodal.extractFeatures(media)
        .groupBy(col("mediaId").as("media_id"), col("kind"))
        .agg(count(lit(1)).as("n_frames"), min("byteLen").as("byte_len"))
        .orderBy("media_id")
    }),

    // Pairs -> dedup groups: connected components over the verified
    // near-dup pair graph (min-label propagation; "keep one per
    // cluster" = id == cluster). Oracle replays the fixpoint as a
    // recursive transitive closure.
    "q49_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashNearDups(documents(s, d), "doc_id", "text",
        n = 3, k = 8, bands = 4, threshold = 0.5)
      Dedup.dedupClusters(pairs.select("id_a", "id_b"))
        .orderBy("id")
    }),

    // q49's clusters through the DISTRIBUTED min-label loop
    // (localEdgeThreshold = 0): q49's pair graph is small enough for the
    // driver-side union-find, so this is the query that grades the loop
    // large graphs take. Same fixpoint, so it shares q49's recursive
    // oracle.
    "q54_dedup_clusters_star" -> ((s, d) => {
      val pairs = Dedup.minhashNearDups(documents(s, d), "doc_id", "text",
        n = 3, k = 8, bands = 4, threshold = 0.5)
      Dedup.dedupClusters(pairs.select("id_a", "id_b"),
        localEdgeThreshold = 0)
        .orderBy("id")
    }),

    // Fuzzy-dedup REMOVAL, end to end: minhash near-dup pairs →
    // dedupClusters → keep the canonical (min-id) member per
    // cluster, every unclustered doc passes through. The composition a
    // corpus curator actually runs; the delete set is tiny so the final
    // anti-join broadcasts — the corpus is never shuffled.
    "q71_fuzzy_curation" -> ((s, d) => {
      val docs = documents(s, d)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, k = 8, bands = 4, threshold = 0.5)
      Dedup.keepCanonical(docs, "doc_id", pairs.select("id_a", "id_b"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Incremental fuzzy dedup: near-dups of a new batch (docs 0-49)
    // against an at-rest corpus LSH index (docs 50+), graded end-to-end
    // — index build (one corpus pass, paid once) + broadcast band probe
    // (no corpus shuffle) + Jaccard verify against stored shingles. The
    // daily-ingest shape: at 100 TB, re-running minhashNearDups over
    // corpus+batch would reshingle the whole corpus to dedup 0.1% new
    // data.
    "q69_incremental_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      // per-invocation unique dir (q167 pattern, see q53)
      val path = tempDir("graft_q69_") + "/idx"
      Dedup.writeLshIndex(docs.filter(col("doc_id") >= 50), "doc_id",
        "text", n = 3, k = 8, bands = 4, path = path)
      Dedup.incrementalNearDups(s, path, docs.filter(col("doc_id") < 50),
        "doc_id", "text", n = 3, k = 8, bands = 4, threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),

    // Benchmark-contamination check — the standard decontamination op:
    // which training documents contain any 13-gram from the eval set
    // (here: docs 0-19 as the stand-in benchmark)? The benchmark
    // shingle set is small by construction → broadcast to the training
    // scan; at 100 TB this is a map-side probe, no shuffle of the
    // corpus.
    "q63_contamination" -> ((s, d) => {
      val docs = documents(s, d)
      val benchGrams = docs.filter(col("doc_id") < 20)
        .select(explode(array_distinct(
          Dedup.shingles(col("text"), 13))).as("s"))
        .distinct()
      docs.filter(col("doc_id") >= 20)
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(col("text"), 13))).as("s"))
        .join(broadcast(benchGrams), "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_contaminated_grams"))
        .orderBy("doc_id")
    }),

    // Frame-level multimodal near-dup: videos sharing ANY near-dup
    // sampled frame (not just frame 0) — the frame explode rides the
    // same single-pass bucketed pair search, then rolls up to media
    // pairs. Frame ids pack as mediaId*100+frame (frames < 100 by the
    // sampler's cap of 16).
    "q62_frame_neardup" -> ((s, d) => {
      val media = graft.ext.Multimodal.syntheticMedia(s, documents(s, d))
      val feats = graft.ext.Multimodal.extractFeatures(media)
        .filter(col("kind") === "video")
        .select((col("mediaId") * 100 + col("frameIdx")).as("fid"),
          col("feature"))
      Dedup.embeddingNearDups(feats, "fid", "feature",
        threshold = 0.98, nBits = 8)
        .select((col("id_a") / 100).cast("long").as("media_a"),
          (col("id_b") / 100).cast("long").as("media_b"), col("cosine"))
        .filter(col("media_a") =!= col("media_b"))
        .groupBy("media_a", "media_b")
        .agg(count(lit(1)).as("n_frame_pairs"),
          graft.ext.Similarity.trunc(max(col("cosine")), 6).as("max_cos6"))
        .orderBy("media_a", "media_b")
    }),

    // Multimodal near-dup composition with the real filter-bank decode
    // and the bucketed pair join — fully oracle-checked: DuckDB replays
    // feature extraction (integer byte correlations from the hex of the
    // content), sign-RP bucketing and the cosine verify.
    "q39_media_neardup" -> ((s, d) => {
      graft.ext.Multimodal.nearDupMedia(
        graft.ext.Multimodal.syntheticMedia(s, documents(s, d)),
        threshold = 0.9, nBits = 8)
        .select(col("id_a"), col("id_b"),
          Similarity.trunc(col("cosine"), 6).as("cos6"))
        .orderBy("id_a", "id_b")
    }),

    // Media dedup in its AT-SCALE shape: one (media_id, group_rep) row
    // per item via bucket-representative assignment — q39's pair set
    // is genuinely ~n² in this corpus (198M pairs at 30×, r11
    // adjudication), so the pair query stays the small-corpus variant
    // and THIS row is the 100× plan: linear output, one cosine per
    // item, single pass over the decode.
    "q221_media_dedup_groups" -> ((s, d) =>
      graft.ext.Multimodal.dedupGroupsMedia(
        graft.ext.Multimodal.syntheticMedia(s, documents(s, d)),
        threshold = 0.9, nBits = 8)
        .withColumnRenamed("id", "media_id")
        .orderBy("media_id")),

    // Frame-grain video dedup in its at-scale shape (q62's analog):
    // every sampled frame gets its bucket-representative group, then a
    // per-video rollup (min frame-group owner) — linear in frames where
    // q62's pair rollup is quadratic in near-dup density.
    "q222_frame_dedup_groups" -> ((s, d) => {
      val media = graft.ext.Multimodal.syntheticMedia(s, documents(s, d))
      val feats = graft.ext.Multimodal.extractFeatures(media)
        .filter(col("kind") === "video")
        .select((col("mediaId") * 100 + col("frameIdx")).as("fid"),
          col("feature"))
      // the decode upstream is the expensive half here, and the group
      // operator scans its input twice — materialize the projected
      // features ONCE (write + read-back: no pinned executor memory,
      // swept with the temp root) and feed the reuse overload
      // (r13 verdict item 5; Round14Spec pins single evaluation)
      val featPath = tempDir("graft_q222_") + "/feats"
      graft.ext.Dedup.dedupGroupFeatures(feats, "fid", "feature",
        nBits = 8).write.parquet(featPath)
      graft.ext.Dedup.embeddingDedupGroupsOf(ParquetRead(s, featPath),
        threshold = 0.98, nBits = 8)
        .groupBy((col("id") / 100).cast("long").as("media_id"))
        .agg(min((col("group_rep") / 100).cast("long")).as("media_rep"),
          count(lit(1)).as("n_frames"))
        .orderBy("media_id")
    }),

    // Embedding dedup in its at-scale shape (q35's analog) on the real
    // embeddings table.
    "q223_embedding_dedup_groups" -> ((s, d) =>
      graft.ext.Dedup.embeddingDedupGroups(embeddings(s, d), "vec_id",
        "embedding", threshold = 0.35, nBits = 8)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),

    // Exact duplicated-window detection (substring-grain dedup): share
    // of each document's 8-token windows that also occur in another
    // document. Linear explode → (doc,window) count → window-partition
    // doc frequency → per-doc rollup; no self-join, nothing cached.
    "q91_dup_windows" -> ((s, d) =>
      Dedup.dupWindowStats(documents(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // Exact edit-distance self-join (fuzzy key matching): every customer
    // name pair within Levenshtein distance 1, via pigeonhole segment
    // blocking — no cross join; the oracle brute-forces the quadratic
    // form, proving zero false negatives at sf scale.
    "q106_editdist_join" -> ((s, d) =>
      Dedup.editDistanceJoin(
        customer(s, d).select(col("c_custkey").as("id"),
          col("c_name").as("s")),
        "id", "s", d = 1)
        .orderBy("id_a", "id_b")),

    // Substring-level dedup (Lee et al. ACL'22, position-gram variant):
    // per doc, maximal spans of text whose every 40-char window also
    // appears in another document — boilerplate whole-doc dedup misses.
    "q108_dup_spans" -> ((s, d) =>
      Dedup.dupSpans(documents(s, d), "doc_id", "text", g = 40)
        .orderBy("doc_id")),

    // Winnowing (MOSS) fingerprint selection: per doc, the number of
    // full windows, distinct fingerprint hashes, and selections —
    // density lands at the paper's ~2/(w+1) of the window count.
    "q193_winnowing" -> ((s, d) => {
      val per = Dedup
        .winnowFingerprints(documents(s, d), "doc_id", "text",
          g = 20, w = 8)
        .groupBy("doc_id")
        .agg(countDistinct(col("fp")).as("n_fp"),
          count(lit(1)).as("n_sel"))
      documents(s, d).select(col("doc_id"),
          greatest(length(col("text")) - lit(26), lit(0))
            .cast("long").as("n_windows"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"))
        .orderBy("doc_id")
    }),

    // MOSS match ranking over the winnowed index: doc pairs sharing
    // >= 2 distinct fingerprints — the shuffle carries ~2/(w+1) of
    // the gram volume, never the corpus.
    "q194_winnow_matches" -> ((s, d) =>
      Dedup.winnowMatches(documents(s, d), "doc_id", "text",
        g = 20, w = 8, minShared = 2L)
        .orderBy("id_a", "id_b")),

    // Sorted-neighborhood blocking (third blocking family next to LSH
    // and pigeonhole): (lang, n_chars) sort, w=5 neighborhood, exact
    // token-set Jaccard >= 1/2 verify via the hash-set intersect
    // kernel. Candidates are exactly (w-1)·n — linear by construction.
    "q151_sorted_neighborhood" -> ((s, d) => {
      Dedup.sortedNeighborhood(documents(s, d), "doc_id", "text",
        blockCol = "lang", orderCol = "n_chars", w = 5,
        tauNum = 1, tauDen = 2)
        .orderBy("a_id", "b_id")
    }),

    // Survivorship merge: bag-of-words cluster key (md5 of the sorted
    // distinct token set), then per-cluster golden record — min id,
    // member count, mode lang/source, max n_chars.
    "q154_survivorship" -> ((s, d) => {
      val key = graft.functions.DigestFunctions.fastMd5(
        array_join(array_sort(
          array_distinct(TextStats.tokens(col("text")))), " "))
      Dedup.survivorship(documents(s, d), "doc_id", key,
        modeCols = Seq("lang", "source"), maxCols = Seq("n_chars"))
        .orderBy("canonical_id")
    }),

    // Fellegi-Sunter probabilistic record linkage over the part
    // catalog: sorted-neighborhood candidates (block p_brand, order
    // p_retailprice, w=5 — linear by construction), integer milli-bit
    // agreement weights per field, three-way link decision.
    "q157_linkage" -> ((s, d) => {
      import graft.ext.Linkage.FieldWeight
      val p = part(s, d).withColumn("p_name_first",
        substring_index(col("p_name"), " ", 1))
      graft.ext.Linkage.fellegiSunter(p, "p_partkey",
        blockCol = "p_brand", orderCol = "p_retailprice", w = 5,
        fields = Seq(FieldWeight("p_type", 4500L, -800L),
          FieldWeight("p_size", 3200L, -600L),
          FieldWeight("p_name_first", 2600L, -1500L)),
        upperMb = 6000L, lowerMb = -2000L)
        .orderBy("a_id", "b_id")
    }),

    // Containment near-dups (asymmetric overlap — quote/subset
    // detection): same portable band join as q36, exact
    // |A∩B|/min(|A|,|B|) >= 2/3 verify in pure integers.
    "q159_containment" -> ((s, d) => {
      Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        n = 3, k = 8, bands = 4, tauNum = 2, tauDen = 3)
        .orderBy("id_a", "id_b")
    }),

    // Embedding-space benchmark decontamination: for every train
    // vector the best benchmark match with cosine >= 0.25, via the
    // 4-bit sign-RP bucket prefilter — the paraphrase-robust companion
    // to q63's 13-gram scan. Bucket-equi join between the sets, exact
    // fold-cosine verify, deterministic per-train argmax.
    "q166_semantic_contamination" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.contaminationFlags(
        emb.filter(col("vec_id") >= 100L),
        emb.filter(col("vec_id") < 100L),
        "vec_id", "embedding", threshold = 0.25, nBits = 4)
        .orderBy("train_id")
    }),

    // At-rest LSH index APPEND: write the >=100 corpus, append the
    // 50..99 batch without touching existing files, probe the <50
    // batch — must equal probing a full rebuild over >=50 (q69's
    // graded scenario, q69's oracle).
    "q183_index_append" -> ((s, d) => {
      val docs = documents(s, d)
      // Per-invocation unique dir (q167 pattern): fresh dir per run, so
      // there is no stale state to delete and no write/append race
      // between concurrent bench + verify invocations.
      val path = tempDir("graft_q183_") + "/idx"
      Dedup.writeLshIndex(docs.filter(col("doc_id") >= 100), "doc_id",
        "text", n = 3, k = 8, bands = 4, path = path)
      Dedup.appendLshIndex(
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
        "doc_id", "text", n = 3, k = 8, bands = 4,
        path = path)
      Dedup.incrementalNearDups(s, path, docs.filter(col("doc_id") < 50),
        "doc_id", "text", n = 3, k = 8, bands = 4, threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),

    // LSH-banding recall audit: brute Jaccard ground truth on the
    // doc_id<300 sample vs the banding's candidates — the dedup-side
    // twin of q182's ANN recall, one summary row.
    "q185_lsh_recall" -> ((s, d) =>
      Dedup.lshRecallAudit(documents(s, d), "doc_id", "text",
        maxId = 300L, n = 3, k = 8, bands = 4, threshold = 0.5)
        .orderBy("n_true")),

    // Content-defined chunking dedup: md5-window boundaries (~64-char
    // mean chunks), cross-doc chunk identity — the shift-robust
    // storage dedup stat per document.
    "q116_cdc_chunks" -> ((s, d) =>
      Dedup.cdcDupStats(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),
  )

  val oracles: Map[String, String] = Map(
    "q21_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "q25_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(cast(0 AS bigint),
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      w -> cast(ascii(w) * 31 + length(w) AS bigint))),
        |    (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q26_minhash_sig" -> {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> " +
          s"${Dedup.portableSliceSql("s", i)})) AS mh$i").mkString(",\n  ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (SELECT doc_id, ($shinglesSql) AS shingles FROM t)
         |SELECT doc_id,
         |  $mh
         |FROM sh ORDER BY doc_id""".stripMargin
    },

    "q27_minhash_bands" -> {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> " +
          s"${Dedup.portableSliceSql("s", i)})) AS mh$i").mkString(",\n  ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (SELECT doc_id, ($shinglesSql) AS shingles FROM t),
         |sig AS (SELECT doc_id,
         |  $mh
         |  FROM sh),
         |banded AS (
         |  SELECT doc_id, mh0 AS k1, mh1 AS k2 FROM sig
         |  UNION ALL
         |  SELECT doc_id, mh2 AS k1, mh3 AS k2 FROM sig)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.k1 = b.k1 AND a.k2 = b.k2
         |WHERE a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Brute-force quadratic replay: DuckDB cross-joins and verifies the
    // full pair space, so any blocking false negative would show as a
    // missing row.
    "q106_editdist_join" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  cast(levenshtein(a.s, b.s) AS int) AS dist
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // Position grams by md5 digest, >=2-distinct-doc keys, and the same
    // lag-window interval merge (gap <= g joins spans).
    "q108_dup_spans" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |g AS (SELECT doc_id, unnest(generate_series(0, n - 40)) AS p, text
        |  FROM d WHERE n >= 40),
        |g2 AS (SELECT doc_id, p, md5(substr(text, p + 1, 40)) AS k FROM g),
        |dup AS (SELECT k FROM g2 GROUP BY k
        |  HAVING count(DISTINCT doc_id) >= 2),
        |pos AS (SELECT doc_id, p FROM g2 JOIN dup USING (k)),
        |m AS (SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL
        |      OR p - lag(p) OVER w > 40 THEN 1 ELSE 0 END AS flag
        |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |gg AS (SELECT doc_id, p,
        |    sum(flag) OVER (PARTITION BY doc_id ORDER BY p) AS gid
        |  FROM m),
        |spans AS (SELECT doc_id, gid, min(p) AS s, max(p) + 40 AS e
        |  FROM gg GROUP BY doc_id, gid),
        |per AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS dup_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, cast(coalesce(n_spans, 0) AS bigint) AS n_spans,
        |  cast(coalesce(dup_chars, 0) AS bigint) AS dup_chars
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Winnowing replay: same gram pass as q108's, then the
    // rightmost-min selection in two steps (window min, then a
    // join-back picking the max position attaining it — SQL's way of
    // expressing the struct-min) — identical selections to
    // Dedup.winnowFingerprints' min(struct(hash, −pos)).
    "q193_winnowing" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |gr AS (SELECT doc_id, unnest(generate_series(0, n - 20)) AS p,
        |    text, n
        |  FROM d WHERE n >= 27),
        |g2 AS (SELECT doc_id, p, n - 20 AS maxp,
        |  md5(substr(text, p + 1, 20)) AS k FROM gr),
        |wm AS (SELECT * FROM (
        |  SELECT doc_id, p, maxp, min(k) OVER win AS wmin
        |  FROM g2 WINDOW win AS (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING))
        |  WHERE p <= maxp - 7),
        |sel AS (SELECT w.doc_id, w.wmin AS fp, max(g2.p) AS fp_pos
        |  FROM wm w JOIN g2 ON g2.doc_id = w.doc_id
        |    AND g2.p BETWEEN w.p AND w.p + 7 AND g2.k = w.wmin
        |  GROUP BY w.doc_id, w.p, w.wmin),
        |fps AS (SELECT DISTINCT doc_id, fp, fp_pos FROM sel),
        |per AS (SELECT doc_id, count(DISTINCT fp) AS n_fp,
        |    count(*) AS n_sel
        |  FROM fps GROUP BY doc_id)
        |SELECT d.doc_id,
        |  cast(CASE WHEN n >= 27 THEN n - 26 ELSE 0 END AS bigint)
        |    AS n_windows,
        |  cast(coalesce(n_fp, 0) AS bigint) AS n_fp,
        |  cast(coalesce(n_sel, 0) AS bigint) AS n_sel
        |FROM d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Match ranking replay: distinct (doc, fp) selections self-joined
    // on the fingerprint hash. fp_pos is irrelevant to matching, so
    // the two-step rightmost pick is unnecessary here — distinct
    // window minima ARE the fingerprint hash set.
    "q194_winnow_matches" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |gr AS (SELECT doc_id, unnest(generate_series(0, n - 20)) AS p,
        |    text, n
        |  FROM d WHERE n >= 27),
        |g2 AS (SELECT doc_id, p, n - 20 AS maxp,
        |  md5(substr(text, p + 1, 20)) AS k FROM gr),
        |wm AS (SELECT * FROM (
        |  SELECT doc_id, p, maxp, min(k) OVER win AS wmin
        |  FROM g2 WINDOW win AS (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING))
        |  WHERE p <= maxp - 7),
        |fp AS (SELECT DISTINCT doc_id, wmin AS fp FROM wm)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  cast(count(*) AS bigint) AS shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Window self-join replay of the w=5 neighborhood: rank within
    // (lang, n_chars-order), pair ranks differing by <= 4, exact
    // token-set Jaccard >= 1/2 via list_intersect sizes.
    "q151_sorted_neighborhood" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(string_split_regex(trim(text), '\s+')) AS ts
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, ts,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rn
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    cast(len(list_intersect(a.ts, b.ts)) AS bigint) AS inter,
        |    cast(len(a.ts) + len(b.ts)
        |      - len(list_intersect(a.ts, b.ts)) AS bigint) AS uni
        |  FROM r a JOIN r b
        |    ON a.lang = b.lang AND b.rn BETWEEN a.rn + 1 AND a.rn + 4)
        |SELECT a_id, b_id, inter, uni FROM p
        |WHERE inter * 2 >= uni * 1
        |ORDER BY a_id, b_id""".stripMargin,

    // Golden-record replay: same bag-of-words key, modes via count-desc
    // value-asc row_number, max/min/count straight off the group.
    "q154_survivorship" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    md5(list_aggregate(
        |      list_sort(list_distinct(string_split_regex(trim(text), '\s+'))),
        |      'string_agg', ' ')) AS ck
        |  FROM documents),
        |b AS (
        |  SELECT ck, min(doc_id) AS canonical_id,
        |    cast(count(*) AS bigint) AS n_members,
        |    max(n_chars) AS max_n_chars
        |  FROM t GROUP BY ck),
        |lm AS (
        |  SELECT ck, lang AS mode_lang FROM (
        |    SELECT ck, lang, row_number() OVER (PARTITION BY ck
        |      ORDER BY count(*) DESC, lang ASC) AS rk
        |    FROM t GROUP BY ck, lang) WHERE rk = 1),
        |sm AS (
        |  SELECT ck, source AS mode_source FROM (
        |    SELECT ck, source, row_number() OVER (PARTITION BY ck
        |      ORDER BY count(*) DESC, source ASC) AS rk
        |    FROM t GROUP BY ck, source) WHERE rk = 1)
        |SELECT canonical_id, n_members, max_n_chars, mode_lang, mode_source
        |FROM b JOIN lm USING (ck) JOIN sm USING (ck)
        |ORDER BY canonical_id""".stripMargin,

    // Same lead-window neighborhood, same integer CASE weights — the
    // whole FS pipeline replays declaratively.
    "q157_linkage" ->
      """WITH base AS (
        |  SELECT p_partkey AS id, p_brand AS blk, p_retailprice AS ord,
        |    p_type, p_size, string_split(p_name, ' ')[1] AS p_name_first
        |  FROM part),
        |nb AS (
        |  SELECT id AS a_id,
        |    lead(id, 1) OVER win AS l1, lead(id, 2) OVER win AS l2,
        |    lead(id, 3) OVER win AS l3, lead(id, 4) OVER win AS l4
        |  FROM base
        |  WINDOW win AS (PARTITION BY blk ORDER BY ord, id)),
        |pp AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, unnest([l1, l2, l3, l4]) AS b_id FROM nb)
        |  WHERE b_id IS NOT NULL),
        |s AS (
        |  SELECT pp.a_id, pp.b_id,
        |    (CASE WHEN a.p_type IS NULL OR b.p_type IS NULL THEN 0
        |          WHEN a.p_type = b.p_type THEN 4500 ELSE -800 END)
        |    + (CASE WHEN a.p_size IS NULL OR b.p_size IS NULL THEN 0
        |            WHEN a.p_size = b.p_size THEN 3200 ELSE -600 END)
        |    + (CASE WHEN a.p_name_first IS NULL
        |              OR b.p_name_first IS NULL THEN 0
        |            WHEN a.p_name_first = b.p_name_first THEN 2600
        |            ELSE -1500 END) AS weight_mb
        |  FROM pp JOIN base a ON a.id = pp.a_id
        |  JOIN base b ON b.id = pp.b_id)
        |SELECT a_id, b_id, cast(weight_mb AS bigint) AS weight_mb,
        |  CASE WHEN weight_mb >= 6000 THEN 'link'
        |       WHEN weight_mb <= -2000 THEN 'non_link'
        |       ELSE 'possible' END AS decision
        |FROM s ORDER BY a_id, b_id""".stripMargin,

    // Same band join as q36's replay; containment verify in integers
    // (all operands non-negative, so `//` = Spark's div).
    "q159_containment" ->
      s"""WITH $fuzzyBaseCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b ON a.bkey = b.bkey
         |  WHERE a.doc_id < b.doc_id),
         |sz AS (
         |  SELECT c.id_a, c.id_b,
         |    cast(len(a.s) AS bigint) AS size_a,
         |    cast(len(b.s) AS bigint) AS size_b,
         |    cast(len(list_intersect(a.s, b.s)) AS bigint) AS inter
         |  FROM cand c
         |  JOIN dsh a ON a.doc_id = c.id_a
         |  JOIN dsh b ON b.doc_id = c.id_b)
         |SELECT id_a, id_b, size_a, size_b, inter,
         |  (inter * 1000000) // least(size_a, size_b) AS cont_ppm
         |FROM sz
         |WHERE inter * 3 >= least(size_a, size_b) * 2
         |ORDER BY id_a, id_b""".stripMargin,

    // Same 4-bit integer-hyperplane buckets and fold cosine as q35's
    // family, restricted to the cross-set join; floored ppm compare,
    // per-train argmax by (cos6 desc, bench_id asc).
    "q166_semantic_contamination" -> {
      val bucket4 = (0 until 4).map(j =>
        s"(CASE WHEN (${rpDotSqlFor("embedding", j)}) > 0 " +
          s"THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH bk AS (
         |  SELECT vec_id, embedding, cast($bucket4 AS bigint) AS bucket
         |  FROM embeddings),
         |tr AS (SELECT * FROM bk WHERE vec_id >= 100),
         |be AS (SELECT * FROM bk WHERE vec_id < 100),
         |c AS (
         |  SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
         |    cast(floor((${cosineSql("t.embedding", "b.embedding")})
         |      * 1000000) AS bigint) AS cos6
         |  FROM tr t JOIN be b ON t.bucket = b.bucket),
         |f AS (SELECT * FROM c WHERE cos6 >= 250000)
         |SELECT train_id, bench_id, cos6 FROM (
         |  SELECT train_id, bench_id, cos6, row_number() OVER (
         |    PARTITION BY train_id ORDER BY cos6 DESC, bench_id) AS rn
         |  FROM f)
         |WHERE rn = 1 ORDER BY train_id""".stripMargin
    },

    // Brute truth + band-candidate intersection off the shared fuzzy
    // CTEs, integer ppm.
    "q185_lsh_recall" ->
      s"""WITH $fuzzyBaseCtes,
         |tr AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib
         |  FROM dsh a JOIN dsh b ON a.doc_id < b.doc_id
         |  WHERE a.doc_id < 300 AND b.doc_id < 300
         |    AND cast(len(list_intersect(a.s, b.s)) AS double)
         |      / cast(len(list_distinct(list_concat(a.s, b.s)))
         |          AS double) >= 0.5),
         |fd AS (
         |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM banded a JOIN banded b
         |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE a.doc_id < 300 AND b.doc_id < 300),
         |x AS (SELECT
         |  (SELECT count(*) FROM tr) AS n_true,
         |  (SELECT count(*) FROM tr JOIN fd USING (ia, ib)) AS n_found)
         |SELECT cast(n_true AS bigint) AS n_true,
         |  cast(n_found AS bigint) AS n_found,
         |  CASE WHEN n_true = 0 THEN NULL
         |    ELSE cast(n_found * 1000000 // n_true AS bigint) END
         |    AS recall_ppm
         |FROM x""".stripMargin,

    // Same md5-window boundary rule, list-built edges, digest chunks.
    "q116_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |b AS (SELECT doc_id, unnest(generate_series(8, n)) AS p, text
        |  FROM d WHERE n >= 8),
        |bf AS (SELECT doc_id, p FROM
        |  (SELECT doc_id, p,
        |     substr(md5(substr(text, p - 7, 8)), 1, 2) AS h FROM b)
        |  WHERE h <= '03'),
        |bl AS (SELECT doc_id, list_sort(list(p)) AS bs FROM bf
        |  GROUP BY doc_id),
        |e AS (SELECT d.doc_id, d.text,
        |    list_concat(list_concat([0], coalesce(bs, [])), [d.n]) AS edges
        |  FROM d LEFT JOIN bl USING (doc_id)),
        |ck AS (SELECT doc_id, unnest(generate_series(1, len(edges) - 1))
        |    AS i, edges, text FROM e),
        |ch AS (SELECT doc_id, edges[i] AS s, edges[i + 1] AS e2,
        |    md5(substr(text, edges[i] + 1, edges[i + 1] - edges[i])) AS k
        |  FROM ck WHERE edges[i + 1] > edges[i]),
        |dup AS (SELECT k FROM ch GROUP BY k
        |  HAVING count(DISTINCT doc_id) >= 2),
        |per AS (SELECT ch.doc_id, count(*) AS n_chunks,
        |    sum(CASE WHEN dup.k IS NOT NULL THEN 1 ELSE 0 END)
        |      AS dup_chunks,
        |    sum(CASE WHEN dup.k IS NOT NULL THEN e2 - s ELSE 0 END)
        |      AS dup_chars
        |  FROM ch LEFT JOIN dup ON ch.k = dup.k GROUP BY ch.doc_id)
        |SELECT d.doc_id,
        |  cast(coalesce(n_chunks, 0) AS bigint) AS n_chunks,
        |  cast(coalesce(dup_chunks, 0) AS bigint) AS dup_chunks,
        |  cast(coalesce(dup_chars, 0) AS bigint) AS dup_chars
        |FROM d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Same clusters, then the SemDeDup drop rule: a vector with any
    // lower-id cluster-mate at cosine >= 0.3 is a duplicate. The
    // cosine replay is the shared sequential-fold recipe.
    "q82_semantic_dedup" ->
      s"""WITH $kmeansCtes,
         |sp AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM ka2 a JOIN ka2 b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |pc AS (
         |  SELECT sp.ia, sp.ib,
         |    (${cosineSql("e1.embedding", "e2.embedding")}) AS cos
         |  FROM sp JOIN embeddings e1 ON sp.ia = e1.vec_id
         |          JOIN embeddings e2 ON sp.ib = e2.vec_id)
         |SELECT ib AS vec_id, min(ia) AS keep_of, count(*) AS n_dups,
         |  max(cast(floor(cos * 1000000.0) AS bigint)) AS cos6
         |FROM pc WHERE cos >= 0.3
         |GROUP BY ib ORDER BY vec_id""".stripMargin,

    // The prefix filter is recall-lossless, so the oracle is the naive
    // quadratic exact-Jaccard join over distinct 3-gram shingle sets.
    "q83_setsim_join" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (SELECT doc_id, ($shinglesSql) AS shingles FROM t),
         |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    cast(len(list_intersect(a.s, b.s)) AS bigint) AS inter,
         |    cast(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
         |      AS bigint) AS uni
         |  FROM dsh a JOIN dsh b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, inter, uni,
         |  cast(floor(cast(inter * 1000000 AS double) / uni) AS bigint)
         |    AS jac6
         |FROM pr WHERE inter * 2 >= uni * 1
         |ORDER BY id_a, id_b""".stripMargin,

    "q35_embedding_neardup" ->
      s"""WITH bk AS (
         |  SELECT vec_id, embedding, cast($bucketSql AS bigint) AS bucket
         |  FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  floor((${cosineSql("a.embedding", "b.embedding")}) * 1000000)
         |    / 1000000 AS cos6
         |FROM bk a JOIN bk b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE (${cosineSql("a.embedding", "b.embedding")}) >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    "q36_minhash_neardup" ->
      s"""WITH $fuzzyPairsCtes
         |SELECT id_a, id_b, jaccard FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,

    // Recursive-closure replay of the cluster assignment: transitive
    // reachability over the (tiny, verified) pair graph, cluster = min
    // reachable id — the declarative fixpoint the iterative Spark
    // propagation converges to.
    "q49_dedup_clusters" -> dedupClustersOracle,
    "q54_dedup_clusters_star" -> dedupClustersOracle,

    // Survivors = everything minus non-canonical cluster members, with
    // cluster assignment replayed as the recursive transitive closure
    // (same fixpoint as the q49/q54 oracles).
    "q71_fuzzy_curation" ->
      s"""WITH RECURSIVE $fuzzyPairsCtes,
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |assign AS (
         |  SELECT n.id, least(n.id, min(r.b)) AS cluster
         |  FROM nodes n JOIN reach r ON r.a = n.id GROUP BY n.id)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM assign WHERE id <> cluster)
         |ORDER BY doc_id""".stripMargin,

    // Same shingle/minhash/band replay as q36, with the candidate set
    // restricted to batch (doc_id < 50) x corpus (doc_id >= 50) — the
    // at-rest index holds exactly the corpus band rows, so the
    // incremental probe must equal this slice of the full recompute.
    "q69_incremental_dedup" -> incrementalDedupReplaySql,

    // Probing after write(>=100) + append(50..99) must be
    // indistinguishable from probing a full rebuild over >= 50 — the
    // appended index content is exactly the rebuild's (band keys and
    // shingles are per-doc functions), so the replay is q69's.
    "q183_index_append" -> incrementalDedupReplaySql,

    "q63_contamination" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct(${shinglesSqlN(13)}) AS s FROM t),
         |bench AS (
         |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 20),
         |train AS (
         |  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20)
         |SELECT doc_id, count(*) AS n_contaminated_grams
         |FROM train JOIN bench USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q62_frame_neardup" ->
      s"""WITH v AS (
         |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS nb,
         |    greatest(1, least(16, (n_chars * 100) // 1000)) AS n_frames
         |  FROM documents WHERE doc_id % 3 = 2),
         |fr AS (
         |  SELECT media_id, hx, nb, n_frames, unnest(range(n_frames)) AS f
         |  FROM v),
         |feat AS (
         |  SELECT media_id * 100 + f AS fid,
         |    (${mediaFeatureSqlFor("(f * nb) // n_frames",
              "((f+1) * nb) // n_frames - (f * nb) // n_frames")}) AS feature
         |  FROM fr),
         |bk AS (
         |  SELECT fid, feature,
         |    cast(${bucketSqlFor("feature")} AS bigint) AS bucket
         |  FROM feat),
         |p AS (
         |  SELECT a.fid // 100 AS media_a, b.fid // 100 AS media_b,
         |    (${cosineSql("a.feature", "b.feature")}) AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.fid < b.fid
         |  WHERE (${cosineSql("a.feature", "b.feature")}) >= 0.98)
         |SELECT media_a, media_b, count(*) AS n_frame_pairs,
         |  floor(max(cosine) * 1000000) / 1000000 AS max_cos6
         |FROM p WHERE media_a <> media_b
         |GROUP BY media_a, media_b ORDER BY media_a, media_b""".stripMargin,

    // Brute-force replay of the portable SimHash semantics: per-bit
    // majority over md5 hex-digit bits, signature as two 32-bit halves,
    // exact hamming filter. Valid as the oracle for the blocked-LSH
    // implementation because the 2-of-(m+2) pigeonhole is lossless.
    "q37_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, md5(t) AS m FROM toks),
        |sigbits AS (
        |  SELECT doc_id, b,
        |    CASE WHEN 2 * sum(((strpos('0123456789abcdef',
        |        substr(m, cast(b // 4 AS int) + 1, 1)) - 1) >> (b % 4)) & 1)
        |      > count(*) THEN 1 ELSE 0 END AS bit
        |  FROM h, (SELECT unnest(range(64)) AS b) bs
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN b < 32 THEN bit * (1::BIGINT << b) ELSE 0 END) AS lo,
        |    sum(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32)) ELSE 0 END) AS hi
        |  FROM sigbits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Same signature replay; groups = min-id/count per exact signature.
    "q187_simhash_groups" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, md5(t) AS m FROM toks),
        |sigbits AS (
        |  SELECT doc_id, b,
        |    CASE WHEN 2 * sum(((strpos('0123456789abcdef',
        |        substr(m, cast(b // 4 AS int) + 1, 1)) - 1) >> (b % 4)) & 1)
        |      > count(*) THEN 1 ELSE 0 END AS bit
        |  FROM h, (SELECT unnest(range(64)) AS b) bs
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN b < 32 THEN bit * (1::BIGINT << b) ELSE 0 END) AS lo,
        |    sum(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32)) ELSE 0 END) AS hi
        |  FROM sigbits GROUP BY doc_id),
        |g AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY lo, hi) AS group_id,
        |    count(*) OVER (PARTITION BY lo, hi) AS group_size
        |  FROM sig)
        |SELECT d.doc_id,
        |  coalesce(g.group_id, d.doc_id) AS group_id,
        |  coalesce(g.group_size, 1::BIGINT) AS group_size
        |FROM documents d LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Same signature replay; brute pairwise over the DISTINCT-signature
    // reps (tiny at sf0.01) — the engine's block join must agree.
    "q188_simhash_group_edges" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, md5(t) AS m FROM toks),
        |sigbits AS (
        |  SELECT doc_id, b,
        |    CASE WHEN 2 * sum(((strpos('0123456789abcdef',
        |        substr(m, cast(b // 4 AS int) + 1, 1)) - 1) >> (b % 4)) & 1)
        |      > count(*) THEN 1 ELSE 0 END AS bit
        |  FROM h, (SELECT unnest(range(64)) AS b) bs
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN b < 32 THEN bit * (1::BIGINT << b) ELSE 0 END) AS lo,
        |    sum(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32)) ELSE 0 END) AS hi
        |  FROM sigbits GROUP BY doc_id),
        |reps AS (SELECT lo, hi, min(doc_id) AS rep FROM sig GROUP BY lo, hi)
        |SELECT rep_a, rep_b, hamming FROM (
        |  SELECT a.rep AS rep_a, b.rep AS rep_b,
        |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
        |  FROM reps a JOIN reps b ON a.rep < b.rep)
        |WHERE hamming <= 3 ORDER BY rep_a, rep_b""".stripMargin,

    "q39_media_neardup" ->
      s"""WITH r AS (
         |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS nb,
         |    CASE WHEN doc_id % 3 = 2
         |      THEN greatest(1, least(16, (n_chars * 100) // 1000))
         |      ELSE 1 END AS n_frames
         |  FROM documents),
         |f AS (
         |  SELECT media_id,
         |    (${mediaFeatureSqlFor("0", "nb // n_frames")}) AS feature
         |  FROM r),
         |bk AS (
         |  SELECT media_id, feature,
         |    cast(${bucketSqlFor("feature")} AS bigint) AS bucket
         |  FROM f)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  floor((${cosineSql("a.feature", "b.feature")}) * 1000000)
         |    / 1000000 AS cos6
         |FROM bk a JOIN bk b
         |  ON a.bucket = b.bucket AND a.media_id < b.media_id
         |WHERE (${cosineSql("a.feature", "b.feature")}) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    // Representative assignment replay: same feature/bucket CTEs as
    // q39, then min-id rep per bucket, ONE cosine per item.
    "q221_media_dedup_groups" ->
      s"""WITH r AS (
         |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS nb,
         |    CASE WHEN doc_id % 3 = 2
         |      THEN greatest(1, least(16, (n_chars * 100) // 1000))
         |      ELSE 1 END AS n_frames
         |  FROM documents),
         |f AS (
         |  SELECT media_id,
         |    (${mediaFeatureSqlFor("0", "nb // n_frames")}) AS feature
         |  FROM r),
         |bk AS (
         |  SELECT media_id, feature,
         |    cast(${bucketSqlFor("feature")} AS bigint) AS bucket
         |  FROM f),
         |rp AS (SELECT bucket, min(media_id) AS rep_id
         |       FROM bk GROUP BY bucket),
         |j AS (
         |  SELECT m.media_id, m.feature, rb.feature AS rep_f, rp.rep_id
         |  FROM bk m JOIN rp USING (bucket)
         |  JOIN bk rb ON rb.media_id = rp.rep_id),
         |c AS (
         |  SELECT media_id, rep_id,
         |    CASE WHEN (${dotSql("feature", "feature")}) > 0
         |      AND (${dotSql("rep_f", "rep_f")}) > 0
         |    THEN cast(floor((${cosineSql("feature", "rep_f")}) * 1000000)
         |      AS bigint) END AS cos6
         |  FROM j)
         |SELECT media_id,
         |  CASE WHEN cos6 >= 900000 THEN rep_id ELSE media_id END
         |    AS group_rep,
         |  cos6
         |FROM c ORDER BY media_id""".stripMargin,

    // q62's feature CTEs, then per-frame rep assignment and the
    // per-video min-group rollup.
    "q222_frame_dedup_groups" ->
      s"""WITH v AS (
         |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS nb,
         |    greatest(1, least(16, (n_chars * 100) // 1000)) AS n_frames
         |  FROM documents WHERE doc_id % 3 = 2),
         |fr AS (
         |  SELECT media_id, hx, nb, n_frames, unnest(range(n_frames)) AS f
         |  FROM v),
         |feat AS (
         |  SELECT media_id * 100 + f AS fid,
         |    (${mediaFeatureSqlFor("(f * nb) // n_frames",
              "((f+1) * nb) // n_frames - (f * nb) // n_frames")}) AS feature
         |  FROM fr),
         |bk AS (
         |  SELECT fid, feature,
         |    cast(${bucketSqlFor("feature")} AS bigint) AS bucket
         |  FROM feat),
         |rp AS (SELECT bucket, min(fid) AS rep_id FROM bk GROUP BY bucket),
         |j AS (
         |  SELECT m.fid, m.feature, rb.feature AS rep_f, rp.rep_id
         |  FROM bk m JOIN rp USING (bucket)
         |  JOIN bk rb ON rb.fid = rp.rep_id),
         |g AS (
         |  SELECT fid,
         |    CASE WHEN (${dotSql("feature", "feature")}) > 0
         |        AND (${dotSql("rep_f", "rep_f")}) > 0
         |        AND cast(floor((${cosineSql("feature", "rep_f")}) * 1000000)
         |          AS bigint) >= 980000
         |      THEN rep_id ELSE fid END AS group_rep
         |  FROM j)
         |SELECT fid // 100 AS media_id, min(group_rep // 100) AS media_rep,
         |  count(*) AS n_frames
         |FROM g GROUP BY 1 ORDER BY media_id""".stripMargin,

    "q223_embedding_dedup_groups" ->
      s"""WITH bk AS (
         |  SELECT vec_id AS id, embedding AS v,
         |    cast(${bucketSqlFor("embedding")} AS bigint) AS bucket
         |  FROM embeddings),
         |rp AS (SELECT bucket, min(id) AS rep_id FROM bk GROUP BY bucket),
         |j AS (
         |  SELECT m.id, m.v, rb.v AS rep_v, rp.rep_id
         |  FROM bk m JOIN rp USING (bucket)
         |  JOIN bk rb ON rb.id = rp.rep_id),
         |c AS (
         |  SELECT id, rep_id,
         |    CASE WHEN (${dotSql("v", "v")}) > 0
         |      AND (${dotSql("rep_v", "rep_v")}) > 0
         |    THEN cast(floor((${cosineSql("v", "rep_v")}) * 1000000)
         |      AS bigint) END AS cos6
         |  FROM j)
         |SELECT id AS vec_id,
         |  CASE WHEN cos6 >= 350000 THEN rep_id ELSE id END AS group_rep,
         |  cos6
         |FROM c ORDER BY vec_id""".stripMargin,
    "q38_media_features" ->
      """SELECT doc_id AS media_id,
        |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE WHEN doc_id % 3 = 2
        |    THEN greatest(1, least(16, (n_chars * 100) // 1000))
        |    ELSE 1 END AS n_frames,
        |  cast(length(text) AS bigint) AS byte_len
        |FROM documents ORDER BY media_id""".stripMargin,

    // Window digests + doc frequency via a window count; the fraction
    // replays Spark's exact long `div` then /1e6 double step.
    "q91_dup_windows" -> {
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (SELECT doc_id, (${shinglesSqlN(8)}) AS shingles FROM t),
         |u AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |wc AS (SELECT doc_id, md5(s) AS wh, count(*) AS c
         |  FROM u GROUP BY 1, 2),
         |nd AS (SELECT doc_id, c,
         |    count(*) OVER (PARTITION BY wh) AS docs FROM wc),
         |agg AS (
         |  SELECT doc_id, cast(sum(c) AS bigint) AS n_windows,
         |    cast(coalesce(sum(CASE WHEN docs >= 2 THEN c END), 0)
         |      AS bigint) AS n_dup_windows,
         |    (cast(coalesce(sum(CASE WHEN docs >= 2 THEN c END), 0)
         |      AS bigint)
         |      * 1000000 // cast(sum(c) AS bigint)) / 1000000.0
         |      AS dup_frac
         |  FROM nd GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_windows, 0) AS n_windows,
         |  coalesce(a.n_dup_windows, 0) AS n_dup_windows,
         |  coalesce(a.dup_frac, 0.0) AS dup_frac
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
  )
}
