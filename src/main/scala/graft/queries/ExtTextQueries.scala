package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ext.{Bloom, Clustering, Dedup, Similarity, Sketches, Skew, TextStats}
import graft.streaming.EventsOps
import graft.queries.ExtHarness._
import graft.queries.ExtOracleShared._

/** tokenization, language-ID, quality, BPE, postings, LM scoring — one domain slice of the graded
  * extension-query registry. Pure registry split (r13 verdict item 7):
  * entries are verbatim from the pre-split ExtQueries.scala; shared
  * plumbing lives in [[ExtHarness]] (streaming replay, temp dirs) and
  * [[ExtOracleShared]] (portable oracle SQL fragments). Composed back
  * into the driver contract by [[ExtQueries]].
  */
private[queries] object ExtTextQueries {
  val defs: Map[String, Q] = Map(

    // Token statistics — pure projection.
    "q22_text_tokens" -> ((s, d) => {
      val t = col("text")
      documents(s, d).select(
        col("doc_id"),
        TextStats.tokenCount(t).as("n_tokens"),
        TextStats.bpeishTokens(t).as("n_bpeish"),
        ((length(t) - (TextStats.tokenCount(t) - 1)).cast("double") /
          TextStats.tokenCount(t).cast("double")).as("mean_token_len"))
        .orderBy("doc_id")
    }),

    // Quality scoring — length band, token shape, alpha & distinct ratios.
    "q23_text_quality" -> ((s, d) => {
      documents(s, d).select(
        col("doc_id"),
        TextStats.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // Language ID heuristic + agreement with the labeled lang column
    // (explode + broadcast marker join — one shuffle, all codegen).
    "q24_lang_id" -> ((s, d) => {
      TextStats.withLangId(documents(s, d), "doc_id", "text")
        .select(col("lang_guess").as("guess"), col("lang"))
        .groupBy("guess", "lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("guess", "lang")
    }),

    // Top-50 bigram collocations by association lift (exp-PMI) — corpus
    // statistics for vocab/tokenizer curation. Fixed-association-order
    // IEEE arithmetic + 6-decimal truncation keeps the score replayable.
    "q76_collocations" -> ((s, d) =>
      TextStats.collocations(documents(s, d), col("text"), k = 50,
        minCount = 2)),

    // BPE merge training: 6 merge rounds learned from the corpus
    // word-count table — per round one vocab-table pair count + one
    // LIMIT-1 collect, merges applied as a single leftmost
    // non-overlapping regexp replace (greedy BPE). Oracle unrolls the
    // 6 rounds as chained CTEs.
    "q89_bpe_merges" -> ((s, d) =>
      TextStats.bpeMerges(documents(s, d), "text", 6)
        .orderBy("round")),

    // BM25 retrieval over the corpus for a fixed query bag (one rare
    // term, two common): linear idf + dyadic k1/b keep every arithmetic
    // step IEEE-exactly replayable; the oracle mirrors the association
    // order term by term.
    "q80_bm25" -> ((s, d) =>
      TextStats.bm25TopK(documents(s, d), "doc_id", "text",
        Seq("dup", "merge", "spark"), 20)),

    // Overlapping token-window chunking (width 30, stride 20): the step
    // that turns curated documents into retrieval/pretraining units.
    // Pure projection — output volume = chunks, no shuffle.
    "q70_chunk" -> ((s, d) => {
      documents(s, d).select(col("doc_id"),
        posexplode(TextStats.chunkTokens(col("text"), 30, 20))
          .as(Seq("chunk_idx", "chunk")))
        .withColumn("n_tok", TextStats.tokenCount(col("chunk")))
        .orderBy("doc_id", "chunk_idx")
    }),

    // End-to-end curation pipeline — the composition a corpus team
    // actually runs: exact-dedup survivor gate (semi-join against the
    // keep set), quality floor, PII redaction, deterministic split
    // assignment. One scan feeds the gate and the projection; every
    // stage is an operator graded standalone elsewhere.
    "q60_curation_pipeline" -> ((s, d) => {
      val docs = documents(s, d)
      val keep = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val gated = docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(TextStats.qualityScore(col("text")) >= 0.5)
      graft.ext.Sampling.withHashSplit(gated, "doc_id",
        Seq(("train", 0.9), ("val", 0.1)))
        .select(col("doc_id"), col("lang"), col("split"),
          TextStats.redactPii(col("text")).as("clean"),
          TextStats.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Sequence packing: per-shard concat-and-chunk token binning (the
    // pretraining-batch layout step) — one window shuffle on the shard.
    "q58_pack" -> ((s, d) => {
      val withTok = documents(s, d).select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.ext.Sampling.packByTokens(withTok, "doc_id", "n_tok",
        windowTokens = 512, nShards = 8)
        .orderBy("doc_id")
    }),

    // PII-style redaction (emails → <EMAIL>, URLs → <URL>, long digit
    // runs → <NUM>): three codegen'd regexp passes, no shuffle.
    "q57_redact" -> ((s, d) => {
      documents(s, d).select(col("doc_id"),
        TextStats.redactPii(col("text")).as("clean"))
        .orderBy("doc_id")
    }),

    // Repetition scoring (Gopher/RefinedWeb-style duplicate-n-gram
    // fraction) at 2- and 3-gram granularity — pure projection.
    "q48_repetition" -> ((s, d) => {
      documents(s, d).select(
        col("doc_id"),
        TextStats.repetitionScore(col("text"), 2).as("rep2"),
        TextStats.repetitionScore(col("text"), 3).as("rep3"))
        .orderBy("doc_id")
    }),

    // Characteristic terms per doc: tf * N / df (linear idf — exact
    // rational weights), top-3 with term tie-break.
    "q51_tfidf_terms" -> ((s, d) => {
      TextStats.tfIdfTopK(documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    }),

    // Bigram-LM fluency score (KenLM-style quality filter): add-one
    // smoothed bigram probs trained on the corpus itself, each doc
    // scored by its mean smoothed bigram probability — exact integer
    // arithmetic end to end (floor(1e9·p) per position, bigint sums).
    "q107_bigram_lm" -> ((s, d) =>
      TextStats.bigramLmScore(documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Exact-phrase search (contamination primitive): docs containing
    // the verbatim token sequence, with match counts — positional
    // lists only for the phrase terms, no position self-joins.
    "q114_phrase_search" -> ((s, d) =>
      graft.ext.Index.phraseMatches(documents(s, d), "doc_id", "text",
        Seq("spark", "join"))
        .orderBy("doc_id")),

    // Dictionary encode/aggregate/decode roundtrip: order priorities
    // become dense value-ordered codes (shuffles move 8-byte codes,
    // not strings); the graded output proves code assignment and the
    // roundtrip.
    "q143_dict" -> ((s, d) => {
      val dict = graft.ext.Layout.dictBuild(orders(s, d),
        "o_orderpriority")
      val enc = graft.ext.Layout.dictEncode(orders(s, d),
        "o_orderpriority", dict)
      enc.groupBy(col("o_orderpriority").as("code"))
        .agg(count(lit(1)).as("n"))
        .join(dict, Seq("code"))
        .select("value", "code", "n")
        .orderBy("code")
    }),

    // Per-class precision/recall/F1 of the heuristic language IDer
    // against the labeled lang column — the eval harness for any
    // curation classifier (the confusion matrix itself is q24).
    "q155_langid_eval" -> ((s, d) => {
      val guessed = TextStats.withLangId(documents(s, d), "doc_id", "text")
      graft.ext.Stats.classifierEval(guessed,
        col("lang_guess"), col("lang"))
        .orderBy("cls")
    }),

    // Heaps'-law vocabulary growth over the documents corpus in
    // doc_id order — is more data still buying new vocabulary?
    // First-occurrence agg + one conditional-sum pass, no
    // per-checkpoint scans.
    "q210_heaps" -> ((s, d) =>
      TextStats.heapsVocabGrowth(documents(s, d), "doc_id", "text",
        Seq(50L, 100L, 200L, 400L, 800L, 1600L, 3200L))
        .orderBy("checkpoint")),

    // Distinct-2 diversity per language — the repetitiveness /
    // mode-collapse audit, on the same codegen'd shingle pass the
    // dedup family uses.
    "q211_distinct_n" -> ((s, d) =>
      TextStats.distinctN(documents(s, d), "lang", "text", n = 2)
        .orderBy("lang")),

    // Moore-Lewis intelligent selection (ACL '10): per-token µ-bit
    // cross-entropy difference between the lang='en' in-domain unigram
    // LM and the all-corpus LM, add-one smoothed — scored with the
    // exact-integer Log2Mu so the domain-relevance filter is
    // hash-gradeable (libm log would differ in last-ulp).
    "q173_moore_lewis" -> ((s, d) =>
      graft.ext.TextStats.mooreLewisScore(documents(s, d), "doc_id",
        "text", col("lang") === "en")
        .orderBy("doc_id")),

    // CCNet-style LM quality filter (Wenzek '20): per-doc mean bigram
    // surprisal in exact µ-bits (Log2Mu) under the add-one in-corpus
    // LM — the log-perplexity statistic CCNet thresholds on; the
    // log-space twin of q107's linear mean probability.
    "q177_lm_perplexity" -> ((s, d) =>
      graft.ext.TextStats.bigramSurprisal(documents(s, d), "doc_id",
        "text")
        .orderBy("doc_id")),

    // Dataset card: the per-language corpus summary a data release
    // ships — doc/token/char counts, exact-dup doc count (md5 text
    // hash seen >= 2 anywhere in the corpus), and mean quality in ppm
    // (per-doc floor to integer BEFORE the sum, so the mean is
    // order-independent — a bare avg(double) is not).
    "q181_dataset_card" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("lang"),
        size(TextStats.tokens(col("text"))).cast("long").as("toks"),
        col("n_chars"),
        // empty/whitespace-only text makes qualityScore NaN (0/0
        // ratios); pin it to 0 so Spark's silent NaN->0 cast and the
        // oracle's CASE agree instead of diverging
        when(length(trim(col("text"))) === 0, lit(0L))
          .otherwise(floor(TextStats.qualityScore(col("text")) * 1e6)
            .cast("long")).as("q6"),
        graft.functions.DigestFunctions.fastMd5(col("text")).as("h"))
      val dupKeys = base.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(col("h"), lit(1L).as("isdup"))
      base.join(dupKeys, Seq("h"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          sum(coalesce(col("isdup"), lit(0L))).as("dup_docs"),
          sum(col("q6")).as("__q"))
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          col("total_chars"), col("dup_docs"),
          expr("__q div n_docs").as("mean_quality_ppm"))
        .orderBy("lang")
    }),

    // Padding-efficiency audit: length-sorted vs arrival-order batches
    // of 32 — how many pad tokens each layout burns, exact ppm.
    "q186_padding_audit" -> ((s, d) =>
      graft.ext.Sampling.paddingAudit(
        documents(s, d).select(col("doc_id"),
          size(TextStats.tokens(col("text"))).cast("long").as("toks")),
        "doc_id", "toks", b = 32)
        .orderBy("ordering")),

    // Exact-phrase contamination probe AT REST: positional postings
    // bucket-partitioned by term hash; the probe reads only the phrase
    // terms' bucket dirs (PartitionFilters IN-list). Same result rows
    // as q114 — the layout changes where postings live, not answers.
    "q115_phrase_at_rest" -> ((s, d) => {
      val path = tempDir("graft_q115_") + "/postings"
      graft.ext.Index.writePositionalPostings(documents(s, d), "doc_id",
        "text", path)
      graft.ext.Index.phraseAtRest(s, path, Seq("spark", "join"))
        .orderBy("doc_id")
    }),

    // Train-then-encode BPE end-to-end: learn 6 merges from the corpus
    // (q89's trainer), apply them back to every document, count BPE
    // tokens per doc. The merge table is driver-side literals; the
    // encode pass is a pure codegen'd projection.
    "q102_bpe_encode" -> ((s, d) => {
      val docs = documents(s, d)
      val merges = TextStats.bpeMerges(docs, "text", 6)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextStats.bpeEncode(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Segmented (LSM) incremental index maintenance: corpus postings as
    // seg=0, a new batch appended as seg=1 WITHOUT touching the corpus
    // segment, lookup merges segments with bucket pruning inside each +
    // manifest liveness. Graded: the merged lookup equals a one-shot
    // recount over the whole corpus.
    "q98_postings_segments" -> ((s, d) => {
      val docs = documents(s, d)
      // per-invocation unique dir (q167 pattern): fresh dir, no stale
      // state to delete, no cross-run segment-write race
      val path = tempDir("graft_q98_") + "/segidx"
      graft.ext.Index.writeSegment(docs.filter(col("doc_id") >= 50),
        "doc_id", "text", path, seg = 0)
      graft.ext.Index.writeSegment(docs.filter(col("doc_id") < 50),
        "doc_id", "text", path, seg = 1)
      graft.ext.Index.termLookupSegments(s, path,
        Seq("merge", "scan", "filter"), k = 5)
        .orderBy("term", "rank")
    }),

    // At-rest inverted index: build term-bucketed posting lists (one
    // corpus pass, paid once), then answer probe-term lookups reading
    // only the hashed bucket directories (PartitionFilters IN-list —
    // the text twin of q53/q77's vector layouts).
    "q94_postings_at_rest" -> ((s, d) => {
      val path = tempDir("graft_q94_") + "/postings"
      graft.ext.Index.writePostings(documents(s, d), "doc_id", "text",
        path)
      graft.ext.Index.termLookupAtRest(s, path,
        Seq("join", "hash", "scan", "batch", "row"), k = 5)
        .orderBy("term", "rank")
    }),
  )

  val oracles: Map[String, String] = Map(

    "q22_text_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS n_bpeish,
        |  cast(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS double)
        |    / cast(len(string_split_regex(trim(text), '\s+')) AS double) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q23_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS double) AS n,
        |    cast(length(text) AS double) AS len,
        |    cast(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS double) AS n_alpha,
        |    cast(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS double) AS n_uniq
        |  FROM documents)
        |SELECT doc_id,
        |  least(n / 100.0, 1.0) * 0.25
        |  + (CASE WHEN ((len - (n - 1)) / n) BETWEEN 3.0 AND 10.0
        |          THEN 1.0 ELSE 0.5 END) * 0.25
        |  + (n_alpha / len) * 0.25
        |  + (n_uniq / n) * 0.25 AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q24_lang_id" -> {
      val de = markerSql(TextStats.stopwords("de"))
      val en = markerSql(TextStats.stopwords("en"))
      val es = markerSql(TextStats.stopwords("es"))
      val fr = markerSql(TextStats.stopwords("fr"))
      s"""WITH scored AS (
         |  SELECT lang,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
         |    length(text) AS len,
         |    $de AS s_de, $en AS s_en, $es AS s_es, $fr AS s_fr
         |  FROM documents),
         |guessed AS (
         |  SELECT lang, CASE
         |    WHEN cjk * 2 > len THEN 'zh'
         |    WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'de'
         |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'en'
         |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'es'
         |    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'fr'
         |    ELSE 'und' END AS guess
         |  FROM scored)
         |SELECT guess, lang, count(*) AS n FROM guessed
         |GROUP BY guess, lang ORDER BY guess, lang""".stripMargin
    },

    // Bigram/unigram replay; the lift keeps the Spark side's exact
    // association order ((cnt*nu)*nu) / ((nb*cx)*cy) — IEEE-identical.
    "q76_collocations" ->
      """WITH t AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
        |iw AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM t),
        |bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM iw),
        |bc AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |u AS (SELECT unnest(w) AS term FROM t),
        |uc AS (SELECT term, count(*) AS c FROM u GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM u) AS nu,
        |               (SELECT count(*) FROM bg) AS nb)
        |SELECT bc.w1, bc.w2, bc.cnt,
        |  floor(cast(bc.cnt AS double) * nu * nu /
        |    (cast(nb AS double) * ux.c * uy.c) * 1000000) / 1000000 AS lift6
        |FROM bc, tot, uc ux, uc uy
        |WHERE ux.term = bc.w1 AND uy.term = bc.w2 AND bc.cnt >= 2
        |ORDER BY lift6 DESC, w1, w2 LIMIT 50""".stripMargin,

    // 6 BPE rounds unrolled as chained CTEs: per round, adjacent-pair
    // counts over the vocab (overlaps included, like the Spark side),
    // best pair by (count desc, pair asc), merge via leftmost
    // non-overlapping replace-all on the double-space token strings.
    // sum() must cast back to bigint (DuckDB widens to hugeint).
    "q89_bpe_merges" -> {
      val rounds = 6
      s"""WITH ${bpeTrainCtes(rounds)}
         |SELECT * FROM (
         |${(1 to rounds)
            .map(r => s"SELECT $r AS round, l AS lhs, r AS rhs, c AS cnt FROM b$r")
            .mkString("\nUNION ALL\n")})
         |ORDER BY round""".stripMargin
    },

    // Full LM replay: train the same smoothed bigram table, score with
    // the same integer floor-divisions (parallel unnest zips the
    // adjacent-token lists; hugeint sums cast back at the end).
    "q107_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
        |    unnest(w[2:len(w)]) AS w2
        |  FROM t),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |ug AS (SELECT unnest(w) AS w1 FROM t),
        |u AS (SELECT w1, count(*) AS c1 FROM ug GROUP BY 1),
        |v AS (SELECT count(DISTINCT w1) AS nv FROM ug),
        |sc AS (
        |  SELECT b.doc_id, count(*) AS n_bigrams,
        |    sum(((c12 + 1) * 1000000000) // (c1 + nv)) AS sp
        |  FROM b JOIN bc USING (w1, w2) JOIN u USING (w1) CROSS JOIN v
        |  GROUP BY b.doc_id)
        |SELECT d.doc_id, cast(coalesce(n_bigrams, 0) AS bigint) AS n_bigrams,
        |  cast(sp // n_bigrams AS bigint) AS mean_p9
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Value-ordered dense codes (row_number on the distinct table) and
    // the same encode → aggregate → decode roundtrip.
    "q143_dict" ->
      """WITH dict AS (SELECT value,
        |    cast(row_number() OVER (ORDER BY value) AS bigint) AS code
        |  FROM (SELECT DISTINCT o_orderpriority AS value FROM orders
        |        WHERE o_orderpriority IS NOT NULL)),
        |e AS (SELECT d.code FROM orders o
        |  JOIN dict d ON o.o_orderpriority = d.value)
        |SELECT d.value, d.code, count(*) AS n
        |FROM e JOIN dict d ON e.code = d.code
        |GROUP BY d.value, d.code ORDER BY d.code""".stripMargin,

    // Same guess CTE as q24, then per-class tp/fp/fn off two rollups
    // of the confusion counts; ratios replayed as single divisions
    // floored at 1e-6 grain (sums cast to bigint — hugeint hashes
    // differently).
    "q155_langid_eval" -> {
      val de = markerSql(TextStats.stopwords("de"))
      val en = markerSql(TextStats.stopwords("en"))
      val es = markerSql(TextStats.stopwords("es"))
      val fr = markerSql(TextStats.stopwords("fr"))
      s"""WITH scored AS (
         |  SELECT lang,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
         |    length(text) AS len,
         |    $de AS s_de, $en AS s_en, $es AS s_es, $fr AS s_fr
         |  FROM documents),
         |guessed AS (
         |  SELECT lang, CASE
         |    WHEN cjk * 2 > len THEN 'zh'
         |    WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'de'
         |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'en'
         |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'es'
         |    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr)
         |      AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'fr'
         |    ELSE 'und' END AS guess
         |  FROM scored),
         |g AS (
         |  SELECT guess AS cls, cast(count(*) AS bigint) AS npred,
         |    cast(sum(CASE WHEN lang = guess THEN 1 ELSE 0 END) AS bigint)
         |      AS tpg
         |  FROM guessed GROUP BY 1),
         |l AS (
         |  SELECT lang AS cls, cast(count(*) AS bigint) AS ntrue
         |  FROM guessed GROUP BY 1),
         |f AS (
         |  SELECT coalesce(g.cls, l.cls) AS cls,
         |    coalesce(tpg, 0) AS tp,
         |    coalesce(npred, 0) - coalesce(tpg, 0) AS fp,
         |    coalesce(ntrue, 0) - coalesce(tpg, 0) AS fn
         |  FROM g FULL JOIN l ON g.cls = l.cls)
         |SELECT cls, tp, fp, fn,
         |  CASE WHEN tp + fp > 0 THEN cast(floor(cast(tp AS double)
         |    / cast(tp + fp AS double) * 1000000.0) AS bigint) END AS prec6,
         |  CASE WHEN tp + fn > 0 THEN cast(floor(cast(tp AS double)
         |    / cast(tp + fn AS double) * 1000000.0) AS bigint) END AS rec6,
         |  CASE WHEN 2 * tp + fp + fn > 0 THEN cast(floor(
         |    cast(2 * tp AS double) / cast(2 * tp + fp + fn AS double)
         |    * 1000000.0) AS bigint) END AS f16
         |FROM f ORDER BY cls""".stripMargin
    },

    // Heaps replay: per-token first occurrence, then one conditional
    // sum per checkpoint over the first-occurrence table and the
    // per-doc counts.
    "q210_heaps" ->
      """WITH base AS (SELECT doc_id AS o,
        |    string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |fo AS (SELECT t, min(o) AS f FROM
        |  (SELECT o, unnest(w) AS t FROM base) GROUP BY t),
        |cp AS (SELECT unnest([50, 100, 200, 400, 800, 1600, 3200])
        |    AS c),
        |docs AS (SELECT c,
        |    cast(sum(CASE WHEN o <= c THEN 1 ELSE 0 END) AS bigint)
        |      AS n_docs,
        |    cast(sum(CASE WHEN o <= c THEN len(w) ELSE 0 END)
        |      AS bigint) AS n_tokens
        |  FROM base CROSS JOIN cp GROUP BY c),
        |voc AS (SELECT c,
        |    cast(sum(CASE WHEN f <= c THEN 1 ELSE 0 END) AS bigint)
        |      AS vocab
        |  FROM fo CROSS JOIN cp GROUP BY c)
        |SELECT cast(docs.c AS bigint) AS checkpoint, n_docs, n_tokens,
        |  vocab
        |FROM docs JOIN voc ON docs.c = voc.c
        |ORDER BY checkpoint""".stripMargin,

    // Distinct-2 replay on the shared shingle replay (same short-text
    // fallback), per-gram counts then the ppm floor.
    "q211_distinct_n" -> {
      val sh2 = shinglesSqlN(2)
      s"""WITH t AS (SELECT lang,
         |    string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (SELECT lang, ($sh2) AS shingles FROM t),
         |g AS (SELECT lang, unnest(shingles) AS gm FROM sh),
         |per AS (SELECT lang, gm, count(*) AS c FROM g GROUP BY 1, 2),
         |a AS (SELECT lang, cast(sum(c) AS bigint) AS n_grams,
         |    cast(count(*) AS bigint) AS n_unique
         |  FROM per GROUP BY lang)
         |SELECT lang, n_grams, n_unique,
         |  cast((cast(n_unique AS hugeint) * 1000000) // n_grams
         |    AS bigint) AS distinct_ppm
         |FROM a ORDER BY lang""".stripMargin
    },

    // Moore-Lewis replay: same unigram counts, the log2µ integer
    // recurrence via bin() + list_reduce over the (tiny) set of
    // distinct log arguments, same truncating div.
    "q173_moore_lewis" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, (lang = 'en') AS tgt, unnest(w) AS w FROM t),
        |u AS (
        |  SELECT w, cast(count(*) AS bigint) AS c_g,
        |    cast(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS bigint) AS c_t
        |  FROM tok GROUP BY w),
        |tot AS (
        |  SELECT cast(sum(c_g) AS bigint) AS t_g,
        |    cast(sum(c_t) AS bigint) AS t_t,
        |    cast(count(*) AS bigint) AS v FROM u),
        |xs AS (
        |  SELECT DISTINCT x FROM (
        |    SELECT c_g + 1 AS x FROM u
        |    UNION ALL SELECT c_t + 1 FROM u
        |    UNION ALL SELECT t_g + v FROM tot
        |    UNION ALL SELECT t_t + v FROM tot)),
        |lg AS (
        |  SELECT x, (length(bin(x)) - 1) * 1024 + list_reduce(
        |      list_prepend(
        |        [CASE WHEN length(bin(x)) - 1 <= 30
        |           THEN x << (30 - (length(bin(x)) - 1))
        |           ELSE x >> ((length(bin(x)) - 1) - 30) END,
        |         cast(0 AS bigint)],
        |        list_transform(range(10),
        |          i -> [cast(0 AS bigint), cast(0 AS bigint)])),
        |      (acc, e) -> CASE
        |        WHEN ((acc[1] * acc[1]) >> 30) >= 2147483648
        |          THEN [((acc[1] * acc[1]) >> 30) >> 1, acc[2] * 2 + 1]
        |        ELSE [(acc[1] * acc[1]) >> 30, acc[2] * 2] END
        |    )[2] AS mu
        |  FROM xs),
        |wt AS (
        |  SELECT u.w, lt.mu - ltt.mu - lgg.mu + ltg.mu AS w_mu
        |  FROM u CROSS JOIN tot
        |  JOIN lg lt ON lt.x = u.c_t + 1
        |  JOIN lg lgg ON lgg.x = u.c_g + 1
        |  JOIN lg ltt ON ltt.x = tot.t_t + tot.v
        |  JOIN lg ltg ON ltg.x = tot.t_g + tot.v),
        |sc AS (
        |  SELECT tok.doc_id, cast(count(*) AS bigint) AS n_tokens,
        |    cast(sum(w_mu) AS bigint) AS s
        |  FROM tok JOIN wt ON tok.w = wt.w GROUP BY 1)
        |SELECT d.doc_id,
        |  cast(coalesce(n_tokens, 0) AS bigint) AS n_tokens,
        |  cast(s // n_tokens AS bigint) AS ml_mu
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q107's bigram counts + the q173 log2µ integer recurrence over
    // the distinct log arguments; same truncating div.
    "q177_lm_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
        |    unnest(w[2:len(w)]) AS w2
        |  FROM t),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |ug AS (SELECT unnest(w) AS w1 FROM t),
        |u AS (SELECT w1, count(*) AS c1 FROM ug GROUP BY 1),
        |v AS (SELECT count(DISTINCT w1) AS nv FROM ug),
        |xs AS (
        |  SELECT DISTINCT x FROM (
        |    SELECT cast(c12 + 1 AS bigint) AS x FROM bc
        |    UNION ALL
        |    SELECT cast(c1 + nv AS bigint) FROM u CROSS JOIN v)),
        |lg AS (
        |  SELECT x, (length(bin(x)) - 1) * 1024 + list_reduce(
        |      list_prepend(
        |        [CASE WHEN length(bin(x)) - 1 <= 30
        |           THEN x << (30 - (length(bin(x)) - 1))
        |           ELSE x >> ((length(bin(x)) - 1) - 30) END,
        |         cast(0 AS bigint)],
        |        list_transform(range(10),
        |          i -> [cast(0 AS bigint), cast(0 AS bigint)])),
        |      (acc, e) -> CASE
        |        WHEN ((acc[1] * acc[1]) >> 30) >= 2147483648
        |          THEN [((acc[1] * acc[1]) >> 30) >> 1, acc[2] * 2 + 1]
        |        ELSE [(acc[1] * acc[1]) >> 30, acc[2] * 2] END
        |    )[2] AS mu
        |  FROM xs),
        |wt AS (
        |  SELECT bc.w1, bc.w2, la.mu - lb.mu AS s_mu
        |  FROM bc JOIN u USING (w1) CROSS JOIN v
        |  JOIN lg la ON la.x = c1 + nv
        |  JOIN lg lb ON lb.x = c12 + 1),
        |sc AS (
        |  SELECT b.doc_id, cast(count(*) AS bigint) AS n_bigrams,
        |    cast(sum(s_mu) AS bigint) AS s
        |  FROM b JOIN wt USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id,
        |  cast(coalesce(n_bigrams, 0) AS bigint) AS n_bigrams,
        |  cast(s // n_bigrams AS bigint) AS ppl_mu
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Two window replays (length vs arrival rank), per-batch pad to
    // max, exact ppm.
    "q186_padding_audit" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS bigint)
        |      AS toks
        |  FROM documents),
        |l AS (
        |  SELECT toks, (row_number() OVER (ORDER BY toks, doc_id) - 1)
        |    // 32 AS batch FROM t),
        |la AS (
        |  SELECT count(*) AS c, max(toks) AS mx, sum(toks) AS s
        |  FROM l GROUP BY batch),
        |lr AS (
        |  SELECT 'length' AS ordering,
        |    cast(count(*) AS bigint) AS n_batches,
        |    cast(sum(s) AS bigint) AS total_tokens,
        |    cast(sum(mx * c) AS bigint) AS padded_tokens
        |  FROM la),
        |a AS (
        |  SELECT toks, (row_number() OVER (ORDER BY doc_id) - 1) // 32
        |    AS batch FROM t),
        |aa AS (
        |  SELECT count(*) AS c, max(toks) AS mx, sum(toks) AS s
        |  FROM a GROUP BY batch),
        |ar AS (
        |  SELECT 'arrival' AS ordering,
        |    cast(count(*) AS bigint) AS n_batches,
        |    cast(sum(s) AS bigint) AS total_tokens,
        |    cast(sum(mx * c) AS bigint) AS padded_tokens
        |  FROM aa),
        |u AS (SELECT * FROM lr UNION ALL SELECT * FROM ar)
        |SELECT ordering, n_batches, total_tokens, padded_tokens,
        |  cast((padded_tokens - total_tokens) * 1000000
        |    // padded_tokens AS bigint) AS waste_ppm
        |FROM u ORDER BY ordering""".stripMargin,

    // q23 quality in ppm + md5 dup keys, all exact integers.
    "q181_dataset_card" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars, md5(text) AS h, text AS text_raw,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS bigint)
        |      AS toks,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS double)
        |      AS n,
        |    cast(length(text) AS double) AS len,
        |    cast(length(regexp_replace(text, '[^\p{L}]', '', 'g'))
        |      AS double) AS n_alpha,
        |    cast(len(list_distinct(string_split_regex(trim(text),
        |      '\s+'))) AS double) AS n_uniq
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, n_chars, h, toks,
        |    CASE WHEN length(trim(text_raw)) = 0 THEN cast(0 AS bigint)
        |    ELSE cast(floor((
        |      least(n / 100.0, 1.0) * 0.25
        |      + (CASE WHEN ((len - (n - 1)) / n) BETWEEN 3.0 AND 10.0
        |              THEN 1.0 ELSE 0.5 END) * 0.25
        |      + (n_alpha / len) * 0.25
        |      + (n_uniq / n) * 0.25) * 1000000.0) AS bigint) END AS q6
        |  FROM t),
        |d AS (SELECT h FROM t GROUP BY h HAVING count(*) >= 2)
        |SELECT lang, cast(count(*) AS bigint) AS n_docs,
        |  cast(sum(toks) AS bigint) AS total_tokens,
        |  cast(sum(n_chars) AS bigint) AS total_chars,
        |  cast(sum(CASE WHEN q.h IN (SELECT h FROM d) THEN 1 ELSE 0
        |    END) AS bigint) AS dup_docs,
        |  cast(cast(sum(q6) AS bigint) // count(*) AS bigint)
        |    AS mean_quality_ppm
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    // Recount straight from the corpus — the at-rest layout changes
    // where the postings live, not what a phrase probe returns.
    "q115_phrase_at_rest" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w
        |  FROM t),
        |q AS (SELECT doc_id, pos, w[pos] AS term FROM p)
        |SELECT a.doc_id, cast(count(*) AS bigint) AS n_matches
        |FROM q a JOIN q b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.term = 'spark' AND b.term = 'join'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // Definitional adjacent-position join replay.
    "q114_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w
        |  FROM t),
        |q AS (SELECT doc_id, pos, w[pos] AS term FROM p)
        |SELECT a.doc_id, cast(count(*) AS bigint) AS n_matches
        |FROM q a JOIN q b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.term = 'spark' AND b.term = 'join'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // Learn the same 6 merges, then APPLY them to every document's
    // words (the same chained replace-all, scalar-subquery merge
    // literals) and count the resulting BPE tokens — training and
    // encoding must agree end-to-end.
    "q102_bpe_encode" -> {
      val rounds = 6
      def applyCtes(r: Int) =
        s"""e$r AS (SELECT doc_id, regexp_replace(e.s,
           |    ' ' || (SELECT l FROM b$r) || '  ' || (SELECT r FROM b$r) || ' ',
           |    ' ' || (SELECT l FROM b$r) || (SELECT r FROM b$r) || ' ',
           |    'g') AS s
           |  FROM e${r - 1} e)""".stripMargin
      s"""WITH ${bpeTrainCtes(rounds)},
         |docw AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+'))
         |    AS w
         |  FROM documents),
         |e0 AS (SELECT doc_id,
         |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s
         |  FROM docw),
         |${(1 to rounds).map(applyCtes).mkString(",\n")}
         |SELECT doc_id, cast(count(*) AS bigint) AS n_words,
         |  cast(sum(len(string_split(trim(s), '  '))) AS bigint)
         |    AS n_bpe_tokens
         |FROM e$rounds GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // BM25 with linear idf and dyadic k1=1.25, b=0.75 — the score
    // expression mirrors the Spark side's association order exactly:
    // idf = ((N - df) + 0.5)/(df + 0.5); tf-part numerator tf·2.25;
    // denominator tf + 1.25·(0.25 + 0.75·((dl·N)/TOT)); per-doc
    // combine coalesce(dup)+coalesce(merge)+coalesce(spark).
    "q80_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |ft AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok
        |  WHERE t IN ('dup', 'merge', 'spark') GROUP BY 1, 2),
        |dfq AS (SELECT t, count(*) AS df FROM ft GROUP BY 1),
        |tot AS (
        |  SELECT count(*) AS n,
        |    sum(len(string_split_regex(trim(text), '\s+'))) AS tot
        |  FROM documents),
        |dl AS (
        |  SELECT doc_id,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS double) AS dl
        |  FROM documents),
        |s AS (
        |  SELECT f.doc_id, f.t,
        |    (((cast(n AS double) - cast(df AS double)) + 0.5)
        |       / (cast(df AS double) + 0.5))
        |    * (cast(tf AS double) * 2.25)
        |    / (cast(tf AS double)
        |       + 1.25 * (0.25 + 0.75 * ((dl * cast(n AS double))
        |                                 / cast(tot AS double)))) AS sc
        |  FROM ft f JOIN dfq USING (t) JOIN dl USING (doc_id), tot)
        |SELECT doc_id,
        |  cast(floor((coalesce(max(CASE WHEN t = 'dup' THEN sc END), 0.0)
        |    + coalesce(max(CASE WHEN t = 'merge' THEN sc END), 0.0)
        |    + coalesce(max(CASE WHEN t = 'spark' THEN sc END), 0.0))
        |    * 1000000.0) AS bigint) AS score6
        |FROM s GROUP BY doc_id
        |ORDER BY score6 DESC, doc_id LIMIT 20""".stripMargin,

    "q51_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT t, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.t,
        |    cast(tf.tf * n.n_docs AS double) / df.df AS w
        |  FROM tf JOIN df ON tf.t = df.t, n),
        |ranked AS (
        |  SELECT doc_id, t, w,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY w DESC, t ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, t AS term,
        |  floor(w * 1000000) / 1000000 AS weight
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Chunk replay: same start sequence (0, stride, ... <= len-1;
    // DuckDB range stop is exclusive, hence len-1+1), 1-based inclusive
    // list slice = Spark's slice(w, s+1, width).
    "q70_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(range(0, greatest(len(w) - 1, 0) + 1, 20),
        |        s -> s = 0 OR s + 10 < len(w)),
        |      s -> array_to_string(w[s+1:s+30], ' ')) AS chunks
        |  FROM t),
        |u AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(chunks)),
        |      i -> {'chunk_idx': i, 'chunk': chunks[i+1]})) AS e
        |  FROM c)
        |SELECT doc_id, e.chunk_idx AS chunk_idx, e.chunk AS chunk,
        |  len(string_split_regex(trim(e.chunk), '\s+')) AS n_tok
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,

    "q60_curation_pipeline" -> {
      val u = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(cast(doc_id AS varchar)), ${i + 1}, 1)) - 1) * ${math.pow(16, 7 - i).toLong}")
        .mkString("(", " + ", ")") + " / 4294967296.0"
      s"""WITH keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |t AS (
         |  SELECT doc_id, lang, text,
         |    cast(len(string_split_regex(trim(text), '\\s+')) AS double) AS n,
         |    cast(length(text) AS double) AS len,
         |    cast(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS double) AS n_alpha,
         |    cast(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS double) AS n_uniq
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM keep)),
         |g AS (
         |  SELECT doc_id, lang, text FROM t
         |  WHERE least(n / 100.0, 1.0) * 0.25
         |    + (CASE WHEN ((len - (n - 1)) / n) BETWEEN 3.0 AND 10.0
         |            THEN 1.0 ELSE 0.5 END) * 0.25
         |    + (n_alpha / len) * 0.25
         |    + (n_uniq / n) * 0.25 >= 0.5)
         |SELECT doc_id, lang,
         |  CASE WHEN $u < 0.9 THEN 'train' ELSE 'val' END AS split,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text,
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      'https?://[^\\s]+', '<URL>', 'g'),
         |    '[0-9][0-9 ()+.-]{5,}[0-9]', '<NUM>', 'g') AS clean,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "q58_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(string_split_regex(trim(text), '\s+')) AS bigint)
        |      AS n_tok,
        |    doc_id % 8 AS shard
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, shard,
        |    cast(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
        |      AS before
        |  FROM t)
        |SELECT doc_id, shard, before // 512 AS bin, before % 512 AS offset
        |FROM s ORDER BY doc_id""".stripMargin,

    "q57_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9][0-9 ()+.-]{5,}[0-9]', '<NUM>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q48_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (SELECT doc_id, (${shinglesSqlN(2)}) AS s2,
         |              (${shinglesSqlN(3)}) AS s3 FROM t)
         |SELECT doc_id,
         |  cast(len(s2) - len(list_distinct(s2)) AS double)
         |    / cast(len(s2) AS double) AS rep2,
         |  cast(len(s3) - len(list_distinct(s3)) AS double)
         |    / cast(len(s3) AS double) AS rep3
         |FROM sh ORDER BY doc_id""".stripMargin,

    // One-shot recount over the whole corpus — the segmented read with
    // manifest liveness must be indistinguishable from it.
    "q98_postings_segments" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
        |  WHERE term IN ('merge', 'scan', 'filter')
        |  GROUP BY 1, 2),
        |r AS (SELECT term, doc_id, tf,
        |    count(*) OVER (PARTITION BY term) AS df,
        |    row_number() OVER (PARTITION BY term
        |      ORDER BY tf DESC, doc_id ASC) AS rank
        |  FROM tf)
        |SELECT term, df, doc_id, tf, rank FROM r
        |WHERE rank <= 5 ORDER BY term, rank""".stripMargin,

    // Recount straight from the corpus: the at-rest layout changes
    // WHERE the postings live, not what a term lookup returns.
    "q94_postings_at_rest" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
        |  WHERE term IN ('join', 'hash', 'scan', 'batch', 'row')
        |  GROUP BY 1, 2),
        |r AS (SELECT term, doc_id, tf,
        |    count(*) OVER (PARTITION BY term) AS df,
        |    row_number() OVER (PARTITION BY term
        |      ORDER BY tf DESC, doc_id ASC) AS rank
        |  FROM tf)
        |SELECT term, df, doc_id, tf, rank FROM r
        |WHERE rank <= 5 ORDER BY term, rank""".stripMargin,
  )
}
