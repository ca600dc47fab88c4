package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.DigestFunctions.fastMd5

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, language ID, quality scoring, document fingerprinting.
  * All pure `Column` expression chains (whole-stage codegen, no UDFs) —
  * they scale linearly with the scan and never shuffle by themselves.
  */
object TextStats {

  /** Whitespace tokenization. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token estimate: letter runs, digit runs, and single
    * punctuation marks each count as one token (a cheap stand-in for a
    * real BPE vocab; deliberately deterministic and engine-portable).
    */
  def bpeishTokens(c: Column): Column =
    size(regexp_extract_all(c, lit("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]"), lit(0)))

  /** Overlapping token-window chunks: windows of `width` tokens every
    * `stride` tokens (overlap = width - stride), rejoined with single
    * spaces — the chunking step that turns curated documents into
    * retrieval/pretraining units. A pure projection (volume scales with
    * output chunks, never shuffles); every document yields at least one
    * chunk, and the final window covers the tail (possibly partial),
    * so no trailing text is dropped — but a tail start whose window
    * would be fully contained in the previous chunk is skipped rather
    * than emitted as a duplicate unit. The interpreted higher-order
    * transform is bounded by
    * chunk count, like `Dedup.bucketPairs` — volume, not row width,
    * is the cost.
    */
  def chunkTokens(c: Column, width: Int, stride: Int): Column = {
    require(width >= 1 && stride >= 1, "width and stride must be >= 1")
    require(stride <= width,
      "stride > width would silently drop interior tokens")
    val w = tokens(c)
    // drop SUBSUMED tails: when stride < width, any start past
    // size - width + stride yields a chunk fully contained in its
    // predecessor — indexing it would inject the exact duplicate
    // units the dedup operators exist to remove. A start survives iff
    // it is the first or contributes at least one new token.
    val starts = filter(
      sequence(lit(0), greatest(size(w) - 1, lit(0)), lit(stride)),
      s => s === 0 || s + lit(width - stride) < size(w))
    transform(starts, s => array_join(slice(w, s + 1, lit(width)), " "))
  }

  /** Count of tokens that appear in `words`. */
  def markerCount(c: Column, words: Seq[String]): Column =
    size(filter(tokens(lower(c)), t =>
      array_contains(lit(words.toArray), t)))

  /** Stopword marker lists per language (top function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "a"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "una", "por", "con"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "pour"),
  )

  private def langNames: Seq[String] = stopwords.keys.toSeq.sorted

  /** Shared decision rule for both language-ID forms: CJK-ratio
    * short-circuit, else argmax over per-language marker scores with
    * lexicographic tie-break, "und" when no marker matched. Single source
    * of truth so the Column and Dataset forms cannot desynchronize.
    */
  private def decideLang(text: Column,
      scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce(greatest(_, _))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    val cjk = length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))
    when(cjk * 2 > length(text), lit("zh")).otherwise(pick)
  }

  /** Dataset-level language ID: same decision rule as `langId`, computed
    * via token explode + broadcast marker join + conditional sums — all
    * codegen'd. Costs two scans of `df` and two shuffles (count agg +
    * join-back on `idCol`); the Column form `langId` is a zero-shuffle
    * single-scan projection with interpreted list filters. Measure per
    * workload — on wide stopword sets the join wins, on narrow ones the
    * projection can.
    *
    * Contract: `idCol` must be a unique, non-null key (rows with null
    * ids would miss the join-back; duplicate ids would pool counts).
    * Column names `s_<lang>` are reserved internally; an existing
    * `lang_guess` column is replaced.
    */
  def withLangId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val markers = broadcast(stopwords.toSeq
      .flatMap { case (lang, ws) => ws.map(w => (w, lang)) }
      .toDF("t", "marker_lang"))
    val aggs = langNames.map(l =>
      sum(when(col("marker_lang") === l, 1).otherwise(0)).as(s"s_$l"))
    val counts = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("t"))
      .join(markers, Seq("t"))
      .groupBy(idCol)
      .agg(aggs.head, aggs.tail: _*)
    df.join(counts, Seq(idCol), "left")
      .na.fill(0, langNames.map(l => s"s_$l"))
      .withColumn("lang_guess", decideLang(col(textCol),
        langNames.map(l => l -> col(s"s_$l"))))
      .drop(langNames.map(l => s"s_$l"): _*)
  }

  /** Language ID: CJK-character ratio short-circuit, else the language
    * whose stopword list matches most tokens; "und" when nothing matches.
    * An n-gram-free heuristic that is a single projection at scale.
    */
  def langId(c: Column): Column =
    decideLang(c, stopwords.toSeq.sortBy(_._1)
      .map { case (lang, words) => lang -> markerCount(c, words) })

  /** Quality score in [0,1]: blend of length band, mean-token-length band,
    * alphabetic ratio, and distinct-token ratio. Deterministic arithmetic
    * (exact integer divisions), no data-dependent branching.
    */
  def qualityScore(c: Column): Column = {
    val n = tokenCount(c).cast("double")
    val len = length(c).cast("double")
    val meanTok = (len - (n - 1)) / n // chars per token (single-space text)
    val alpha = length(regexp_replace(c, "[^\\p{L}]", "")).cast("double") / len
    val uniq = size(array_distinct(tokens(c))).cast("double") / n
    val lenScore = least(n / lit(100.0), lit(1.0))
    val tokScore = when(meanTok.between(3.0, 10.0), 1.0).otherwise(0.5)
    (lenScore * 0.25 + tokScore * 0.25 + alpha * 0.25 + uniq * 0.25)
  }

  /** Polynomial rolling-hash fingerprint over whitespace tokens, mod
    * 1e9+7. Engine-portable (the per-token proxy uses only `ascii` and
    * `length`) and order-sensitive — token swaps change the fingerprint,
    * unlike a bag-of-words hash.
    */
  def fingerprint(c: Column): Column =
    aggregate(
      transform(tokens(c), w => (ascii(w) * 31 + length(w)).cast("long")),
      lit(0L),
      (acc, x) => (acc * 131 + x) % 1000000007L)

  /** Repetition score in [0, 1): the fraction of duplicated word
    * n-grams, `1 - distinct/total` — the Gopher/RefinedWeb-style
    * repetition filter signal for LLM training data (looping generations
    * and boilerplate score high, natural prose near 0). Reuses the
    * codegen'd shingle kernel; a pure projection, no shuffle.
    */
  def repetitionScore(c: Column, n: Int): Column = {
    val sh = Dedup.shingles(c, n)
    (size(sh) - size(array_distinct(sh))).cast("double") /
      size(sh).cast("double")
  }

  /** PII-style redaction for training corpora: emails, then URLs, then
    * long digit runs (phone/account-shaped) are replaced with typed
    * placeholder tokens, in that fixed order (an email contains no
    * whitespace, so the URL pass cannot split it; digit runs inside
    * already-placed placeholders are gone). Pure projection — three
    * codegen'd regexp passes, no shuffle; patterns are RE2-compatible so
    * any engine replays them (DuckDB needs the 'g' flag).
    */
  def redactPii(c: Column): Column = {
    val noEmail = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noUrl = regexp_replace(noEmail, "https?://[^\\s]+", "<URL>")
    regexp_replace(noUrl, "[0-9][0-9 ()+.-]{5,}[0-9]", "<NUM>")
  }

  /** Top-k characteristic terms per document by tf·idf with a LINEAR
    * idf (`tf · N / df` — rational arithmetic, so the weights are
    * bit-identical across engines; a log idf reorders nothing for a
    * fixed tf since log is monotone, but its last-ulp rounding is
    * libm-dependent and would break hash comparison). Two shuffles:
    * term counts, then the document-frequency join. Ties break on
    * the term string, so output is total-order deterministic. The
    * source feeds three branches (tf, document frequency, corpus
    * count); on parquet the count is footer-metadata-only, and the
    * token explode is recomputed rather than cached — persist `toks`
    * upstream if the source scan dominates.
    *
    * The df-table join is left unhinted, so AQE picks broadcast vs
    * shuffle from the ACTUAL runtime size of the aggregated vocabulary —
    * a natural-corpus vocab broadcasts, a web-scale one shuffle-joins,
    * and no upfront count job is spent deciding (a row-count gate would
    * have to re-aggregate the whole vocab just to count it).
    */
  def tfIdfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("t"))
    val tf = toks.groupBy(idCol, "t").agg(count(lit(1)).as("tf"))
    val docFreq = toks.groupBy("t")
      .agg(count_distinct(col(idCol)).as("df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(docFreq, "t")
      .crossJoin(broadcast(n))
      .withColumn("weight",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("weight").desc, col("t").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("t").as("term"),
        Similarity.trunc(col("weight"), 6).as("weight"))
  }

  /** Top-k bigram collocations by association lift — exp(PMI), the
    * corpus-statistics pass that finds multi-word units ("new york",
    * "machine learning") for tokenizer/vocab curation.
    *
    * lift(x,y) = p(xy) / (p(x)·p(y)) with p(xy) over bigram positions
    * and p(x) over token positions, i.e. `((cnt_xy·Nu)·Nu) /
    * ((Nb·cnt_x)·cnt_y)` — the parenthesization is load-bearing: every
    * count is an exactly-representable double and IEEE mul/div are
    * exactly rounded, so a replay that keeps the same association order
    * reproduces the value bit-for-bit (then truncated to 6 decimals;
    * same recipe as the cosine scores).
    *
    * Shape: bigram emission is a projection (`zip_with` over adjacent
    * token slices — interpreted per element, but volume = output
    * bigrams, like the bucket-pair kernels); one shuffle each for the
    * bigram and unigram counts; the marginal joins broadcast the
    * unigram side (vocabulary-sized); TakeOrderedAndProject caps the
    * result at `k`.
    */
  def collocations(df: DataFrame, textCol: Column, k: Int,
      minCount: Long = 2): DataFrame = {
    val toks = tokens(textCol)
    val nb = size(toks) - 1
    val bigrams = df
      .select(explode(zip_with(
        slice(toks, lit(1), greatest(nb, lit(0))),
        slice(toks, lit(2), greatest(nb, lit(0))),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val unigrams = df.select(explode(tokens(textCol)).as("term"))
    val uc = broadcast(unigrams.groupBy("term").agg(count(lit(1)).as("c")))
    // one cheap agg for both totals (documents-table scan, two longs out)
    val totals = df.select(
      sum(size(toks)).as("nu"), sum(greatest(nb, lit(0))).as("nbg")).head()
    val (nU, nB) = (totals.getLong(0), totals.getLong(1))
    bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .join(uc.withColumnRenamed("term", "w1").withColumnRenamed("c", "cx"), "w1")
      .join(uc.withColumnRenamed("term", "w2").withColumnRenamed("c", "cy"), "w2")
      .withColumn("lift6", Similarity.trunc(
        col("cnt").cast("double") * lit(nU.toDouble) * lit(nU.toDouble) /
          (lit(nB.toDouble) * col("cx").cast("double") * col("cy").cast("double")),
        6))
      .orderBy(col("lift6").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("cnt"), col("lift6"))
  }

  /** Bigram language-model fluency score per document — the KenLM-style
    * quality filter of a training-data pipeline, with EXACT arithmetic
    * throughout. Train add-one-smoothed bigram probabilities on the
    * corpus itself, then score every document by its MEAN smoothed
    * bigram probability: per position, p = (c(w1,w2)+1)/(c(w1)+V)
    * (V = |vocab|), held as the integer floor(10⁹·p) via pure integer
    * division — so the per-document sum is an exact bigint, immune to
    * accumulation order, and any engine replays it bit-for-bit (same
    * BM25 rationale: a log would reorder nothing per-position but its
    * last-ulp rounding is libm-dependent; the linear mean keeps the
    * ranking signal and stays exact).
    *
    * Shape: two corpus passes with map-side combine (bigram counts,
    * unigram counts), one count_distinct for V; scoring joins each
    * document's bigram positions to the count tables — shuffle keyed by
    * (w1,w2) then w1 (vocab tables are corpus-vocabulary-sized, NOT
    * broadcast: at 100 TB the bigram table is huge); final per-doc agg.
    * Documents with no bigram (≤1 token) score null with n_bigrams 0.
    * Output: (id, n_bigrams, mean_p9).
    */
  /** Shared bigram-LM scaffolding (used by [[bigramLmScore]] and
    * [[bigramSurprisal]] — one copy so the twins cannot diverge):
    * per-doc bigram stream, (w1, w2) counts, first-word unigram
    * counts, and the vocab size (the one eager driver action).
    */
  private def bigramCounts(df: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame, Long) = {
    val toks = tokens(col(textCol))
    val nb = size(toks) - 1
    val docBigrams = df
      .select(col(idCol), explode(zip_with(
        slice(toks, lit(1), greatest(nb, lit(0))),
        slice(toks, lit(2), greatest(nb, lit(0))),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigramC = docBigrams.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))
    val unigramC = df.select(explode(toks).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = df.select(explode(toks).as("w"))
      .agg(count_distinct(col("w"))).head().getLong(0)
    (docBigrams, bigramC, unigramC, v)
  }

  def bigramLmScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val (docBigrams, bigramC, unigramC, v) =
      bigramCounts(df, idCol, textCol)
    val p9 = expr(s"((c12 + 1L) * 1000000000L) div (c1 + ${v}L)")
    val scored = docBigrams
      .join(bigramC, Seq("w1", "w2"))
      .join(unigramC, Seq("w1"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(p9).as("__sp"))
      .select(col(idCol), col("n_bigrams"),
        expr("__sp div n_bigrams").as("mean_p9"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_p9"))
  }

  /** Moore–Lewis intelligent data selection (ACL '10): score every
    * document by the per-token cross-entropy DIFFERENCE between an
    * in-domain unigram LM and the general-corpus LM — the classic
    * "which slice of the 100 TB crawl looks like my target domain"
    * filter (positive = looks in-domain, negative = generic). Both LMs
    * are add-one-smoothed unigram models estimated from `df` itself:
    * the target model from rows matching `inDomain`, the general model
    * from every row.
    *
    * Determinism: log-probabilities are taken with [[graft.functions
    * .Log2Mu]] — exact integer µ-bits, so a token's weight
    *   w = log2µ(c_t+1) − log2µ(T_t+V) − log2µ(c_g+1) + log2µ(T_g+V)
    * and every per-doc sum is plain long arithmetic, bit-replayable by
    * the oracle (libm-log scores would differ in last-ulp and break
    * the hash compare).
    *
    * Scale shape: ONE token explode feeds a single (c_g, c_t) unigram
    * aggregate (map-side combined; both models from the same pass —
    * in-domain membership is a flag, not a second scan of the corpus);
    * totals come off the vocab-sized count table; the weight table is
    * vocab-sized and BROADCASTS back onto the token stream, so the
    * corpus-side plan is scan → explode → broadcast-hash-join →
    * partial agg. Nothing row-scale shuffles except the per-doc
    * aggregation itself. Output: (id, n_tokens, ml_mu) where ml_mu =
    * mean per-token µ-bit score (null for token-less docs).
    */
  def mooreLewisScore(df: DataFrame, idCol: String, textCol: String,
      inDomain: Column): DataFrame = {
    import graft.functions.PairFunctions.log2Mu
    val tokd = df.select(col(idCol), inDomain.cast("boolean").as("__tgt"),
      explode(tokens(col(textCol))).as("w"))
    val counts = tokd.groupBy("w").agg(
      count(lit(1)).as("c_g"),
      sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("c_t"))
    val totals = counts.agg(sum("c_g").as("t_g"), sum("c_t").as("t_t"),
      count(lit(1)).as("v"))
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        (log2Mu(col("c_t") + lit(1L)) - log2Mu(col("t_t") + col("v")) -
          log2Mu(col("c_g") + lit(1L)) + log2Mu(col("t_g") + col("v")))
          .as("w_mu"))
    val scored = tokd.join(broadcast(weights), Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("w_mu").as("__s"))
      .select(col(idCol), col("n_tokens"),
        expr("__s div n_tokens").as("ml_mu"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("ml_mu"))
  }

  /** CCNet-style language-model quality filter (Wenzek et al., LREC
    * '20: perplexity under an in-corpus LM separates fluent text from
    * boilerplate/junk): per-document MEAN BIGRAM SURPRISAL in µ-bits —
    * the exact-integer log-space twin of [[bigramLmScore]] (q107 emits
    * a mean linear probability; this emits the log-perplexity
    * statistic CCNet actually thresholds on). Surprisal of bigram
    * (w1,w2) under the add-one model is −log2 p = log2µ(c1 + V) −
    * log2µ(c12 + 1), exact via [[graft.functions.Log2Mu]]; per-doc
    * score = floor(Σ surprisal / n_bigrams). Low = fluent/in-
    * distribution, high = junk.
    *
    * Scale shape: identical to bigramLmScore — count aggregates
    * combine map-side; the weight table is |distinct bigrams|-sized
    * and BROADCASTS onto the doc bigram stream; the only corpus-keyed
    * shuffle is the per-doc aggregation.
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import graft.functions.PairFunctions.log2Mu
    val (docBigrams, bigramC, unigramC, v) =
      bigramCounts(df, idCol, textCol)
    val weights = bigramC.join(unigramC, "w1")
      .select(col("w1"), col("w2"),
        (log2Mu(col("c1") + lit(v)) - log2Mu(col("c12") + lit(1L)))
          .as("s_mu"))
    val scored = docBigrams
      .join(broadcast(weights), Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_mu")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        expr("__s div n_bigrams").as("ppl_mu"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("ppl_mu"))
  }

  /** BM25 top-k retrieval for a fixed bag of query `terms` — the scoring
    * pass of a keyword search / data-curation filter. Uses the LINEAR
    * idf `((N - df) + 0.5) / (df + 0.5)` (same monotone-substitute
    * rationale as `tfIdfTopK`: Robertson's log reorders nothing for
    * fixed df, but its last-ulp rounding is libm-dependent), and
    * requires DYADIC k1/b (defaults 1.25, 0.75) so every derived
    * constant (k1+1, 1-b) is exact — the whole score is then IEEE
    * mul/div/add over exactly-representable inputs in a fixed
    * association order, reproduced bit-for-bit by the q80 oracle.
    *
    * Plan shape: the token explode is filtered to the query terms
    * BEFORE its aggregation (the shuffle carries matching postings
    * only, ~|terms|/vocab of the corpus); df is a ≤|terms|-row
    * broadcast; per-document scores combine via a fixed-order
    * conditional-aggregate pivot (a bare `sum` over terms would
    * re-introduce order-dependent FP addition); top-k compiles to
    * TakeOrderedAndProject. One scan for postings, one for lengths.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "bm25TopK: terms must be non-empty and distinct")
    def dyadic(x: Double) = x * 1024 == math.floor(x * 1024)
    require(dyadic(k1) && dyadic(b),
      s"bm25TopK: k1/b must be dyadic rationals for replayability, got $k1/$b")
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .filter(col("t").isin(terms: _*))
    val tf = toks.groupBy(idCol, "t").agg(count(lit(1)).as("tf"))
    val docFreq = toks.groupBy("t").agg(count_distinct(col(idCol)).as("df"))
    val totals = df.select(count(lit(1)).as("n"),
      sum(tokenCount(col(textCol)).cast("long")).as("tot")).head()
    val (nDocs, totToks) = (totals.getLong(0), totals.getLong(1))
    val dl = df.select(col(idCol),
      tokenCount(col(textCol)).cast("double").as("dl"))
    val idf = (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfd = col("tf").cast("double")
    val score = idf * (tfd * lit(k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) +
        lit(b) * (col("dl") * lit(nDocs.toDouble) / lit(totToks.toDouble))))
    val perTerm = tf.join(broadcast(docFreq), "t").join(dl, idCol)
      .withColumn("sc", score)
    // fixed-order combine: coalesce(s_0, 0) + coalesce(s_1, 0) + ...
    // — INDEXED names, not raw terms: a term containing '.' or '`'
    // would otherwise parse as nested-field access and fail resolution
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("t") === t, col("sc"))).as(s"__s_$i") }
    val combined = terms.indices.map(i => coalesce(col(s"__s_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    perTerm.groupBy(idCol).agg(pivots.head, pivots.tail: _*)
      .withColumn("score6", floor(combined * lit(1e6)).cast("long"))
      .orderBy(col("score6").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score6"))
  }

  /** BPE merge training (Sennrich et al., ACL'16): learn `nMerges`
    * byte-pair merges from the corpus. Classic structure: train on the
    * DISTINCT-word count table (one groupBy over the corpus — the only
    * corpus-scale pass; everything after touches the vocabulary table,
    * which is orders of magnitude smaller at any scale), then per
    * round count adjacent token pairs weighted by word count, take the
    * global best, and merge it greedily left-to-right in every word.
    *
    * Segmentations are double-space-joined token strings (" a  b  c "),
    * so one merge round is ONE `regexp_replace`: leftmost
    * non-overlapping replace-all IS greedy BPE merging, and the shared
    * boundary space survives because each match consumes only its own
    * leading/trailing space (" a  a  a  a " → " aa  aa ", not one
    * merge). Engine-portable: RE2 replace-all scans the same way, no
    * lookarounds needed. Per round: one explode+agg over the vocab
    * table and one LIMIT-1 collect of the winning pair (the same
    * driver-iteration shape as the k-means operator — rounds are
    * inherently sequential in BPE). Ties break (count desc, pair asc)
    * for a total order. Returns (round, lhs, rhs, cnt) — `lhs`/`rhs`
    * because left/right collide with SQL keywords in oracle replays.
    */
  /** `localVocabThreshold`: word-frequency tables at or below this many
    * DISTINCT words collect to the driver and the merge rounds run as a
    * local loop — BPE iterates over the |vocab| table, not the corpus,
    * and a distributed round is 3 scheduler round-trips for what is
    * microseconds of string work on any real vocabulary (the
    * dedupClusters localEdgeThreshold discipline; r15: q89 isolated
    * 1.67 -> ~0.5 s with 6 rounds on the 30-word fixture vocab, and the
    * gap grows linearly in nMerges — real tokenizers run thousands of
    * rounds). Larger vocabularies run the distributed loop; 0 forces it
    * (the specs do, to pin the two paths equal). The local loop
    * replicates the distributed semantics EXACTLY: same pair counting
    * over split("  ") of the trimmed form, best pair by (count desc,
    * l asc, r asc) under UTF8-BINARY string order (Spark's), same
    * leftmost-non-overlapping java.util.regex replace-all.
    */
  /** Driver-heap budget for the local-loop vocab collect, in CHARS of
    * the char-spaced word forms (~2 bytes/char of String payload, row
    * overhead bounded by the row-count gate): 64M chars ≈ 150 MB peak.
    */
  val LocalVocabCharBudget: Long = 64L << 20

  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int,
      localVocabThreshold: Int = 100000): DataFrame = Materialize.scope {
    require(nMerges > 0, "bpeMerges: nMerges must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "), array_join(split(col("w"), ""), "  "),
        lit(" ")).as("s"), col("cnt"))
      .transform(Materialize.disk)
    // Gate on a cheap count + char total of the PERSISTED vocab (r15
    // advice): the previous limit(threshold+1).collect() shipped up to
    // ~1M (string, long) rows to the driver on EVERY call only to
    // discard them when the distributed path was then taken (and the
    // vocab aggregation job was recomputed by the loop's persist). The
    // cache is shared by both paths: the local path collects from it,
    // the distributed loop's first round reads it. The char budget
    // bounds driver heap against adversarial word lengths — row count
    // alone does not (r15 verdict item 3); oversized vocabs fall over
    // to the distributed loop, which is result-identical (spec-pinned).
    // Threshold default: a local merge round is single-threaded
    // O(|vocab|) regex work (~µs/word) vs ~0.2-0.3 s of scheduler
    // round-trips per distributed round — crossover is O(100k) words.
    val gate = vocab.agg(count(lit(1)),
      coalesce(sum(length(col("s"))), lit(0L))).head()
    val nWords = gate.getLong(0)
    val vocabChars = gate.getLong(1)
    if (nWords <= localVocabThreshold &&
        vocabChars <= LocalVocabCharBudget)
      localBpeMerges(spark,
        vocab.collect().map(r => (r.getString(0), r.getLong(1))), nMerges)
    else {
      var words = vocab
      val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
      var r = 1
      var done = false
      while (r <= nMerges && !done) {
        val best = words
          .select(col("cnt"), split(trim(col("s")), "  ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(0, size(t)-2), i -> named_struct('l', t[i], 'r', t[i+1]))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("l").asc, col("r").asc)
          .limit(1).as[(String, String, Long)].collect()
        if (best.isEmpty) done = true
        else {
          val (l, rr, c) = best.head
          merges += ((r, l, rr, c))
          val pat = " " + java.util.regex.Pattern.quote(l) + "  " +
            java.util.regex.Pattern.quote(rr) + " "
          val rep = java.util.regex.Matcher.quoteReplacement(s" $l$rr ")
          val next = words
            .select(regexp_replace(col("s"), pat, rep).as("s"), col("cnt"))
            .transform(Materialize.disk)
          next.count() // materialize before releasing the parent
          Materialize.free(words)
          words = next
        }
        r += 1
      }
      merges.toSeq.toDF("round", "lhs", "rhs", "cnt")
    }
  }

  /** The driver-side merge loop behind [[bpeMerges]]'s size gate —
    * bit-identical semantics to the distributed rounds (Round15Spec
    * pins the two paths equal at threshold 0 vs default).
    */
  private def localBpeMerges(spark: org.apache.spark.sql.SparkSession,
      rows: Array[(String, Long)], nMerges: Int): DataFrame = {
    import spark.implicits._
    // Spark string order is UTF8 BINARY — byte-wise unsigned — which
    // differs from java.lang.String's UTF-16 order on supplementary
    // code points; replicate it exactly
    def u8cmp(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    // Spark trim() strips 0x20 ONLY (java.lang.String.trim strips all
    // control chars <= 0x20); split(s, "  ") is regex with limit -1
    def stripSpaces(s: String): String = {
      var lo = 0
      var hi = s.length
      while (lo < hi && s.charAt(lo) == ' ') lo += 1
      while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
      s.substring(lo, hi)
    }
    val twoSpaces = java.util.regex.Pattern.compile("  ")
    var words = rows
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (s, cnt) =>
        val t = twoSpaces.split(stripSpaces(s), -1)
        if (t.length >= 2) {
          var i = 0
          while (i < t.length - 1) {
            val k = (t(i), t(i + 1))
            counts.put(k, counts.getOrDefault(k, 0L) + cnt)
            i += 1
          }
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (k, c) =>
          if (best == null || c > best._2 ||
              (c == best._2 && {
                val dl = u8cmp(k._1, best._1._1)
                dl < 0 || (dl == 0 && u8cmp(k._2, best._1._2) < 0)
              }))
            best = (k, c)
        }
        val ((l, rr), c) = best
        merges += ((r, l, rr, c))
        val pat = java.util.regex.Pattern.compile(
          " " + java.util.regex.Pattern.quote(l) + "  " +
            java.util.regex.Pattern.quote(rr) + " ")
        val rep = java.util.regex.Matcher.quoteReplacement(s" $l$rr ")
        words = words.map { case (s, cnt) =>
          (pat.matcher(s).replaceAll(rep), cnt)
        }
      }
      r += 1
    }
    merges.toSeq.toDF("round", "lhs", "rhs", "cnt")
  }

  /** Apply an ordered merge table to encode documents — the production
    * complement of `bpeMerges` (train once, encode everywhere): each
    * word becomes its char-spaced form, the merges run as the same
    * leftmost non-overlapping replace-all rounds as training (so the
    * segmentation is exactly what training would produce), and each
    * document reports its word and BPE-token counts. Pure projection
    * after a tiny driver-side merge table: at 100 TB the learned merges
    * broadcast as literals into codegen'd regexp_replace chains; the
    * only shuffle is the final per-doc rollup.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val charForm = concat(lit(" "),
      array_join(split(col("__w"), ""), "  "), lit(" "))
    val encoded = merges.foldLeft(charForm) { case (s, (l, r)) =>
      val pat = " " + java.util.regex.Pattern.quote(l) + "  " +
        java.util.regex.Pattern.quote(r) + " "
      val rep = java.util.regex.Matcher.quoteReplacement(s" $l$r ")
      regexp_replace(s, pat, rep)
    }
    df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .select(col(idCol), size(split(trim(encoded), "  ")).as("__nt"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nt")).as("n_bpe_tokens"))
  }

  /** Hashing-trick linear classifier (the fastText / CCNet quality-model
    * SHAPE with a deterministic stand-in weight vector — real trained
    * weights are a drop-in `Map[Int, Double]` broadcast; the container
    * has no model artifacts, so weights here are a fixed function of the
    * feature bucket and the whole scorer replays in any engine).
    * Features: each token hashes to one of `dim` buckets via the first
    * 8 md5 hex digits (engine-portable, same family as
    * `Sampling.hashCoord`); bucket b carries integer weight numerator
    * `(b*37 mod 201) - 100` in [-100, 100]. The document logit is the
    * exact integer sum of its token weights over 128 (dyadic — the
    * long→double conversion and /128.0 are both exact), `keep` is the
    * positive-logit gate. Explode + partial-aggregated sum: within-doc
    * tokens collapse map-side, the one shuffle carries a row per doc —
    * the same shape at any corpus size, all codegen, no driver state.
    */
  def logitScore(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 1024): DataFrame = {
    val bucket = pmod(
      conv(substring(fastMd5(col("__t")), 1, 8), 16, 10).cast("long"),
      lit(dim.toLong))
    val wNum = pmod(bucket * 37L, lit(201L)) - lit(100L)
    df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol), wNum.as("__wn"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum(col("__wn")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / 128.0).as("logit"),
        (col("__s") > 0L).as("keep"))
  }

  /** Heaps'-law vocabulary growth curve (Heaps 1978): distinct-token
    * vocabulary size after each corpus-prefix checkpoint — the
    * dedup/coverage audit that tells you whether more data is still
    * buying new vocabulary or just repeating the old (sublinear V(n) ~
    * K·nᵝ is healthy text; a flat curve means saturation, a linear one
    * means ID-like noise in the token stream). `ordCol` defines the
    * corpus order (any monotone ingest key), `checkpoints` are VALUES
    * of that column (plan literals, ≤ 1000); each output row reports
    * the prefix ordCol ≤ c: documents, running token count, distinct
    * vocabulary.
    *
    * Plan: a token's prefix membership is decided by its FIRST
    * occurrence (min ordCol — one map-side-combined agg over the
    * exploded tokens), so vocabulary at every checkpoint is ONE
    * conditional-sum pass over the |vocab|-sized first-occurrence
    * table — no per-checkpoint scans, no distinct-per-prefix shuffle,
    * no window anywhere. Doc/token prefix totals are the same
    * conditional sums over the per-doc counts. Two 1-row aggregates
    * crossJoined and exploded back to one row per checkpoint.
    */
  def heapsVocabGrowth(df: DataFrame, ordCol: String, textCol: String,
      checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty && checkpoints.size <= 1000,
      s"heapsVocabGrowth: 1..1000 checkpoints (got ${checkpoints.size})")
    require(checkpoints.distinct.size == checkpoints.size,
      "heapsVocabGrowth: duplicate checkpoints")
    val cps = checkpoints.sorted
    val base = df.select(col(ordCol).cast("long").as("__o"),
        tokens(col(textCol)).as("__w"))
      .filter(col("__o").isNotNull)
    val firstOcc = base
      .select(col("__o"), explode(col("__w")).as("__t"))
      .groupBy(col("__t")).agg(min(col("__o")).as("__f"))
    val vocabRow = firstOcc.agg(
      sum(when(col("__f") <= cps.head, 1L).otherwise(0L)).as("__v0"),
      cps.tail.zipWithIndex.map { case (c, i) =>
        sum(when(col("__f") <= c, 1L).otherwise(0L)).as(s"__v${i + 1}")
      }: _*)
    val docRow = base.select(col("__o"), size(col("__w")).as("__n"))
      .agg(
        sum(when(col("__o") <= cps.head, 1L).otherwise(0L)).as("__d0"),
        (cps.tail.zipWithIndex.map { case (c, i) =>
          sum(when(col("__o") <= c, 1L).otherwise(0L)).as(s"__d${i + 1}")
        } ++ cps.zipWithIndex.map { case (c, i) =>
          sum(when(col("__o") <= c, col("__n").cast("long"))
            .otherwise(0L)).as(s"__t$i")
        }): _*)
    docRow.crossJoin(vocabRow) // 1 row x 1 row
      .select(explode(array(cps.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("checkpoint"), col(s"__d$i").as("n_docs"),
          col(s"__t$i").as("n_tokens"), col(s"__v$i").as("vocab"))
      }: _*)).as("__s"))
      .select(col("__s.checkpoint"), col("__s.n_docs"),
        col("__s.n_tokens"), col("__s.vocab"))
  }

  /** Distinct-n diversity (Li et al. NAACL'16): unique n-grams over
    * total n-grams per group, in ppm — the standard repetitiveness /
    * mode-collapse audit for generated or scraped text (low distinct-2
    * = the corpus keeps saying the same thing). Grams come from the
    * same codegen'd [[Dedup.shingles]] pass the dedup family uses
    * (including its short-text fallback: a document shorter than n
    * contributes its whole text as one gram). Exact integer counts;
    * one explode + two aggs, map-side combined, no window.
    */
  def distinctN(df: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1 && n <= 16, s"distinctN: n must be in [1, 16]")
    val per = df.select(col(groupCol),
        explode(Dedup.shingles(col(textCol), n)).as("__g"))
      .groupBy(col(groupCol), col("__g"))
      .agg(count(lit(1)).as("__c"))
    per.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_unique"))
      .select(col(groupCol), col("n_grams"), col("n_unique"),
        expr("cast((cast(n_unique AS decimal(38,0)) * 1000000)" +
          " div n_grams AS long)").as("distinct_ppm"))
  }
}
