package graft.norm

import java.text.{Normalizer => JNormalizer}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar normalization layer — re-expression of the reference's text/date
  * helpers (survey §2.7, C1-C16; reference
  * src/barrazueta_pipeline_etl_crossref.py:97-205) as Spark `Column`
  * functions. Everything that CAN be a built-in expression chain is one
  * (codegen'd, no UDF tax); only Unicode normalization + HTML unescape need
  * JVM helpers (Spark has no NFC/NFKD or entity-decode builtin).
  */
object Normalize {

  // ---------------------------------------------------------------------
  // JVM-side string kernels (used by the UDFs and by unit tests directly).
  // ---------------------------------------------------------------------

  /** Minimal HTML entity decode covering the named entities that occur in
    * bibliographic metadata plus all numeric forms (&#123; / &#x1F;).
    * Mirrors Python `html.unescape` for this domain
    * (reference PIPE:98 uses html.unescape).
    */
  private val namedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "ndash" -> "–",
    "mdash" -> "—", "hellip" -> "…", "rsquo" -> "’",
    "lsquo" -> "‘", "rdquo" -> "”", "ldquo" -> "“",
    "eacute" -> "é", "aacute" -> "á", "iacute" -> "í",
    "oacute" -> "ó", "uacute" -> "ú", "ntilde" -> "ñ",
    "Eacute" -> "É", "Aacute" -> "Á", "Ntilde" -> "Ñ",
    "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä",
    "copy" -> "©", "reg" -> "®", "deg" -> "°",
    "plusmn" -> "±", "times" -> "×", "middot" -> "·",
    "sect" -> "§", "para" -> "¶", "micro" -> "µ",
  )

  // [xX]: Python html.unescape accepts &#X41; too — lowercase-only 'x'
  // here left the "#X" decode branch below unreachable
  private val entityRe = "&(#[xX]?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);".r

  def unescapeHtml(s: String): String =
    if (s == null || s.indexOf('&') < 0) s
    else entityRe.replaceAllIn(s, m => {
      val body = m.group(1)
      val repl =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try new String(Character.toChars(Integer.parseInt(body.drop(2), 16)))
          catch { case _: Exception => m.matched }
        else if (body.startsWith("#"))
          try new String(Character.toChars(Integer.parseInt(body.drop(1))))
          catch { case _: Exception => m.matched }
        else namedEntities.getOrElse(body, m.matched)
      java.util.regex.Matcher.quoteReplacement(repl)
    })

  // (?U) makes \s Unicode-aware (U+00A0 etc.), matching Python's re —
  // Java's default \s is ASCII-only (found by the reference differential
  // test, NormalizeDiffSpec)
  private val wsRe = "(?U)\\s+".r
  private def collapseWs(s: String): String =
    wsRe.replaceAllIn(s, " ").stripPrefix(" ").stripSuffix(" ")

  /** C1 — unescape → Unicode NFC → collapse whitespace → trim.
    * Null/empty → empty string, matching the reference (PIPE:97-103).
    */
  def normNfcJvm(s: String): String =
    if (s == null) ""
    else collapseWs(JNormalizer.normalize(unescapeHtml(s), JNormalizer.Form.NFC))

  // --- Canonical-combining-class strip ----------------------------------
  // The reference drops exactly the characters with nonzero canonical
  // combining class (`unicodedata.combining(c)`, PIPE:110) — NOT all of
  // \p{M}: ccc=0 marks (Mc vowel signs, U+0901-style candrabindus) stay.
  // The JVM has no ccc API, so ccc != 0 is probed via the canonical
  // reordering algorithm itself: a code point reorders around a ccc=1
  // anchor (U+0334) iff its ccc >= 2, and a ccc=240 anchor (U+0345)
  // moves past it iff 0 < ccc < 240 — together covering every nonzero
  // class. Probes are two tiny NFD calls, memoized per code point; the
  // first nonzero-ccc code point is U+0300, so ASCII/Latin-1 shortcuts.

  private val cccMemo =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Boolean]()

  private val Ccc1Anchor = "\u0334" // COMBINING TILDE OVERLAY, ccc=1
  private val Ccc240Anchor = "\u0345" // COMBINING GREEK YPOGEGRAMMENI, ccc=240

  private[graft] def cccNonZero(cp: Int): Boolean =
    cp >= 0x0300 && cccMemo.computeIfAbsent(cp, _ => {
      val s = new String(Character.toChars(cp))
      val p1 = JNormalizer.normalize(s + Ccc1Anchor, JNormalizer.Form.NFD)
      val p2 = JNormalizer.normalize(Ccc240Anchor + s, JNormalizer.Form.NFD)
      p1.startsWith(Ccc1Anchor) || !p2.startsWith(Ccc240Anchor)
    })

  private def stripCombining(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!cccNonZero(cp)) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    sb.toString
  }

  // --- Python-parity lowercasing -----------------------------------------
  // Both CPython and the JVM implement the Unicode Final_Sigma rule for
  // U+03A3, but they disagree on the context test: CPython (unicodeobject.c
  // handle_capital_sigma) looks only at the adjacent non-Case_Ignorable
  // code points ("ςΣ0te" → final, digit follows), while the JVM uses
  // BreakIterator word boundaries ("ςΣ0te" → not final, cased 'te' in the
  // same word). We resolve every Σ with CPython's rule first, so the JVM's
  // contextual mapping never fires.

  /** Unicode `Cased`: Ll ∪ Lu ∪ Lt ∪ Other_Lowercase ∪ Other_Uppercase
    * (Character.isLower/UpperCase include the Other_* contributory props).
    */
  private def isCased(cp: Int): Boolean =
    Character.isLowerCase(cp) || Character.isUpperCase(cp) ||
      Character.getType(cp) == Character.TITLECASE_LETTER

  /** Word_Break ∈ {MidLetter, MidNumLet, Single_Quote} code points — the
    * non-general-category part of Unicode `Case_Ignorable`.
    */
  private val midWordCps: Set[Int] = Set(
    0x003A, 0x00B7, 0x0387, 0x055F, 0x05F4, 0x2027, 0xFE13, 0xFE55, 0xFF1A, // MidLetter
    0x002E, 0x2018, 0x2019, 0x2024, 0xFE52, 0xFF07, 0xFF0E, // MidNumLet
    0x0027) // Single_Quote

  /** Unicode `Case_Ignorable`: Mn ∪ Me ∪ Cf ∪ Lm ∪ Sk ∪ mid-word breaks. */
  private def isCaseIgnorable(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
      t == Character.FORMAT || t == Character.MODIFIER_LETTER ||
      t == Character.MODIFIER_SYMBOL || midWordCps.contains(cp)
  }

  /** CPython's Final_Sigma test for the Σ at index `i`: a cased code point
    * precedes (skipping Case_Ignorable) and none follows (ditto).
    */
  private def finalSigmaAt(s: String, i: Int): Boolean = {
    var j = i
    var prevCased = false
    var scanning = true
    while (j > 0 && scanning) {
      val cp = s.codePointBefore(j)
      if (isCaseIgnorable(cp)) j -= Character.charCount(cp)
      else { prevCased = isCased(cp); scanning = false }
    }
    if (!prevCased) return false
    var k = i + 1
    while (k < s.length) {
      val cp = s.codePointAt(k)
      if (isCaseIgnorable(cp)) k += Character.charCount(cp)
      else return !isCased(cp)
    }
    true
  }

  /** Lowercase with CPython semantics: resolve each U+03A3 per
    * `finalSigmaAt`, then apply the JVM's unconditional mappings.
    */
  private[norm] def lowerPy(s: String): String = {
    val resolved =
      if (s.indexOf('Σ') < 0) s
      else {
        val sb = new java.lang.StringBuilder(s.length)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          sb.append(if (c == 'Σ') (if (finalSigmaAt(s, i)) 'ς' else 'σ') else c)
          i += 1
        }
        sb.toString
      }
    resolved.toLowerCase(java.util.Locale.ROOT)
  }

  /** C2 — unescape → NFKD → strip nonzero-ccc combining marks (accent
    * fold) → collapse whitespace → trim → lowercase. The canonical search
    * key used for author/affiliation identity and the UPS substring test
    * (PIPE:105-112).
    */
  def normKeyJvm(s: String): String =
    if (s == null) ""
    else {
      val nfkd = JNormalizer.normalize(unescapeHtml(s), JNormalizer.Form.NFKD)
      lowerPy(collapseWs(stripCombining(nfkd)))
    }

  // ---------------------------------------------------------------------
  // Column functions
  // ---------------------------------------------------------------------

  /** C1 as a Column — codegen'd custom expression (no UDF round-trip);
    * null → "" matching the reference's falsy handling.
    */
  def normNfc(c: Column): Column =
    coalesce(graft.functions.NormalizeFunctions.nfcClean(c), lit(""))

  /** C2 as a Column — codegen'd custom expression; null → "". */
  def normKey(c: Column): Column =
    coalesce(graft.functions.NormalizeFunctions.nfkdKey(c), lit(""))

  /** Register the two UDFs for `spark.sql` use. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("norm_nfc", normNfcJvm _)
    spark.udf.register("norm_key", normKeyJvm _)
  }

  /** C3 — DOI standardization: trim → unescape common HTML entities →
    * strip `https?://(dx.)?doi.org/` or `doi:` prefix (case-insensitive)
    * → trim → lowercase (PIPE:115-122). Pure builtins, stays in
    * whole-stage codegen; the entity set covers what occurs in DOIs
    * (&amp;, &lt;, &gt;, and numeric slash escapes).
    */
  /** Unicode-aware trim (Python str.strip parity — Spark's trim() only
    * removes ASCII space).
    */
  private def uniTrim(c: Column): Column =
    regexp_replace(c, "(?U)^\\s+|(?U)\\s+$", "")

  def standardizeDoi(c: Column): Column = {
    val unescaped =
      graft.functions.NormalizeFunctions.htmlUnescape(uniTrim(c))
    lower(uniTrim(regexp_replace(
      unescaped, "(?i)^(https?://(dx\\.)?doi\\.org/|doi:\\s*)", "")))
  }

  /** F6/C4 guard — year valid iff within [1600, 2100] (PIPE:136,162). */
  def validYear(y: Column): Column = when(y.between(1600, 2100), y)

  /** C4 — first valid year over the priority list
    * published-online → published-print → issued → created, reading
    * `date-parts[0][0]` (PIPE:125-138). `item` is the work struct column.
    */
  def extractYearAny(item: Column): Column = {
    val keys = Seq("published-online", "published-print", "issued", "created")
    // get() (not getItem) — tolerant out-of-bounds access matching the
    // reference's defensive list reads (PIPE:127-131)
    coalesce(keys.map(k => validYear(get(get(item.getField(k)
      .getField("date-parts"), lit(0)), lit(0)))): _*)
  }

  /** C5 — same priority list, to a real DateType with month/day default 1
    * (PIPE:153-164; reference keeps an ISO string, we keep a date).
    *
    * Matches the reference's control flow exactly: the FIRST key with a
    * valid year wins — a later key is never consulted, even when the
    * winning key's month/day are garbage. Divergence (documented): for
    * garbage month/day the reference emits an impossible ISO string
    * ("2023-00-01"); a DateType engine yields null instead — guarded
    * month/day checks keep ANSI-mode `make_date` from throwing on them.
    */
  def extractDateAny(item: Column): Column = {
    val keys = Seq("published-online", "published-print", "issued", "created")
    // pick the first key with a valid year (reference stops there too)
    val picked = coalesce(keys.map { k =>
      val dp = get(item.getField(k).getField("date-parts"), lit(0))
      val y = get(dp, lit(0))
      when(validYear(y).isNotNull, struct(
        y.as("y"),
        coalesce(get(dp, lit(1)), lit(1)).as("m"),
        coalesce(get(dp, lit(2)), lit(1)).as("d")))
    }: _*)
    val (y, m, d) =
      (picked.getField("y"), picked.getField("m"), picked.getField("d"))
    val mOk = m.between(1, 12)
    // day bound checked against the real month length (leap-aware);
    // make_date only evaluates on valid input, so ANSI mode never throws
    val dOk = d.between(1,
      dayofmonth(last_day(when(mOk, make_date(y, m, lit(1))))))
    when(mOk && dOk, make_date(y, m, d))
  }

  /** C6 — author display name: `given family`, fallback `name`, then C1
    * (PIPE:141-145).
    */
  def authorFullName(given: Column, family: Column, name: Column): Column =
    normNfc(coalesce(nullif(trim(concat_ws(" ",
      coalesce(given, lit("")), coalesce(family, lit("")))), lit("")), name))

  /** C8 — ordered country patterns; dict order = priority (PIPE:167-195).
    * Patterns are applied to the C2-normalized (lowercased, accent-folded)
    * affiliation text with word boundaries.
    */
  // Verbatim from PIPE:167-185 — dict order is match priority. The
  // accented alternations (españa, perú, …) can never match the
  // NFKD-folded input; that is reference behavior, preserved knowingly.
  val countryPatterns: Seq[(String, String, String)] = Seq(
    ("ecuador", "EC", "Ecuador"),
    ("spain|españa", "ES", "Spain"),
    ("peru|perú", "PE", "Peru"),
    ("colombia", "CO", "Colombia"),
    ("chile", "CL", "Chile"),
    ("argentina", "AR", "Argentina"),
    ("mexico|méxico", "MX", "Mexico"),
    ("brazil|brasil", "BR", "Brazil"),
    ("united states|usa|u\\.s\\.a\\.|u\\.s\\.|estados unidos", "US", "United States"),
    ("canada|canadá", "CA", "Canada"),
    ("united kingdom|uk|u\\.k\\.|inglaterra|reino unido", "GB", "United Kingdom"),
    ("france|francia", "FR", "France"),
    ("germany|alemania", "DE", "Germany"),
    ("italy|italia", "IT", "Italy"),
    ("china", "CN", "China"),
    ("japan|japón", "JP", "Japan"),
  )

  /** C8 — returns ISO2 code from normalized text, null when no match.
    * (?U) makes Java's \b Unicode-aware like Python's re.\b — without it
    * a pattern adjacent to non-ASCII letters (CJK around "china") matches
    * where the reference does not.
    */
  def guessCountryCode(normText: Column): Column =
    countryPatterns.foldRight(lit(null).cast("string")) {
      case ((pat, code, _), acc) =>
        when(normText.rlike(s"(?U)\\b($pat)\\b"), lit(code)).otherwise(acc)
    }

  /** C8 — ISO2 code → display name (same priority order). */
  def countryName(code: Column): Column =
    countryPatterns.foldRight(lit(null).cast("string")) {
      case ((_, c, name), acc) => when(code === c, lit(name)).otherwise(acc)
    }

  /** C9 — sede classification: for UPS affiliations, first of
    * cuenca→1, quito→2, guayaquil→3 contained in the normalized text;
    * everything else (incl. all non-UPS affiliations) → 4 "Otra"
    * (PIPE:630-637: `sede_id = 4` default before the UPS city loop).
    */
  def sedeFromText(isUps: Column, normText: Column): Column =
    when(isUps && normText.contains("cuenca"), 1)
      .when(isUps && normText.contains("quito"), 2)
      .when(isUps && normText.contains("guayaquil"), 3)
      .otherwise(4)

  /** C12 — ORCID URL strip (PIPE:317). Unicode-aware trim: the
    * reference strips with Python `str.strip()`, which removes NBSP /
    * tab / CR too — Spark's `trim` only removes ASCII space.
    */
  def orcidBare(c: Column): Column =
    nullif(uniTrim(regexp_replace(c, "^https?://orcid\\.org/", "")),
      lit(""))

  /** C15 — ";"-packed keyword cell → trimmed, non-empty, lowercased array
    * (PIPE:436-437; str.strip-parity trim, so an NBSP-padded keyword
    * still dedups/joins against its clean spelling).
    */
  def keywordSplit(c: Column): Column =
    filter(transform(split(lower(c), ";"), x => uniTrim(x)), x => x =!= "")

  /** F4 — UPS membership predicate: normalized target substring of the
    * normalized affiliation (PIPE:20-21,625-629). With
    * `useVariants=true`, the reference's variant list is ORed in
    * (PIPE:30-35; default off there too). The variants are matched as
    * the reference does — raw, un-normalized — so the accented spelling
    * never fires against folded text (quirk preserved).
    */
  val UpsTargetNorm = "universidad politecnica salesiana"
  val UpsVariants: Seq[String] = Seq(
    "universidad politécnica salesiana",
    "universidad politecnica salesiana",
    "salesian polytechnic university")
  def isUps(normText: Column, useVariants: Boolean = false): Column = {
    val base = normText.contains(UpsTargetNorm)
    if (!useVariants) base
    else UpsVariants.map(v => normText.contains(v)).foldLeft(base)(_ || _)
  }
}
