package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.ParquetRead
import graft.Tables._

/** Graded queries: the reference's relational operator inventory (survey §2)
  * re-expressed over the driver's TESTDATA tables, each with a DuckDB oracle.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - every result has a total ORDER BY;
  *  - money aggregates go through decimal(18,2) (exact, order-independent)
  *    and are cast back to double at the end — bit-identical across engines;
  *  - column names are aliased identically on both sides.
  *
  * Scale notes (100 TB thinking): every query is a declarative plan —
  * filters/projections reach the parquet scan, small dims are broadcast,
  * aggregations are partial+final hash aggregates, no driver-side loops.
  */
object CoreQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** decimal-exact money sum cast back to double */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  val defs: Map[String, Q] = Map(
    // A1/A8 — grouped aggregation with partial+final hash agg (TPC-H Q1 shape).
    // Reference analog: per-work rollups PIPE:510-519.
    "q01_agg_sum" -> ((s, d) => {
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // decimal-routed like every other money/quantity sum (the
          // file-header discipline): a raw double sum is only exact
          // while l_quantity happens to be integral-valued
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A9 — dashboard "publications per year" analog (PIPE:531 / DASHPDF chart 1).
    "q02_pubs_per_year" -> ((s, d) => {
      orders(s, d)
        .groupBy(year(col("o_orderdate")).as("anio"))
        .agg(count(lit(1)).as("n_works"))
        .orderBy("anio")
    }),

    // A2/A4 — distinct-sorted-join string aggregation (the Vista_Analisis
    // collapse, PIPE:512-517): concat_ws("; ", array_sort(collect_set(...))).
    "q03_string_rollup" -> ((s, d) => {
      lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(concat_ws("; ", array_sort(collect_set(col("l_returnflag"))))
          .as("flags"))
        .orderBy("l_orderkey")
    }),

    // A3 — boolean any() flag per group (UPS_Flag, PIPE:518).
    "q04_any_flag" -> ((s, d) => {
      lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0))
          .as("has_return"))
        .orderBy("l_orderkey")
    }),

    // A5/F3 — key dedup (drop_duplicates, PIPE:484-488) as full distinct.
    "q05_distinct" -> ((s, d) => {
      lineitem(s, d)
        .select("l_orderkey", "l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_orderkey", "l_returnflag", "l_linestatus")
    }),

    // J1-J5 — the flat-view join chain (PIPE:506-509):
    // fact → dims with broadcast-eligible small sides.
    "q06_flat_join" -> ((s, d) => {
      val li = lineitem(s, d)
      val o = orders(s, d)
      val c = customer(s, d)
      val n = broadcast(nation(s, d))
      val r = broadcast(region(s, d))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    }),

    // F7/J11 — referential-integrity semi-join (PIPE:491-495).
    "q07_semi_join" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // S6/J10 — anti-join existence probe (PIPE:599-601) set-at-a-time.
    // Probe side is restricted to even custkeys: at every testdata SF
    // each customer has orders, so the unrestricted anti-join returned
    // 0 rows and an empty result matches an empty oracle no matter what
    // the operator does. Against even-key orders the anti-join must
    // return exactly the odd-key customers — non-empty, deterministic,
    // and wrong answers can no longer hide behind emptiness.
    "q08_anti_join" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d).filter(col("o_custkey") % 2 === 0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // J7 — theta-join on substring containment (keyword labeling,
    // PIPE:433-441) with a deterministic last-keyword-wins rule
    // (max priority). Keyword side is tiny → broadcast nested loop.
    "q09_theta_join" -> ((s, d) => {
      import s.implicits._
      val keywords = Seq(("widget", 1), ("bolt", 2), ("gear", 3),
        ("anvil", 4), ("plate", 5)).toDF("kw", "kw_priority")
      part(s, d)
        .join(broadcast(keywords), col("p_name").contains(col("kw")), "inner")
        .groupBy("p_partkey")
        .agg(max("kw_priority").as("label_id"))
        .orderBy("p_partkey")
    }),

    // J6 — UPSERT as one full-outer coalesce merge (catalog integration,
    // PIPE:417-428): "existing" = nations of regions 0-2, "updates" =
    // nations of regions 1-4 with a recomputed name.
    "q10_upsert_merge" -> ((s, d) => {
      val n = nation(s, d)
      val existing = n.filter(col("n_regionkey") <= 2)
        .select(col("n_nationkey").as("k"), col("n_name").as("old_name"))
      val updates = n.filter(col("n_regionkey") >= 1)
        .select(col("n_nationkey").as("k"),
          concat(col("n_name"), lit("_v2")).as("new_name"))
      existing.join(updates, Seq("k"), "full_outer")
        .select(col("k").as("n_nationkey"),
          coalesce(col("new_name"), col("old_name")).as("merged_name"))
        .orderBy("n_nationkey")
    }),

    // J8 — batch entity resolution with deterministic surrogate IDs:
    // group by natural key, first-non-null attribute, dense ids via
    // distributed sort+zipWithIndex (same values as a global row_number,
    // no single-partition stage; replaces the reference's row-at-a-time
    // upsert PIPE:312-340).
    "q11_entity_resolution" -> ((s, d) => {
      val byKey = customer(s, d)
        .groupBy(lower(col("c_name")).as("name_key"))
        .agg(min("c_mktsegment").as("segment"),
          count(lit(1)).as("n_records"))
      graft.etl.Entities
        .surrogateIdsDistributed(byKey, "name_key", "entity_id")
        .select("entity_id", "name_key", "segment", "n_records")
        .orderBy("entity_id")
    }),

    // E1-E4 — explode/un-nest (author/subject un-nesting PIPE:611-696):
    // split + explode, then re-aggregate.
    "q12_explode_split" -> ((s, d) => {
      part(s, d)
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy("word")
    }),

    // F8 — limit / top-k with deterministic tiebreak (MAX_WORKS guard
    // PIPE:27; top-k = orderBy+limit, TakeOrderedAndProject physically).
    "q13_topk" -> ((s, d) => {
      orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // §2.6 — window functions: surrogate ranking per partition
    // (the engine's replacement for AUTOINCREMENT id assignment).
    "q14_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey")
        .orderBy("o_custkey", "rn")
    }),

    // C1(builtin part)/C2 — whitespace-collapse + trim + lower over text
    // (the codegen'd subset of norm_text; Unicode part is UDF-only and
    // covered by unit tests).
    "q15_text_norm" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.DigestFunctions.fastMd5(
            lower(trim(regexp_replace(col("text"), "\\s+", " "))))
            .as("norm_hash"))
        .orderBy("doc_id")
    }),

    // C3 — DOI standardization (prefix strip + lower, PIPE:115-122) applied
    // to synthesized DOI-shaped strings.
    "q16_doi_standardize" -> ((s, d) => {
      import graft.norm.Normalize
      documents(s, d)
        .select(col("doc_id"),
          concat(lit("https://doi.org/10."), col("doc_id"), lit("/UPS."),
            upper(col("source"))).as("raw_doi"))
        .select(col("doc_id"),
          Normalize.standardizeDoi(col("raw_doi")).as("doi"))
        .orderBy("doc_id")
    }),

    // C4/C5/F6 — guarded year extraction + date reconstruction.
    "q17_date_extract" -> ((s, d) => {
      orders(s, d)
        .select(col("o_orderkey"),
          when(year(col("o_orderdate")).between(1600, 2100),
            year(col("o_orderdate"))).as("anio"),
          make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1))
            .as("month_start"))
        .orderBy("o_orderkey")
    }),

    // C8 — ordered regex CASE chain (country detection PIPE:167-195)
    // over document text; first pattern wins.
    "q18_regex_case" -> ((s, d) => {
      val pats = Seq("spark" -> "SP", "window" -> "WI", "stream" -> "ST",
        "vector" -> "VE", "hash" -> "HA")
      val code = pats.foldRight(lit("XX")) { case ((p, c), acc) =>
        when(col("text").rlike(s"\\b($p)\\b"), lit(c)).otherwise(acc)
      }
      documents(s, d)
        .select(code.as("code"))
        .groupBy("code").agg(count(lit(1)).as("n"))
        .orderBy("code")
    }),

    // A10/E4 — the dashboard round-trip: collapse to "; "-joined string,
    // then explode it back and count (PIPE:512-517 + DASHPDF chart 2).
    "q19_rollup_explode" -> ((s, d) => {
      lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(concat_ws("; ", array_sort(collect_set(col("l_returnflag"))))
          .as("flags"))
        .select(explode(split(col("flags"), "; ")).as("flag"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("flag")
    }),

    // A12 — sticky-flag recompute: once-true-stays-true + first-non-null
    // per key, as order-independent aggregates (PIPE:362-372).
    "q20_sticky_flags" -> ((s, d) => {
      customer(s, d)
        .groupBy("c_nationkey")
        .agg(
          max(when(col("c_mktsegment") === "BUILDING", 1).otherwise(0))
            .as("has_building"),
          dsum(col("c_acctbal")).as("total_bal"),
          count(lit(1)).as("n_customers"))
        .orderBy("c_nationkey")
    }),

    // C1/C2/C3 over the FULL Unicode differential corpus: the committed
    // fixture parquet holds 843 (input, expected) pairs generated from
    // the reference's own Python functions (tools/gen_norm_fixture.py) —
    // entities, combining marks (incl. ccc=0 matras that must survive
    // the fold), fullwidth, final-sigma contexts, CJK. The engine
    // recomputes nfc/key/doi from `input`; the oracle reads the expected
    // columns — a hash match means byte-for-byte parity on every case,
    // visible to the driver (not just to unit tests).
    "q47_norm_unicode" -> ((s, d) => {
      ParquetRead(s, NormFixturePath)
        .select(col("id"),
          graft.norm.Normalize.normNfc(col("input")).as("nfc"),
          graft.norm.Normalize.normKey(col("input")).as("key"),
          graft.norm.Normalize.standardizeDoi(col("input")).as("doi"))
        .orderBy("id")
    }),
  )

  /** Committed differential-fixture parquet (golden pairs from the
    * reference implementation; see tools/gen_norm_fixture.py). Resolution
    * order: `graft.normFixture` system property, `GRAFT_NORM_FIXTURE` env
    * var, the checkout-relative path (any clone location works when the
    * working directory is the repo root), then the canonical container
    * path as the last-resort fallback for driver processes running from
    * elsewhere.
    */
  val NormFixturePath: String = {
    val rel = new java.io.File("data/norm_fixture.parquet")
    sys.props.get("graft.normFixture")
      .orElse(sys.env.get("GRAFT_NORM_FIXTURE"))
      .orElse(if (rel.isFile) Some(rel.getAbsolutePath) else None)
      .getOrElse("/root/repo/data/norm_fixture.parquet")
  }

  val oracles: Map[String, String] = Map(
    "q01_agg_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_price,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |    (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))) AS double) AS sum_disc_price,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_pubs_per_year" ->
      """SELECT year(o_orderdate) AS anio, count(*) AS n_works
        |FROM orders GROUP BY 1 ORDER BY anio""".stripMargin,

    "q03_string_rollup" ->
      """SELECT l_orderkey,
        |  string_agg(DISTINCT l_returnflag, '; ' ORDER BY l_returnflag) AS flags
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q04_any_flag" ->
      """SELECT l_orderkey,
        |  max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q05_distinct" ->
      """SELECT DISTINCT l_orderkey, l_returnflag, l_linestatus
        |FROM lineitem
        |ORDER BY l_orderkey, l_returnflag, l_linestatus""".stripMargin,

    "q06_flat_join" ->
      """SELECT r_name, n_name,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |    (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q07_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_custkey % 2 = 0)
        |ORDER BY c_custkey""".stripMargin,

    "q09_theta_join" ->
      """SELECT p_partkey, max(kw_priority) AS label_id
        |FROM part
        |JOIN (VALUES ('widget',1),('bolt',2),('gear',3),('anvil',4),('plate',5))
        |  AS kws(kw, kw_priority)
        |ON p_name LIKE '%' || kw || '%'
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,

    "q10_upsert_merge" ->
      """SELECT coalesce(u.k, e.k) AS n_nationkey,
        |  coalesce(u.new_name, e.old_name) AS merged_name
        |FROM (SELECT n_nationkey AS k, n_name AS old_name FROM nation
        |      WHERE n_regionkey <= 2) e
        |FULL OUTER JOIN
        |     (SELECT n_nationkey AS k, n_name || '_v2' AS new_name FROM nation
        |      WHERE n_regionkey >= 1) u
        |ON e.k = u.k
        |ORDER BY n_nationkey""".stripMargin,

    "q11_entity_resolution" ->
      """WITH by_key AS (
        |  SELECT lower(c_name) AS name_key, min(c_mktsegment) AS segment,
        |    count(*) AS n_records
        |  FROM customer GROUP BY 1)
        |SELECT row_number() OVER (ORDER BY name_key) AS entity_id,
        |  name_key, segment, n_records
        |FROM by_key ORDER BY entity_id""".stripMargin,

    "q12_explode_split" ->
      """SELECT word, count(*) AS n FROM
        |  (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY word""".stripMargin,

    "q13_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q14_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q15_text_norm" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q16_doi_standardize" ->
      """SELECT doc_id,
        |  lower(trim(regexp_replace(
        |    trim('https://doi.org/10.' || doc_id || '/UPS.' || upper(source)),
        |    '^(https?://(dx\.)?doi\.org/|doi:\s*)', '', 'i'))) AS doi
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q17_date_extract" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) BETWEEN 1600 AND 2100
        |       THEN year(o_orderdate) END AS anio,
        |  make_date(year(o_orderdate), month(o_orderdate), 1) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q18_regex_case" ->
      """SELECT code, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN regexp_matches(text, '\b(spark)\b') THEN 'SP'
        |    WHEN regexp_matches(text, '\b(window)\b') THEN 'WI'
        |    WHEN regexp_matches(text, '\b(stream)\b') THEN 'ST'
        |    WHEN regexp_matches(text, '\b(vector)\b') THEN 'VE'
        |    WHEN regexp_matches(text, '\b(hash)\b') THEN 'HA'
        |    ELSE 'XX' END AS code
        |  FROM documents) t
        |GROUP BY code ORDER BY code""".stripMargin,

    "q19_rollup_explode" ->
      """SELECT flag, count(*) AS n_orders FROM (
        |  SELECT unnest(string_split(flags, '; ')) AS flag FROM (
        |    SELECT string_agg(DISTINCT l_returnflag, '; ' ORDER BY l_returnflag)
        |      AS flags
        |    FROM lineitem GROUP BY l_orderkey))
        |GROUP BY flag ORDER BY flag""".stripMargin,

    "q20_sticky_flags" ->
      """SELECT c_nationkey,
        |  max(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
        |    AS has_building,
        |  cast(sum(cast(c_acctbal AS decimal(18,2))) AS double) AS total_bal,
        |  count(*) AS n_customers
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // The oracle reads the EXPECTED columns of the committed fixture —
    // generated from the reference's Python functions — while the Spark
    // query recomputes them from `input`; value-hash equality is the
    // full-Unicode parity claim.
    "q47_norm_unicode" ->
      s"""SELECT id, nfc, key, doi FROM '$NormFixturePath'
         |ORDER BY id""".stripMargin,
  )
}
