package graft
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the three driver-facing entry points (Verify,
  * Bench, RunOne). Each used to carry its own copy of the session
  * config block and the JSON string escaper, and the copies drifted
  * (the Locale.ROOT number-format fix landed in Bench only); this
  * object now owns the driver contract so the three mains cannot
  * diverge again.
  */
object EntryKit {

  /** Capacity of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One pass of
    * the graded suite plus one pipeline run compiles 2,916 distinct
    * classes, and each further suite pass about 330 new ones whose code
    * embeds per-run values (BUILD_NOTES, "Hard-won environment facts").
    * At 100 every repeated query and pipeline stage recompiled its
    * classes with Janino. A static conf: `CodeGenerator` sizes its
    * cache once per JVM, from the session that first generates code.
    */
  val CodegenCacheEntries: Int = 8192

  /** The driver-contract SparkSession builder: local[cpus] with
    * shuffle.partitions = cpus (32 on the driver's host), UTC session
    * time zone, parquet nanos-as-long, UI off, a codegen cache of
    * [[CodegenCacheEntries]], and the Graft engine
    * extensions (vec_dot / word_shingles SQL functions, VecDotRewrite,
    * and the result-identical rollup-explode collapse). Returned as a
    * builder so callers can layer dev-only extras (Bench's
    * SPARK_GRAFT_BENCH_CONF A/B knob) before `getOrCreate`.
    */
  def sessionBuilder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toLong)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.graft.collapseRollupExplode", "true")
      .config("spark.graft.vecDotRewrite.assumeNoNullElements", "true")
  }

  /** Build the contract session and quiet the log noise. */
  def session(builder: SparkSession.Builder = sessionBuilder())
      : SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * break the driver's json.load and silently zero the round's
    * correctness result.
    */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Locale-independent 3-decimal number: a comma-decimal default
    * locale (de_DE, fr_FR) would make every bench number invalid JSON
    * and lose the round's result at the driver's json.load.
    */
  def fmt3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** The full oracle map as deterministic (name-sorted) JSON — the
    * exact bytes both Verify and RunOne write as oracle_sql.json.
    */
  def oracleSqlJson: String =
    SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonEscape(k) + ": " + jsonEscape(v) }
      .mkString("{", ",\n", "}")
}
