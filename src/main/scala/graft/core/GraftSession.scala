package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine: the one place the engine's
  * Spark defaults live. Every main, tool and spec builds its session here.
  *
  * Defaults are tuned for the test harness (local[N], single JVM) but every
  * setting here is the one we'd also want on a real cluster:
  *   - AQE on: runtime re-planning (skew joins, partition coalescing) is the
  *     main defence at 100 TB where static stats are wrong.
  *   - shuffle.partitions defaults to the local core count instead of 200;
  *     on a cluster this would be set to ~2-3x total executor cores.
  *   - UTC session timezone: deterministic timestamp semantics across
  *     engines (our DuckDB oracle runs naive/UTC).
  *   - a codegen class cache sized to the catalog's working set (see
  *     [[CodegenCacheEntries]]), with class names that do not vary per run.
  *   - graft's SQL functions and planner strategies
  *     ([[graft.plans.GraftExtensions]]), installed once at build time.
  */
object GraftSession {

  /** Entries in Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Every query runs
    * as whole-stage generated code, and each distinct generated class costs
    * a Janino compile plus JIT work. One pass over the 250-query catalog
    * generates 3,548 distinct classes at sf0.001 and 3,537 at sf0.01; the
    * six bench queries alone generate 131. At 100 entries every class was
    * evicted before its reuse, so every repeated query recompiled all of
    * its code (7,900 compiles in a second catalog pass at sf0.001; 275
    * with this cache, 230 of them in the three streaming queries — see
    * [[local]]'s artifact-isolation setting for those). 4096 holds the
    * whole catalog for +24 MB of Metaspace (234 vs 210 MB after two
    * passes). The conf is static: Spark sizes the cache once, at the
    * JVM's first code generation, so it only takes effect when this
    * factory builds the JVM's first session. */
  val CodegenCacheEntries = 4096

  private val CpusVar = "SPARK_GRAFT_CPUS"

  def defaultCores: Int = coresOr(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_CPUS` when set, else `fallback`. */
  def coresOr(fallback: Int): Int = coresOr(sys.env.get(CpusVar), fallback)

  private[graft] def coresOr(setting: Option[String], fallback: Int): Int =
    setting.fold(fallback)(positiveSetting(CpusVar, _, Int.MaxValue).toInt)

  /** Parses a positive-integer setting; a bad value fails naming it. */
  private[graft] def positiveSetting(name: String, raw: String, max: Long): Long =
    raw.trim.toLongOption.filter(v => v > 0 && v <= max).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a positive integer (at most $max), got '$raw'"))

  def local(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Fixture events.parquet carries TIMESTAMP(NANOS) which Spark has no
      // native type for; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // The cache is keyed by generated source, and Spark names each
      // whole-stage class after its codegen stage id. Under AQE that id
      // comes from a per-thread counter that earlier re-planning advances,
      // so the same stage got a new id, and a recompile, on reruns (q85,
      // q77, q116). Unsuffixed names make the source independent of it.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Spark's cache key also holds the task thread's context class
      // loader. With artifact isolation on, every session's jobs carry its
      // session UUID, the executor keeps one class loader per UUID, and
      // each streaming query runs on a cloned session with a new UUID — so
      // every stream start recompiled (and re-JITted) all its executor-side
      // classes. graft adds no session artifacts (jars, files), so one
      // shared loader loses nothing, and a restarted stream compiles
      // nothing (CodegenCacheSpec).
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
