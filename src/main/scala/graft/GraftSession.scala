package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's Spark configuration posture, local and
  * cluster. Catalyst + AQE plan the whole catalog (SURVEY.md §7.3); the
  * one extension, [[GraftExtensions]], only registers the library's
  * native expressions as SQL functions — it adds no planner rules.
  *
  * The cluster rationale, per conf:
  *  - AQE on (default since 3.2) with `skewJoin` — fact-fact joins
  *    (lineitem⋈orders shapes) get runtime re-planning and skew-split;
  *    `coalescePartitions` folds the post-shuffle tail so a 32-way
  *    local run and a 2000-way cluster run use the same code.
  *  - `shuffle.partitions` is the ONE knob that must track deployment:
  *    ~2-3× total executor cores (32 locally; thousands on the 100 TB
  *    cluster). Passed in, never hardcoded in operators.
  *  - `files.maxPartitionBytes` at its 128 MB default balances scan
  *    parallelism vs per-task overhead for the parquet sources; raise
  *    only with fast object storage and large row groups.
  *  - UTC session timezone: every date/timestamp computation in the
  *    catalog (and its DuckDB oracle) assumes it.
  *  - `codegen.cache.maxEntries` = 1024 (Spark's default is 100). It is
  *    a static conf: the JVM-wide cache of Janino-compiled classes is
  *    sized once, by the first session that generates code, so only
  *    this builder may set it. Each entry is keyed by (the thread's
  *    context class loader, the generated source), and the cap is split
  *    over 4 Guava segments that evict on their own (25 entries each at
  *    the default). A whole-stage body compiled on the driver while
  *    planning and again in the executor's task threads, whose loader
  *    differs, takes two entries (x03's 38 bodies take 58). Measured at
  *    sf0.01 on Spark 4.1.2: at the default, every pass of
  *    pipeline_graph's three queries (x03, d09, d02) recompiled 57–77
  *    classes (1.2–1.5 s of Janino time); v18 (139 keys) and v30 (129)
  *    overflow it alone; one pass of the 210-query catalog compiles
  *    3,480 classes into about 2,000 entries. 4096 would hold a whole
  *    pass, but with it Tier-1's peak RSS rose 15% (5,250 → 6,033 MB;
  *    Bench's 2.9%), so the cap is 1024: over 7× the largest query's
  *    working set, so a query's repeats and pipeline_graph's passes
  *    reuse their classes, while a full catalog pass still evicts the
  *    oldest.
  *  - `artifact.isolation.enabled` off: with it on, each streaming
  *    query runs in a cloned session whose tasks get a new executor
  *    class loader, so every start of a streamed query compiled all its
  *    generated classes again under new cache keys (v12: 22 per run,
  *    0 with it off), and the entries under a finished query's loader
  *    never hit again. The engine adds no per-session jars or files.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Local harness session (Verify/Bench): `cpus` threads, one shuffle
    * partition per thread. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The one owner of scoped runtime-conf overrides: sets each
    * `key -> value`, runs `body`, then puts every key back as it was —
    * its old value, or unset if the session had not set it (a
    * registered default that `getOption` would read does not count as
    * set) — whether `body` returns or throws. The override is visible
    * to the whole session while `body` runs, so callers run their
    * queries sequentially. Replays stay in the shared session rather
    * than `spark.newSession()`: a child session's streaming events
    * never reach listeners registered on the parent's `spark.streams`. */
  def withConf[A](spark: SparkSession)(overrides: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val set = conf.getAll // explicitly set keys only, no defaults
    val saved = overrides.map { case (k, _) => k -> set.get(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
