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
