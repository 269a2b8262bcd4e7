package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured: every main, the test
  * session and library users build through [[GraftSession.builder]].
  *
  *   val spark = GraftSession.builder().master("local[*]").getOrCreate()
  *
  * installs the native SQL functions (simhash, min_rolling_hash,
  * long_dot, srp_bits, ...), the RangeJoinRewrite optimizer rule, the
  * TopKPerKey planner strategy and the VERSION AS OF parser
  * ([[graft.functions.GraftExtensions]]) — the same wiring a cluster gets
  * from `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  * They are installed once, when the session is built; query builders
  * never add planner pieces to a live session.
  *
  * UTC session time keeps timestamp semantics identical to the oracle-
  * checked test matrix; AQE stays on for runtime coalescing/skew
  * handling. AQE is NOT allowed to re-size cached plan output
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` keeps
  * Spark's default, false): the flag sped up the ingest-door family
  * (OPTIMIZATION_r18.md) but it changes the jobs and tasks of every sync
  * over a persisted staged frame, and on a shared 4-core host it made
  * the CDC trickle's per-sync latency spread several times wider from run
  * to run. Shuffle partitioning is deliberately NOT pinned here — size it
  * to the deployment (cores locally, data volume on a cluster).
  *
  * Artifact isolation is off (`spark.sql.artifact.isolation.enabled`).
  * Spark runs each StreamingQuery in a clone of the session, and every
  * `Pipeline.syncAvailable` starts a new query. With isolation on, each
  * clone gets its own executor classloader, and the codegen cache is keyed
  * by (classloader, code), so every sync missed the cache and recompiled
  * its whole plan set: 48-55 compiles per steady merge-on-read trickle
  * sync (perfbench `cdc_trickle`). With one shared loader the same sync
  * compiles 10 classes, the ones whose code inlines a changing literal.
  * No graft code adds session-scoped jars, files or classes
  * (`SessionFactorySpec` guards it), so no session can see another's.
  * The setting is read only when a session is created; clones copy it.
  */
object GraftSession {
  def builder(): SparkSession.Builder = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.artifact.isolation.enabled", "false")

  /** Runs `body` with one session conf key set, then puts back what the
    * caller had: its earlier explicit value, or no setting at all. */
  def withConf[A](spark: SparkSession, setting: (String, String))(body: => A): A = {
    val (key, value) = setting
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
