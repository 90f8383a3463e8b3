package graft

import org.apache.spark.sql.SparkSession

/** Shared engine session defaults — ONE config surface for every
  * entrypoint (Bench, Verify, the CLI jobs), so an engine-level decision
  * is never accidentally a bench-session-only decision.
  *
  * The two optimizer-cost knobs below are ENGINE decisions, not bench
  * tricks, and both are results-neutral (the full DuckDB oracle stays
  * green with either setting — re-verified after they moved here):
  *
  *  - `spark.sql.constraintPropagation.enabled=false`: gates constraint
  *    COLLECTION (InferFiltersFromConstraints and friends) — a planning
  *    pass that is superlinear in plan width and runs serially on the
  *    driver per query. This engine's joins key on engineered non-null
  *    ids and every null-sensitive filter is written explicitly in the
  *    queries, so the pass has nothing load-bearing to add; the
  *    133/134-column MLS plans measured 11-24% faster with it off. The
  *    232-plan corpus diff (plans/r20/constraint_prop_plan_audit.md):
  *    no scan loses an EXPLICIT pushed filter with it off; 64 queries
  *    lose only inferred IsNotNull entries on engineered non-null id
  *    columns, which select nothing here (oracle-certified identical).
  *  - `spark.sql.codegen.cache.maxEntries=10000` (default 100): the
  *    engine ships ~300 distinct codegen units; any long-lived session
  *    running more than a handful of its operators cycles a 100-entry
  *    cache and recompiles Janino classes per query. Production-shaped
  *    sessions (one job per JVM, or a service keeping hot plans) never
  *    benefit from the eviction; 10k entries is a few hundred MB of
  *    class metadata at most.
  *
  * Both are constants here. `SPARK_GRAFT_SQL_CONF` applies arbitrary
  * `key=value;key=value` pairs for A/B experiments, after these defaults,
  * so either knob can still be flipped per run — a malformed token fails
  * LOUDLY (it is the A/B surface; a silently dropped key would fake a
  * negative result).
  */
object GraftSession {

  /** A builder with the shared engine defaults applied. Callers add
    * their entrypoint-specific configs (master, app name, shuffle
    * partitions, AQE) on top; `SPARK_GRAFT_SQL_CONF` is applied LAST so
    * an experiment can override anything. */
  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    applyEnvConf(b)
    b
  }

  /** Local task slots for the Bench, Verify and tool mains:
    * `SPARK_GRAFT_CPUS` when set, else the host's processor count, so the
    * default follows the machine it runs on. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(env: Option[String]): Int = {
    val n = env.fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)
    require(n > 0, s"SPARK_GRAFT_CPUS=$n must be positive")
    n
  }

  /** Apply the `SPARK_GRAFT_SQL_CONF` passthrough (semicolon-separated
    * `key=value` pairs) to `b`. A token without '=' throws — never
    * silently skipped. */
  private[graft] def applyEnvConf(b: SparkSession.Builder): Unit =
    sys.env.get("SPARK_GRAFT_SQL_CONF").foreach(_.split(";")
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => b.config(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SQL_CONF: malformed pair '$kv' (expected key=value)")
        }
      })
}
