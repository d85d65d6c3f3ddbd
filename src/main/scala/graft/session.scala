package graft

import org.apache.spark.sql.SparkSession

/** Recommended SparkSession wiring for the validation engine at scale — the
  * configuration half of the north rule's "partitioning / shuffle / skew
  * handled explicitly":
  *
  *  - AQE on, with skew-join splitting and partition coalescing: a skewed
  *    `source` (or a hot duplicate key) gets its oversized shuffle partitions
  *    split at runtime instead of stalling one reducer. The engine also
  *    offers EXPLICIT salting (`Unique(salted = true)`) for adversarial skew
  *    that AQE's post-shuffle stats can't see (e.g. a single key > one
  *    partition even after splitting).
  *  - shuffle partition count sized by the caller (≈ 2-3× total cores on a
  *    real cluster; AQE coalesces the excess).
  *  - RocksDB state store for streaming state (duplicateKeysStream's
  *    per-key map at 10^9+ keys must not live on the JVM heap).
  *
  * These are DEFAULTS, not requirements — every engine API takes plain
  * DataFrames and works on any session.
  */
object GraftSession {

  /** Apply the recommended configs to a builder (local or cluster). */
  def tuned(builder: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    builder
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.session.timeZone", "UTC")

  /** The environment variable that overrides [[local]]'s master URL. */
  private[graft] val MasterEnv = "SPARK_GRAFT_MASTER"

  /** The master URL [[local]] uses, and whether `env` overrode it: the
    * value of [[MasterEnv]] when set, else `local[cores]`. */
  private[graft] def selectMaster(cores: Int, env: collection.Map[String, String]): (String, Boolean) =
    env.get(MasterEnv).fold((s"local[$cores]", false))(m => (m, true))

  /** Logs a WARN naming `caller` when `spark` runs under a [[MasterEnv]]
    * override of `local[cores]`. Call it once the session exists: before
    * that, Spark has not loaded its log4j profile and the WARN is dropped. */
  private[graft] def warnIfOverridden(spark: SparkSession, cores: Int, caller: String): Unit =
    if (selectMaster(cores, sys.env)._2)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$caller: master '${spark.sparkContext.master}' from $MasterEnv replaces local[$cores]")

  /** Local development/test session at `cores` threads.
    *
    * SPARK_GRAFT_MASTER (optional) overrides the master URL so the SAME
    * mains can run under a real multi-JVM scheduler (e.g. spark-submit
    * --master local-cluster[2,4,4096]: separate executor processes, torrent
    * broadcast fetch, cross-process task/aggregate serialization) — the
    * default is the plain local[cores] the bench contract specifies. An
    * active override is logged at WARN, so a run under another master
    * says so. */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = tuned(SparkSession.builder().master(selectMaster(cores, sys.env)._1)
        .appName(appName), cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    warnIfOverridden(s, cores, "GraftSession.local")
    s
  }
}
