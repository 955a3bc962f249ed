package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration, so every entry point
  * (Verify, Bench, tests, and any driver-supplied session passed through
  * [[GraftSession.prepare]]) sees the same semantics.
  *
  * Conf choices, and why they hold at 100 TB:
  *  - `spark.sql.shuffle.partitions` = core count locally; on a real
  *    cluster AQE coalesces post-shuffle partitions anyway.
  *  - AQE on: runtime re-plan (skew-join splitting, shuffle coalescing)
  *    is the scale path for the skewed keys this engine's entity
  *    partitioning can hit.
  *  - UTC session timezone: the determinism contract with the DuckDB
  *    oracle (QueryDef scaladoc).
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the `events` table is
  *    parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
  *    this session-wide flag makes nanos columns read as raw longs and
  *    [[Tables.events]] rebuilds a micros timestamp. Session-wide is
  *    intentional and documented: every nanos-timestamp read in this
  *    engine goes through [[Tables]], which expects the long encoding.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Guard policy for the two by-contract-quadratic baselines (round 13,
    * VERDICT r12 #1). Default (false): above its ceiling, q62 routes to
    * the banded-minhash candidate path and q262 to the chunked SemDeDup
    * split — same output contract, pairs ⊆ the naive enumeration, and
    * the registry stays failure-free at every scale rung. Strict mode
    * (`SPARK_GRAFT_STRICT_GUARDS=1`) restores the loud refusal for
    * deployments that would rather fail than accept sub-unit recall.
    * The `graft.strictGuards` system property takes precedence over the
    * env var (round 14, ADVICE r13): props are the per-JVM override a
    * test can set and unset deterministically, while the env var is the
    * deployment-wide default a single process cannot change. */
  def strictGuards: Boolean =
    (sys.props.get("graft.strictGuards") orElse
      sys.env.get("SPARK_GRAFT_STRICT_GUARDS")).exists(v => v == "1" || v == "true")

  /** Surface an above-ceiling routing decision (round 14, ADVICE r13):
    * when q62/q262 take their approximate scale path, the output is the
    * reduced-recall variant while the registered SQL oracle still
    * describes the exact form — correctness runs never reach this scale,
    * but a scale-evidence run must RECORD that the approximate plan ran.
    * WARN level so it lands in driver logs at default verbosity. */
  def routedWarn(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger("graft.routing").warn(msg)

  /** Shuffle parallelism, separately overridable for scale-evidence
    * runs (round 10): at sf10 on one box, 32 partitions put ~50 MB+
    * through each reducer and spill; 64–128 keep partitions
    * memory-sized, and AQE coalesces whatever a small stage doesn't
    * need — the same sizing rule (`partitions ≈ data / target-partition
    * -bytes`, AQE trimming the excess) that holds on a real cluster. */
  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  /** Keep RocksDB's NATIVE logging out of the JVM (round 16, VERDICT
    * r15 #2): Spark's state-store `RocksDB.createLogger()` always
    * installs a JNI callback logger whose native `InfoLogLevel` follows
    * the slf4j level of the `...state.RocksDB` class — at the session's
    * root WARN level that is WARN_LEVEL, so every compaction/commit logs
    * through `LoggerJniCallback::Logv`, and that callback racing query
    * stop SIGSEGV'd a round-15 bench JVM (hs_err_pid5760: SEGV_MAPERR in
    * librocksdbjni Logv mid-`graft.Bench`). Pinning this one logger to
    * ERROR drops the native level to ERROR_LEVEL — the floor Spark sets
    * even when logging is OFF — so the callback essentially never fires.
    * Idempotent; called from every session entry point. */
  def quietRocksDbNativeLogger(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.RocksDB",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // non-log4j2 backend: nothing to pin

  /** Run `body` with session confs set, restoring every one (or
    * unsetting it, if it was unset) in a finally. Only confs read while
    * `body` runs take effect: a query that needs them at optimization
    * time must force its plan inside `body` (q255, q289). */
  def withConfs[A](s: SparkSession, confs: Seq[(String, String)])(body: => A): A = {
    val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Apply engine conf to an existing session (idempotent). */
  def prepare(spark: SparkSession): SparkSession = {
    quietRocksDbNativeLogger()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    spark
  }

  /** Build the engine's local session (Verify/Bench/tests). */
  def build(appName: String): SparkSession = {
    // Shuffle/spill files go to tmpfs: this box's block device is
    // burst-throttled (sustained suite runs exhaust IO credits and
    // random queries crawl 50-200x), while RAM is abundant. On a real
    // cluster the equivalent is local NVMe for spark.local.dir.
    val localDir = {
      val shm = new java.io.File("/dev/shm/graft-local")
      if (shm.isDirectory || shm.mkdirs()) shm.getAbsolutePath
      else System.getProperty("java.io.tmpdir")
    }
    val s = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE coalesce partitions INSIDE persisted plans (round 18).
      // This conf governs only InMemoryRelation plans, i.e. the plain
      // `.cache()`/`.persist()` sites: PlanCache entries are local
      // checkpoints, which AQE plans like any other action, so their
      // partitioning already comes out coalesced. Without it a cached
      // small artifact pins the static shuffle partition count
      // (profiled at 32 one-row tasks per downstream scan). Off by
      // default only because cached-plan output partitioning becomes
      // run-dependent, which nothing here relies on (guide §2.2: fewer,
      // larger reduce partitions via AQE).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // With parallelismFirst (default), AQE's coalesce target is
      // max(totalSize/parallelism, minPartitionSize). The 1 MB default
      // floor collapses mid-size cached artifacts (the ~10 MB edge /
      // journey / histogram-grid tables) to a handful of partitions and
      // serializes their compute-heavy consumers; 256k keeps sub-MB
      // artifacts at 1-2 partitions while totalSize/parallelism governs
      // anything big enough to want the cores. Scale-adaptive by
      // construction — the target derives from measured stage output,
      // not a constant tuned to this box.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.warehouse.dir", "target/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietRocksDbNativeLogger()
    s
  }
}
