package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark plan builder plus (when SQL-expressible) the
  * ANSI-SQL oracle the driver runs in DuckDB over the same parquet tables.
  *
  * Determinism contract (SURVEY.md §5.2.1): every query ends in an
  * `orderBy` on a unique non-null key set, aliases every computed column
  * identically to the oracle, rounds floating aggregates, and never emits
  * raw timestamps (formatted strings / dates only) so the hash compare is
  * stable across engines.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}

/** Per-run scratch root for queries that must materialize intermediate
  * files (q205/q207/q223). Pid-suffixed so two concurrent verify/bench
  * runs on one box never clobber each other's data, yet STABLE within a
  * JVM so the oracle SQL strings (built at class-init) and the query
  * functions (run later) agree on the path — the driver's DuckDB reads
  * the files this JVM wrote, after it exits. Override with
  * -Dgraft.scratch for a fixed location.
  */
object Scratch {
  val root: String = sys.props.get("graft.scratch").getOrElse {
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    s"$tmp/graft_scratch_${ProcessHandle.current().pid()}"
  }
}

/** Idempotent per-(session, key) materialized intermediates.
  *
  * Queries that cache a small derived table (the causal daily grid, a
  * filtered purchase subset, an eval scoring pass) route it through this
  * registry: the first invocation for a (session, key) materializes the
  * build, every later invocation in the same session reuses the SAME
  * frame — bounded memory, and cross-query reuse for free when several
  * queries share an intermediate. Entries are keyed by session identity,
  * so a stopped session's entries are dead references whose blocks die
  * with the context.
  *
  * An entry keeps the ROWS, not the lineage. The build is materialized
  * eagerly, at the `cached(...)` call, as a local checkpoint stored at
  * MEMORY_AND_DISK; the entry holds the checkpointed frame, which
  * carries the build's statistics, output partitioning and ordering.
  * Nothing references the build's executed plan afterwards, so
  * `ContextCleaner` frees its broadcast relations and shuffle
  * dependencies. A persisted frame (`persist`) would instead keep the
  * executed plan reachable through `InMemoryRelation.cachedPlan` for
  * the session's lifetime — every broadcast hash relation under it pins
  * a full Tungsten page on the driver (the q452 consensus build alone
  * held ~17 × 32 MB pages for a few hundred rows).
  *
  * Trade-off: a local-checkpoint block has no lineage, so a LOST block
  * fails the reading query instead of recomputing. The engine only
  * runs `local[N]`, where the driver is the executor (no executor loss
  * drops blocks), and MEMORY_AND_DISK spills under memory pressure
  * rather than evicting.
  *
  * The map only holds per-key holders; the build job runs outside the
  * map's bin lock, so concurrent readouts on other keys never serialize
  * behind a build, and a build may itself resolve other entries. A
  * build that throws leaves no entry behind.
  */
object PlanCache {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.storage.StorageLevel

  /** One key's holder: the build thunk until first use, then the
    * checkpointed frame and the RDD whose blocks back it. */
  private final class Entry(private var build: () => DataFrame) {
    @volatile private var frame: DataFrame = _
    @volatile private var rdd: RDD[_] = _

    def get: DataFrame = {
      val f = frame
      if (f != null) f else synchronized {
        if (frame == null) {
          val cp = build().localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK)
          rdd = cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
            .getOrElse(sys.error("local checkpoint without a LogicalRDD"))
          frame = cp
          build = null // release whatever the thunk captured
        }
        frame
      }
    }

    /** Unpersist the checkpoint's blocks (blocking), after any build in
      * flight finishes. */
    def release(): Unit = synchronized {
      if (rdd != null) rdd.unpersist(blocking = true)
    }
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = s"${System.identityHashCode(s.sparkContext)}|$key"
    val e = entries.computeIfAbsent(k, _ => new Entry(() => build))
    try e.get
    catch { case t: Throwable => entries.remove(k, e); throw t }
  }

  /** Snapshot of the current cache keys — used by Bench's retime rule. */
  def keys: Set[String] = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.toSet
  }

  /** Drop specific entries and release their blocks. Bench's retime
    * rule calls this with the keys a query's FIRST timing created, so
    * the second timing re-measures the same cold work instead of
    * reading the first run's materialized subtree back out of the cache
    * (round 12: q363's committed 0.301 s was exactly that artifact — t1
    * 7.6 s built and persisted the fold-moment table, t2 0.3 s read it
    * back, and min(t1, t2) buried the real cost for five rounds).
    * `unpersist` on the checkpointed FRAME is a no-op (it is not in the
    * CacheManager), so the entry unpersists its backing RDD, blocking,
    * so the second timing cannot overlap the cleanup.
    */
  def drop(ks: Set[String]): Unit = ks.foreach { k =>
    Option(entries.remove(k)).foreach(_.release())
  }
}
