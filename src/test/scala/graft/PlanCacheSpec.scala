package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** PlanCache's contract: one materialization per (session, key), the
  * rows kept and the building plan let go, `drop` really releasing an
  * entry, and builds that never hold up other keys. The memory facts are
  * asserted on block state, not on timings.
  */
class PlanCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("plancache-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
      .getOrElse(fail("a PlanCache entry must be a checkpointed frame"))

  test("an entry is built once per (session, key) and reused") {
    var builds = 0
    def entry() = PlanCache.cached(spark, "spec_once") {
      builds += 1
      spark.range(100).toDF("id")
    }
    val a = entry()
    val b = entry()
    assert(builds === 1)
    assert(a eq b)
    assert(a.count() === 100)
  }

  test("drop unpersists the entry's blocks and the next use rebuilds") {
    var builds = 0
    def entry() = PlanCache.cached(spark, "spec_drop") {
      builds += 1
      spark.range(1000).selectExpr("id", "id * 2 AS v")
    }
    val before = PlanCache.keys
    val id = rddId(entry())
    val mine = PlanCache.keys -- before
    assert(mine.size === 1)
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(sc)
    assert(sc.getRDDStorageInfo.exists(i => i.id == id && i.numCachedPartitions > 0),
      "the entry's checkpoint holds no blocks before drop")
    PlanCache.drop(mine)
    assert(!sc.getRDDStorageInfo.exists(_.id == id),
      s"blocks of the dropped entry remain: ${sc.getRDDStorageInfo.filter(_.id == id).toSeq}")
    assert((PlanCache.keys & mine).isEmpty)
    assert(entry().count() === 1000)
    assert(builds === 2)
  }

  test("a build that throws leaves no entry behind") {
    val before = PlanCache.keys
    intercept[IllegalStateException] {
      PlanCache.cached(spark, "spec_fail")(throw new IllegalStateException("refused"))
    }
    assert(PlanCache.keys === before)
    assert(PlanCache.cached(spark, "spec_fail")(spark.range(3).toDF()).count() === 3)
  }

  test("a build in flight holds up neither other keys in its hash bin nor nested entries") {
    // keys whose ConcurrentHashMap hash matches the slow key's in the low
    // 12 bits share its bin at every table size up to 4096 — exactly the
    // keys a bin lock held through the build would serialize
    def spread(k: String) = { val h = k.hashCode; (h ^ (h >>> 16)) & 0xfff }
    val prefix = s"${System.identityHashCode(spark.sparkContext)}|"
    val slowKey = "spec_slow"
    val binMates = Iterator.from(0).map(i => s"spec_bin_$i")
      .filter(k => spread(prefix + k) == spread(prefix + slowKey)).take(3).toSeq
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val slow = Future {
      PlanCache.cached(spark, slowKey) {
        // a build may resolve other entries
        val inner = PlanCache.cached(spark, "spec_nested")(spark.range(5).toDF("id"))
        entered.countDown()
        release.await(120, TimeUnit.SECONDS)
        inner.selectExpr("id + 1 AS id")
      }
    }
    try {
      assert(entered.await(120, TimeUnit.SECONDS), "the slow build never started")
      val others = Future(binMates.map(k => PlanCache.cached(spark, k)(spark.range(2).toDF()).count()))
      assert(Await.result(others, 60.seconds) === Seq(2L, 2L, 2L))
    } finally release.countDown()
    assert(Await.result(slow, 120.seconds).count() === 5)
  }

  /** Run q452 and drop every reference to its result. */
  private def runConsensus(): Int =
    SparkEntry.queries("q452_causal_consensus")(spark, sf).collect().length

  test("q452 releases every broadcast block its builds created once it is done") {
    // each broadcast hash relation holds a full Tungsten page; a cache
    // entry that keeps its build's executed plan pins them for the
    // session. Track the broadcast pieces (the blocks reported to the
    // master) created while q452 runs and require that ContextCleaner
    // removes all of them after a GC.
    val stored = new ConcurrentHashMap[BroadcastBlockId, java.lang.Boolean]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case b: BroadcastBlockId => stored.put(b, e.blockUpdatedInfo.storageLevel.isValid)
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      assert(runConsensus() > 0)
      GraftBridge.drainListenerBus(sc)
      val created = stored.keySet.asScala.map(_.broadcastId).toSet
      assert(created.nonEmpty, "q452 created no broadcast blocks: the check would be vacuous")
      def held = stored.asScala.collect { case (b, live) if live => b }.toSeq
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (held.nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(500)
        GraftBridge.drainListenerBus(sc)
      }
      assert(held.isEmpty,
        s"${held.map(_.broadcastId).distinct.size} of ${created.size} broadcasts " +
          s"created by q452 are still stored after GC: ${held.take(10)}")
    } finally sc.removeSparkListener(listener)
  }
}
