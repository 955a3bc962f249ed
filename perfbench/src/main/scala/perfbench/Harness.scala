package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, PlanCache, SparkEntry}
import graft.functions.{Retain, RetainGrad}

/** Closed-loop benchmark driver for one workload in one fresh JVM.
  *
  * Builds the engine's session, warms it the way `graft.Bench` does,
  * then runs passes over the workload's queries until `--seconds` have
  * gone by (at least `--min-passes`). Each pass runs every query once;
  * the next query starts only after every row of the previous result
  * has been collected. Pass 1 runs in the cold session in the listed
  * order, so its wall time compares like with like across seeds; later
  * passes reuse the warm session in orders drawn from `--seed`.
  *
  * With `--trace 1` the harness also registers its listeners, splits
  * each query into `registry.build` / `catalyst.plan` / `exec.action`
  * spans, and times the RETAIN kernels directly. The raw record goes to
  * `--out` as JSON; `run.py` turns it into metrics.
  */
object Harness {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, queries: Seq[String], minPasses: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"), m("queries").split(",").toSeq.filter(_.nonEmpty),
      m.getOrElse("min-passes", "2").toInt)
  }

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanoTime resolution, comparable with the
    * millisecond timestamps Spark puts on listener events. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Session build plus the warm-up `graft.Bench` runs before its first
    * query. Records the seconds of each step in `steps`. */
  def setUp(data: String, steps: mutable.LinkedHashMap[String, Double]): SparkSession = {
    def step[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally steps(name) = (System.nanoTime() - t0) / 1e9
    }
    val spark = step("session")(GraftSession.build("perfbench"))
    step("tables") {
      spark.range(1000).selectExpr("sum(id)").collect()
      for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"))
        spark.read.parquet(s"$data/$t.parquet").count()
    }
    step("streaming")(graft.streaming.Streaming.warm(spark, data))
    spark
  }

  /** Median microseconds per row of `f` over `rows` rows, in five timed
    * batches after two untimed ones. */
  def perRowUs(rows: Int)(f: Int => Double): Double = {
    var sink = 0.0
    val ts = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows) { sink += f(i); i += 1 }
      (System.nanoTime() - t0) / 1e3 / rows
    }.drop(2).sorted
    if (sink.isNaN) println("perfbench: NaN kernel output")
    ts(ts.size / 2)
  }

  /** Direct calls into the RETAIN forward pass and its per-row gradient
    * on seeded [T][F] rows (the engine's kernel shape, 11 x 5). */
  def kernels(seed: Long): Map[String, Double] = {
    val rng = new scala.util.Random(seed)
    val n = 2048
    val xs = Array.fill(n)(Array.fill(Retain.T, Retain.F)(rng.nextGaussian()))
    val ys = Array.fill(n)(Array.fill(RetainGrad.K)(if (rng.nextBoolean()) 1.0 else 0.0))
    val w = Retain.defaultWeights
    val scale = Array.fill(RetainGrad.K)(1.0)
    val acc = new Array[Double](RetainGrad.Dim + 1 + RetainGrad.K)
    Map(
      "kernels.retain_forward_us" -> perRowUs(n)(i => Retain.forward(w, xs(i))._1(0)),
      "kernels.retain_grad_us" -> perRowUs(n)(i => RetainGrad.rowGrad(w, xs(i), ys(i), scale, acc)))
  }

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // Set-up runs from process start until the first query is ready.
    val steps = mutable.LinkedHashMap("jvm" -> (System.currentTimeMillis() - jvmStart) / 1e3)
    val fns = {
      val t0 = System.nanoTime()
      try a.queries.map(q => q -> SparkEntry.queries.getOrElse(q,
        throw new IllegalArgumentException(s"query $q is not registered"))).toMap
      finally steps("registry") = (System.nanoTime() - t0) / 1e9
    }
    val spark = setUp(a.data, steps)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val probe = new Probe
    if (a.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      spark.streams.addListener(probe.streams)
      BusDrain(spark.sparkContext)
      probe.end()
    }

    val rng = new scala.util.Random(a.seed)
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val runStart = System.nanoTime()
    var pass = 0
    while (pass < a.minPasses || (System.nanoTime() - runStart) / 1e9 < a.seconds) {
      pass += 1
      val order = if (pass == 1) a.queries else rng.shuffle(a.queries)
      val gc0 = gcMs()
      val passStart = nowMs()
      for (q <- order) {
        val keys0 = if (a.trace) PlanCache.keys else Set.empty[String]
        probe.begin()
        val t0 = nowMs()
        var t1, t2, t3 = Double.NaN
        var rows = -1
        var digest: String = null
        var error: String = null
        try {
          val df = fns(q)(spark, a.data)
          t1 = nowMs()
          df.queryExecution.executedPlan
          t2 = nowMs()
          val result = df.collect()
          t3 = nowMs()
          rows = result.length
          digest = Digest.of(
            df.schema.fields.map(f => f.name + ":" + f.dataType.catalogString).mkString(","),
            result.iterator)
        } catch {
          case e: Throwable if scala.util.control.NonFatal(e) =>
            t3 = nowMs()
            error = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.find(_.trim.nonEmpty).getOrElse(e.getClass.getName)
            System.err.println(s"perfbench: FAILED $q (pass $pass): $error")
        }
        // a phase the query never reached has no end time
        def end(t: Double): Any = if (t.isNaN) null else t
        val rec = mutable.LinkedHashMap[String, Any](
          "pass" -> pass, "query" -> q, "start_ms" -> t0, "build_end_ms" -> end(t1),
          "plan_end_ms" -> end(t2), "end_ms" -> t3, "rows" -> rows, "digest" -> digest,
          "error" -> error)
        if (a.trace) {
          BusDrain(spark.sparkContext)
          val c = probe.end()
          val keys1 = PlanCache.keys
          rec("counters") = Counters.Keys.map(k => k -> c.n.getOrElse(k, 0L)).toMap
          rec("jobs") = c.jobs.map(_.toSeq)
          rec("batches") = c.batches.map(_.toSeq)
          rec("plancache_builds") = (keys1 -- keys0).size
        }
        execs += rec.toMap
      }
      val p = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "start_ms" -> passStart, "end_ms" -> nowMs(),
        "gc_ms" -> (gcMs() - gc0))
      if (a.trace) {
        p("plancache_entries") = PlanCache.keys.size
        p("plancache_storage_bytes") = storageBytes(spark)
      }
      passes += p.toMap
    }
    val measuredS = (System.nanoTime() - runStart) / 1e9

    val kern = if (a.trace) kernels(a.seed) else Map.empty[String, Double]
    // Full GCs until the used heap stops shrinking: Spark's ContextCleaner
    // and reference processing free more after the first collection.
    var heapMb = Double.MaxValue
    var shrinking = true
    while (shrinking) {
      System.gc()
      Thread.sleep(200)
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      shrinking = used < heapMb - 1.0
      heapMb = math.min(heapMb, used)
    }
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setupS, "setup_steps_s" -> steps, "measured_s" -> measuredS,
      "heap_retained_mb" -> heapMb, "kernels" -> kern,
      "passes" -> passes.toSeq, "executions" -> execs.toSeq,
      "cores" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    Files.write(Paths.get(a.out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    sys.exit(0)
  }
}
