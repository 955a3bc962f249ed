package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan assertions: the properties the 100 TB story depends on
  * (SURVEY.md §4.2/§7.3) are pinned here so a regression in plan shape
  * fails CI, not a cluster run — filters reach the parquet scan, scans
  * prune columns, star joins broadcast dimensions, the bucketed join
  * has no Exchange under it, and hot paths stay in whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.warehouse.dir", "target/graft-warehouse")
        .config("spark.ui.enabled", "false")
        .appName("plan-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  import PlanTestUtils.{allNodes, cachedReads, finalPlan}

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    allNodes(p).collect { case s: FileSourceScanExec => s }

  test("q02 predicates are pushed into the parquet scan") {
    val p = finalPlan(SparkEntry.queries("q02_filter_predicates")(spark, sf))
    val pushed = scans(p).map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(f => f != "[]" && f.nonEmpty), s"no pushed filters in: $pushed")
  }

  test("q01 scan prunes to the referenced lineitem columns only") {
    val p = finalPlan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    val widths = scans(p).map(_.requiredSchema.length)
    val full = Tables.lineitem(spark, sf).schema.length
    assert(widths.nonEmpty && widths.forall(_ < full),
      s"scan reads $widths of $full columns")
  }

  test("q08 star join broadcasts the dimension sides") {
    val p = finalPlan(SparkEntry.queries("q08_star_join")(spark, sf))
    val bhj = allNodes(p).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "expected BroadcastHashJoin for the dimensions")
  }

  test("q92 bucketed join has no shuffle below the sort-merge join") {
    val p = finalPlan(SparkEntry.queries("q92_bucketed_join")(spark, sf))
    val smj = allNodes(p).collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "expected a SortMergeJoin over the bucketed tables")
    val shuffled = smj.flatMap(allNodes).collect { case e: ShuffleExchangeExec => e }
    assert(shuffled.isEmpty, "bucketed join inputs must not re-shuffle")
  }

  test("hot aggregation path stays in whole-stage codegen") {
    val p = finalPlan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    val spans = allNodes(p).collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty, "expected WholeStageCodegen spans in the aggregate plan")
  }

  test("q112 join prunes fact partitions dynamically (DPP)") {
    val p = finalPlan(SparkEntry.queries("q112_dpp_join")(spark, sf))
    val factScans = scans(p).filter(_.metadata.getOrElse("Location", "").contains("events_part"))
    assert(factScans.nonEmpty, "expected a scan over the partitioned fact table")
    assert(factScans.exists(_.toString.toLowerCase.contains("dynamicpruning")),
      s"no dynamic pruning on the fact scan:\n${factScans.mkString("\n")}")
  }

  test("runtime bloom filter injects on a selective shuffle join") {
    // the runtime-filter sibling of DPP for non-partition keys: a bloom
    // filter built from the selective (dim) side is pushed into the
    // fact side's scan filter. Defaults only fire at real scale
    // (10 GB application-side scans), so pin the thresholds down and
    // force a shuffle join to exercise the mechanism.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = Tables.orders(spark, sf).where(col("o_totalprice") > 400000)
      val join = Tables.lineitem(spark, sf)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val s = allNodes(finalPlan(join)).mkString("\n")
      assert(s.contains("bloom_filter") || s.contains("BloomFilter"),
        "expected a runtime bloom filter on the fact side")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q115 SHUFFLE_HASH hint picks a shuffled hash join") {
    val p = finalPlan(SparkEntry.queries("q115_join_hints")(spark, sf))
    val shj = allNodes(p).collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.nonEmpty, "expected ShuffledHashJoin from the hint")
  }

  test("graft-series DSv2 connector prunes columns at the scan") {
    val df = spark.read.format("graft-series").load().select("day").distinct()
    val p = finalPlan(df)
    val v2 = allNodes(p).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(v2.nonEmpty, "expected a BatchScan over the custom source")
    assert(v2.head.scan.readSchema().fieldNames.toSeq === Seq("day"),
      s"scan should read only 'day', got ${v2.head.scan.readSchema()}")
  }

  test("graft-series DSv2 connector pushes user_id range filters") {
    val df = spark.read.format("graft-series").load()
      .where(col("user_id") >= 90 && col("user_id") < 95)
    assert(df.count() === 5 * 30) // 5 users x 30 days survive the clamp
    val v2 = allNodes(finalPlan(df)).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(v2.nonEmpty)
    assert(v2.head.scan.description().contains("users=[90,95)"),
      s"range not pushed into partition planning: ${v2.head.scan.description()}")
  }

  test("graft-series answers global count/min/max without generating rows") {
    val df = spark.read.format("graft-series")
      .option("users", "100").option("days", "30").load()
      .agg(expr("count(*)").as("n"), min(col("user_id")).as("mn"),
        max(col("day")).as("mx"))
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getInt(2)) === ((3000L, 0L, 29)))
    val v2 = allNodes(finalPlan(df)).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(v2.nonEmpty && v2.head.scan.description().contains("pushedAgg="),
      s"aggregation not pushed: ${v2.map(_.scan.description())}")
  }

  test("graft-series Long.MaxValue range bounds do not overflow") {
    // regression: `v + 1` in the pushed bounds wrapped to Long.MinValue
    // for v = Long.MaxValue, silently returning every row
    val base = spark.read.format("graft-series")
      .option("users", "10").option("days", "3").load()
    assert(base.where(col("user_id") > Long.MaxValue).count() === 0)
    assert(base.where(col("user_id") === Long.MaxValue).count() === 0)
    assert(base.where(col("user_id") <= Long.MaxValue).count() === 30)
  }

  test("graft-series with days=0 yields no rows on both scan paths") {
    // regression: the row reader's day-rollover used to emit one
    // phantom row per user; the pushed-aggregate path always said 0
    val df = spark.read.format("graft-series").option("days", "0").load()
    assert(df.count() === 0)          // aggregate-pushdown path
    assert(df.collect().isEmpty)      // row-generation path
  }

  test("AQE splits skewed join partitions at runtime") {
    // q93 shows MANUAL salting; this pins the automatic path — AQE's
    // OptimizeSkewedJoin splitting an oversized partition — with the
    // thresholds lowered to fire at test scale.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of fact rows share key 0 — one shuffle partition dwarfs the rest
      val fact = spark.range(200000)
        .select(when(col("id") % 20 === 0, col("id") % 100).otherwise(0L).as("k"),
          col("id").as("payload"))
      val dim = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
      // global aggregate only: a per-key groupBy above the join would
      // require hash distribution on k, and AQE refuses to split a
      // skewed partition when that breaks a downstream requirement
      val j = fact.join(dim, "k").agg(sum(col("payload")).as("s"))
      val plan = allNodes(finalPlan(j))
      val skewed = plan.collect {
        case s: SortMergeJoinExec if s.isSkewJoin => s
        case s: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec if s.isSkewJoin => s
      }
      assert(skewed.nonEmpty,
        s"expected a skew-optimized join, got:\n${plan.mkString("\n")}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q71 LSH pipeline is UDF-free (no non-codegen eval nodes)") {
    val p = finalPlan(SparkEntry.queries("q71_minhash_lsh")(spark, sf))
    val s = allNodes(p).mkString("\n")
    assert(!s.contains("BatchEvalPython") && !s.contains("ScalaUDF"),
      "banded MinHash must stay in native expressions")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // the flip side of the skew-split test: tiny shuffle output at a
    // high configured partition count must come back coalesced, so
    // 100 TB settings don't strand small stages in thousands of
    // no-op tasks
    val df = Tables.nation(spark, sf)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
    val reads = allNodes(finalPlan(df)).collect {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(reads.nonEmpty, "expected an AQE shuffle read")
    assert(reads.head.partitionSpecs.size < spark.conf
      .get("spark.sql.shuffle.partitions").toInt,
      s"expected coalesced partitions, got ${reads.head.partitionSpecs.size}")
  }

  test("REBALANCE hint plans a rebalance shuffle (skew-safe output sizing)") {
    // the write-path partner of AQE coalesce: REBALANCE lets AQE both
    // merge small and split large output partitions before a sink
    val df = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity").hint("rebalance")
    val ex = allNodes(finalPlan(df)).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.exists(_.shuffleOrigin.toString.startsWith("REBALANCE")),
      s"expected a REBALANCE-origin exchange, got ${ex.map(_.shuffleOrigin)}")
  }

  test("window then aggregate on the same key reuse one exchange") {
    // the partitioning-reuse property every per-entity pipeline leans
    // on at 100 TB: a window over user_id followed by a groupBy on
    // user_id must NOT shuffle twice — the window's hash partitioning
    // already satisfies the aggregate's required distribution
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val df = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id").agg(max(col("rn")).as("n"), sum(col("value")).as("v"))
    val shuffles = allNodes(finalPlan(df)).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(shuffles.size == 1,
      s"expected one exchange reused by window+agg, got ${shuffles.size}")
  }

  test("q178 BM25 term frequencies stay map-side (no Generate, one shuffle)") {
    // the whole point of the array-filter tf form: no token explode
    // reaches the plan, and the only shuffle is the global stats
    // aggregate (top-10 plans as TakeOrderedAndProject, not a sort
    // exchange)
    val plan = finalPlan(SparkEntry.queries("q178_bm25_rank")(spark, sf))
    val nodes = allNodes(plan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.GenerateExec]),
      "BM25 must not explode tokens")
    val shuffles = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"expected <=1 shuffle, got ${shuffles.size}")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-10 should plan as TakeOrderedAndProject")
  }

  test("q185 PQ encode is join-free (codebooks are literals)") {
    val plan = finalPlan(SparkEntry.queries("q185_pq_encode")(spark, sf))
    val nodes = allNodes(plan)
    val joins = nodes.filter(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins.isEmpty, s"expected no joins, got ${joins.map(_.nodeName)}")
  }

  test("q194 point-in-time union join plans zero join nodes") {
    // the union+window form replaces the interval join: a single
    // user_id window shuffle, no BNLJ/cartesian anywhere
    val plan = finalPlan(SparkEntry.queries("q194_pit_union_join")(spark, sf))
    val nodes = allNodes(plan)
    val joins = nodes.filter(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
    assert(joins.isEmpty, s"expected no joins, got ${joins.map(_.nodeName)}")
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "expected the carry window")
  }

  test("q187 WITH-TIES top-k: one group shuffle, window reuses the TopK partitioning") {
    // TopKPerGroupExec propagates its child partitioning, so the rank
    // window over the k-bounded survivors must NOT re-Exchange
    val plan = finalPlan(SparkEntry.queries("q187_topk_with_ties")(spark, sf))
    val nodes = allNodes(plan)
    assert(nodes.exists(_.isInstanceOf[graft.plans.TopKPerGroupExec]),
      "expected the custom WITH-TIES operator")
    val hashEx = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("hashpartitioning") => e }
    assert(hashEx.size == 1,
      s"expected exactly 1 hash exchange (partial→final), got ${hashEx.size}")
  }

  test("q206 batch numbering never windows on the bucket key alone") {
    // the within-bucket row number comes from (bucket, shard)-local
    // windows + a broadcast offset table — a bucket-only window would
    // serialize each length bucket onto one reducer at scale
    val plan = finalPlan(SparkEntry.queries("q206_length_batching")(spark, sf))
    val windows = allNodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    val bucketOnly = windows.filter(w =>
      w.partitionSpec.size == 1 &&
        w.partitionSpec.head.toString.contains("bucket") &&
        // the tiny offsets frame (child of an aggregate) is allowed
        !allNodes(w.child).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]))
    assert(bucketOnly.isEmpty,
      s"corpus rows window on bucket alone: ${bucketOnly.map(_.partitionSpec)}")
    assert(allNodes(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "expected the broadcast offset-table join")
  }

  test("q65 centroid assignment is map-side (no window, no vec_id shuffle)") {
    // the argmax folds over ONE broadcast centroid row — the old
    // crossJoin+row_number form exchanged 10× the corpus on vec_id
    val plan = finalPlan(SparkEntry.queries("q65_centroid_knn")(spark, sf))
    val nodes = allNodes(plan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "assignment must not use a window")
    val vecIdShuffles = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("vec_id") => e }
    assert(vecIdShuffles.isEmpty,
      s"corpus must not shuffle on vec_id: $vecIdShuffles")
  }

  test("q174 island numbering never runs a global (single-partition) window") {
    // the row_number comes from q160's two-phase form: pid-local
    // windows over a range partitioning + a driver offset table — a
    // global ORDER BY window would funnel every purchase through one
    // task at scale
    // phase 1 is a PlanCache entry: q174 reads its checkpoint, so the
    // window lives in the plan of the uncached build frame
    val query = finalPlan(SparkEntry.queries("q174_id_islands")(spark, sf))
    assert(cachedReads(query).nonEmpty, "q174 must read phase 1 from its PlanCache entry")
    val nodes = allNodes(query) ++
      allNodes(finalPlan(operators.TemporalOps.q174Local(spark, sf)))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "expected the pid-local window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"global window found: ${windows.filter(_.partitionSpec.isEmpty)}")
    val singleEx = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.numPartitions == 1 => e }
    assert(singleEx.isEmpty,
      s"single-partition exchange in the island plan: $singleEx")
  }

  test("q62 pair join never broadcasts a documents-derived side") {
    // the salted (source, salt) shuffle join replaces the corpus
    // broadcast — only the 8-row salt range may broadcast
    val plan = finalPlan(SparkEntry.queries("q62_near_dup_jaccard")(spark, sf))
    val broadcastedScans = allNodes(plan).collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        allNodes(b).collect { case s: FileSourceScanExec => s }
    }.flatten
    val docSides = broadcastedScans.filter(
      _.metadata.getOrElse("Location", "").contains("documents"))
    assert(docSides.isEmpty,
      s"documents relation reached a BroadcastExchange: $docSides")
    assert(allNodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      "expected the salted shuffled hash join")
  }

  test("q225 candidate generation is band-bucketed: no cartesian/nested-loop pair join") {
    // pairs may only come from the (band, key) equi self-join; an
    // all-pairs shape (cartesian or broadcast nested loop over a
    // documents side) is exactly what LSH banding exists to avoid
    val plan = finalPlan(SparkEntry.queries("q225_lsh_candidate_pairs")(spark, sf))
    val nodes = allNodes(plan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "cartesian product in the candidate path")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "broadcast nested-loop join in the candidate path")
  }

  test("q226 top-10s run on the bounded-heap TopKPerGroup operator, not a window") {
    // every top-10 in the recall readout must leave the generic window
    // path, or at scale each (query, mode) group sorts its full
    // candidate list in one task; q226 plans the explicit operator so
    // the shape holds in ANY session, not just extensions-wired ones
    val plan = finalPlan(SparkEntry.queries("q226_ann_recall")(spark, sf))
    val topks = allNodes(plan).filter(
      _.getClass.getSimpleName.contains("TopKPerGroup"))
    assert(topks.nonEmpty, "no TopKPerGroupExec in the q226 plan")
    assert(!allNodes(plan).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "a top-10 stayed on the generic window path")
  }

  test("q233 changepoint windows are element-partitioned, never global") {
    // cusum + argmax both run per element over the O(P·T) grid; a
    // single-partition window here would serialize the whole grid.
    // The grid is a PlanCache entry: q233 reads its checkpoint, and the
    // grid's own build plan is checked alongside the query's
    val query = finalPlan(SparkEntry.queries("q233_cusum_changepoint")(spark, sf))
    assert(cachedReads(query).nonEmpty, "q233 must read the PlanCache'd daily grid")
    val nodes = allNodes(query) ++
      allNodes(finalPlan(operators.CausalOps.dailyBuild(spark, sf)))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "expected the cusum/argmax windows")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"global window found: ${windows.filter(_.partitionSpec.isEmpty)}")
  }

  test("q252/q253 pruned causal paths never equi-join on the day column alone; full q246 does") {
    // the round-7 weak finding: the full pair family joins the grid to
    // itself keyed on the 365-value day column — a skewed O(P²·T) blowup
    // at large P. The pruned path must key every equi-join on an element
    // column (day may appear only WITH an element key).
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    def keySets(p: SparkPlan): Seq[Set[String]] = allNodes(p).collect {
      case j: SortMergeJoinExec =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.toSeq.map(_.name)).toSet
      case j: ShuffledHashJoinExec =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.toSeq.map(_.name)).toSet
      case j: BroadcastHashJoinExec =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.toSeq.map(_.name)).toSet
    }
    // day-index columns in the causal family are di/diy/di0/dix/dib
    def dayOnly(ks: Set[String]) = ks.nonEmpty && ks.forall(_.startsWith("di"))
    val prunedKeys = Seq("q252_mi_pruned", "q253_te_pruned").flatMap(q =>
      keySets(finalPlan(SparkEntry.queries(q)(spark, sf))))
    assert(prunedKeys.nonEmpty, "expected equi-joins in the pruned plans")
    assert(!prunedKeys.exists(dayOnly),
      s"day-only-keyed join on the pruned path: ${prunedKeys.filter(dayOnly)}")
    val fullKeys = keySets(finalPlan(
      SparkEntry.queries("q246_mutual_information")(spark, sf)))
    assert(fullKeys.exists(dayOnly),
      "expected the full path's day-keyed pair join (the reason the guard exists)")
  }

  test("q255 CBO: ANALYZE column stats shrink the filter estimate and flip the join to broadcast") {
    // the proof VERDICT #5 asked for: statistics being COMPUTED (q156)
    // is worthless unless the optimizer consumes them. Without CBO, a
    // Filter's size estimate passes through its child; with
    // cbo.enabled + ANALYZE'd column stats the o_orderpriority
    // equality gets a rowCount/ndv selectivity. Pick a broadcast
    // threshold strictly between the two estimates → the physical join
    // strategy flips from sort-merge to broadcast-hash. Self-
    // calibrating: both estimates are read from the optimized plan, so
    // the pin holds at any SF.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val db = operators.Extensions.cboTables(spark, sf)
    // equality on the high-NDV o_custkey: CBO estimates ~rowCount/ndv
    // ≈ 1 row; size-only mode keeps the (column-pruned) file-size
    // estimate — orders of magnitude apart, so the calibrated
    // threshold splits them at any SF
    // calibrate and inspect the SAME plan (column pruning changes the
    // size estimates, so the aggregate must be part of both)
    def query = spark.table(s"$db.orders")
      .where(col("o_custkey") === 1L)
      .join(spark.table(s"$db.lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy().count()
    def ordersSideStats(cbo: Boolean) = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      val j = query.queryExecution.optimizedPlan
        .collect { case jn: LJoin => jn }.head
      Seq(j.left, j.right)
        .find(_.collect { case f: LFilter => f }.nonEmpty).get.stats
    }
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false") // inspect the static plan
      val noCbo = ordersSideStats(cbo = false)
      val withCbo = ordersSideStats(cbo = true)
      // size-only mode has NO row estimate; CBO derives rowCount/ndv
      assert(noCbo.rowCount.isEmpty, s"expected no row estimate without CBO: $noCbo")
      val totalRows = spark.table(s"$db.orders").count()
      assert(withCbo.rowCount.exists(_ * 3 <= totalRows),
        s"CBO row estimate ${withCbo.rowCount} not meaningfully below $totalRows")
      val without = noCbo.sizeInBytes
      val withStats = withCbo.sizeInBytes
      assert(withStats * 3 <= without,
        s"stats-based join-side estimate $withStats not meaningfully below $without")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((withStats + without) / 2).toString)
      def plan(cbo: Boolean) = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        query.queryExecution.sparkPlan
      }
      assert(plan(cbo = false).collect { case j: SortMergeJoinExec => j }.nonEmpty,
        s"without stats the join should sort-merge at this threshold; got:\n${plan(cbo = false)}")
      assert(plan(cbo = true).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.nonEmpty, "with CBO stats the filtered side should broadcast")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q255 plans under CBO and leaves both CBO confs as it found them") {
    // the confs matter only while the plan is optimized, so q255 forces
    // its plan inside the conf window and restores them in a finally;
    // a leak would re-plan every later query in the session under CBO
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val cbo = operators.Extensions.CboConfs
    def confs = cbo.map { case (k, _) => k -> spark.conf.getOption(k) }
    val before = confs
    assert(SparkEntry.queries("q255_cbo_star_join")(spark, sf).collect().nonEmpty)
    assert(confs === before, "q255 left its CBO confs changed in the session")
    // the plan builder optimized under q255's confs sees CBO: the
    // filtered orders side gets a rowCount/ndv estimate, which
    // size-only planning never produces
    def filterRows = operators.Extensions.cboStarJoinPlan(spark, sf)
      .queryExecution.optimizedPlan.collect { case f: LFilter => f.stats.rowCount }
    val underCbo = GraftSession.withConfs(spark, cbo)(filterRows)
    assert(underCbo.nonEmpty && underCbo.forall(_.nonEmpty),
      s"q255's plan under its confs has no CBO row estimate: $underCbo")
    val without = GraftSession.withConfs(spark, cbo.map { case (k, _) => k -> "false" })(filterRows)
    assert(without.forall(_.isEmpty), s"row estimate without CBO: $without")
  }

  test("q250 residual IVF-PQ is join-free and map-side: literal quantizers + one bounded heap") {
    // the trained codebooks are driver-held literals, so assignment,
    // residual encode, and ADC must all be map-side expressions over
    // ONE corpus scan — no join, no window, and the top-10 as a
    // TakeOrdered heap rather than a global sort
    val nodes = allNodes(finalPlan(SparkEntry.queries("q250_ivfpq_residual")(spark, sf)))
    val joins = nodes.filter(n => n.nodeName.toLowerCase.contains("join"))
    assert(joins.isEmpty, s"unexpected joins in the q250 plan: ${joins.map(_.nodeName)}")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, s"unexpected windows: ${windows.map(_.nodeName)}")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "expected the bounded TakeOrderedAndProject top-10 heap")
    val globalSorts = nodes.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s }
    assert(globalSorts.isEmpty, s"global sort in the ADC plan: ${globalSorts.map(_.nodeName)}")
  }

  test("q236 keyset page plans bounded heaps, no global sort materialization") {
    // both the anchor (top-100) and the page (top-50 past the seek
    // predicate) must be TakeOrdered heaps — a global SortExec would
    // sort 100 TB to serve a 50-row page
    val nodes = allNodes(finalPlan(SparkEntry.queries("q236_keyset_page")(spark, sf)))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "expected TakeOrderedAndProject for the page fetch")
    val globalSorts = nodes.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s }
    assert(globalSorts.isEmpty,
      s"global sort in the pagination plan: ${globalSorts.map(_.nodeName)}")
  }

  test("q261 candidate lists plan as bounded top-k, never a data-sized global sort") {
    // both the lexical and semantic top-100 cuts must be
    // TakeOrderedAndProject (map-side partial heaps, 100 rows to the
    // merge); the only permissible global sorts are over the already-cut
    // O(100)-row fused/ranked lists
    val nodes = allNodes(finalPlan(SparkEntry.queries("q261_hybrid_rrf")(spark, sf)))
    val topk = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec])
    assert(topk.size >= 2,
      s"expected two TakeOrderedAndProject candidate cuts, got ${topk.size}")
  }

  test("q262 assigns clusters with the broadcast fold: no Window, and the pair join is cluster-keyed") {
    // the naive assignment is a per-vec_id rank window over 10x the
    // corpus (the oracle's formulation); the engine must instead fold
    // over ONE broadcast centroid row — so the plan has NO window at
    // all — and the quadratic pair stage must be keyed on the cluster id
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val nodes = allNodes(finalPlan(SparkEntry.queries("q262_semdedup")(spark, sf)))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "assignment must be the broadcast fold, not a rank window")
    val joinKeys = nodes.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }.flatMap(_.flatMap(_.references.toSeq.map(_.name)))
    assert(joinKeys.contains("clabel"),
      s"pair join must be scoped by cluster id, saw keys: $joinKeys")
  }

  test("q264 trend/seasonal windows are element-partitioned, never global") {
    val nodes = allNodes(finalPlan(
      SparkEntry.queries("q264_seasonal_decompose")(spark, sf)))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "expected the moving-average trend window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"global window found: ${windows.filter(_.partitionSpec.isEmpty)}")
  }

  test("q273/q274 scan the fact table at most once: all pair work runs on the cached histogram") {
    // the Mann-Whitney/KS family reduces events to the (element, value)
    // histogram ONCE (PlanCache); domains, cumulative grid, and the
    // O(V*P^2) pair join must all derive from it — more than one parquet
    // scan of events in a single executed plan means a fact re-scan
    // snuck back in
    for (q <- Seq("q273_mann_whitney", "q274_ks_test")) {
      val nodes = allNodes(finalPlan(SparkEntry.queries(q)(spark, sf)))
      val eventScans = nodes.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("events"))
          => f
      }
      assert(eventScans.size <= 1,
        s"$q re-scans the fact table: ${eventScans.size} events scans")
    }
  }

  test("q289 bloom: runtime filter lands in the optimized plan under the query's confs, and never without them") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val withBloom =
      try graft.operators.RelationalMore.bloomJoinPlan(spark, sf)
        .queryExecution.optimizedPlan.toString
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    assert(withBloom.contains("might_contain"),
      "no bloom runtime filter injected under the q289 confs")
    val without = graft.operators.RelationalMore.bloomJoinPlan(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!without.contains("might_contain"),
      "bloom filter leaked into default-conf planning")
  }

  test("q285 builds co-order pairs from baskets: exactly one lineitem scan, no fact self-join") {
    // The co-order edge set is PlanCache'd (shared with q349/q331), so the
    // lineitem scan may appear as a read of the entry's checkpoint instead
    // of a parquet scan. Either way the fact table must not be self-joined:
    // at most one direct scan in the query and in the edge set's build,
    // and if the query has zero, the cached edge set must be what
    // replaced it.
    val query = finalPlan(SparkEntry.queries("q285_adamic_adar")(spark, sf))
    def liScans(p: SparkPlan) = allNodes(p).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => f
    }
    val direct = liScans(query)
    val inBuild = liScans(finalPlan(operators.GraphOps.coorderPairsBuild(spark, sf)))
    assert(direct.size <= 1,
      s"q285 should scan lineitem at most once (basket expansion), got ${direct.size}")
    assert(inBuild.size <= 1,
      s"the co-order edge build should scan lineitem at most once, got ${inBuild.size}")
    assert(direct.nonEmpty || cachedReads(query).nonEmpty,
      "q285 with zero direct lineitem scans must be reading the PlanCache'd edge set")
  }

  test("q290 both top-10 cuts run through the bounded-heap TopKPerGroup operator") {
    val nodes = allNodes(finalPlan(SparkEntry.queries("q290_mrr_map_eval")(spark, sf)))
    val heaps = nodes.collect { case t: graft.plans.TopKPerGroupExec => t }
    assert(heaps.count(!_.partial) >= 2,
      s"expected the exact and multiprobe cuts as TopKPerGroup finals, got ${heaps.map(_.partial)}")
  }

  test("q299 KMV sketch cut runs through the bounded-heap TopKPerGroup, not a raw-data window") {
    val nodes = allNodes(finalPlan(SparkEntry.queries("q299_kmv_theta")(spark, sf)))
    val heaps = nodes.collect { case t: graft.plans.TopKPerGroupExec => t }
    assert(heaps.exists(!_.partial),
      "the per-audience k-minimum cut must plan as TopKPerGroup")
  }

  test("q288 joins the tiny survivor/series sides by broadcast; the fold is map-side") {
    val p = finalPlan(SparkEntry.queries("q288_dtw_band")(spark, sf))
    val nodes = allNodes(p)
    val bhj = nodes.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 2,
      s"series attachment should broadcast (survivors x series), got ${bhj.size} broadcast joins")
    // the DTW fold itself introduces no exchange after the pair build:
    // every shuffle in the plan belongs to the grid/screen aggregates
    val eventScans = nodes.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events")) => f
    }
    assert(eventScans.size <= 1,
      s"q288 must reuse the cached grid, got ${eventScans.size} events scans")
  }

  test("q326/q327 rank cuts plan as bounded-heap TopKPerGroup, never an 8-partition q_id window") {
    for (q <- Seq("q326_mips_alsh", "q327_matryoshka")) {
      val nodes = allNodes(finalPlan(SparkEntry.queries(q)(spark, sf)))
      val heaps = nodes.collect { case t: graft.plans.TopKPerGroupExec => t }
      assert(heaps.exists(!_.partial),
        s"$q: every top-k cut must lower to TopKPerGroup; plan had none")
      val windows = nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.isEmpty,
        s"$q: no WindowExec should survive the rewrite, got ${windows.size}")
    }
  }

  test("q318 builds both DSIR distributions in one corpus pass and broadcasts them back") {
    val nodes = allNodes(finalPlan(SparkEntry.queries("q318_dsir_weights")(spark, sf)))
    val docScans = nodes.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f
    }
    assert(docScans.size <= 2,
      s"q318: one pass for the bucket distributions + one for scoring, got ${docScans.size}")
    val bhj = nodes.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, "the 512-row lambda table must broadcast onto the token stream")
  }

  test("q321 encodes map-side: category and global stats broadcast, no category-partition window") {
    val nodes = allNodes(finalPlan(SparkEntry.queries("q321_target_encoding")(spark, sf)))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "LOO encoding must not use a low-cardinality category window")
    val bhj = nodes.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, "the category stats must broadcast onto the fact rows")
  }

  test("q331 builds co-purchase pairs from baskets: exactly one lineitem scan, no fact self-join") {
    val nodes = allNodes(finalPlan(SparkEntry.queries("q331_item_cf")(spark, sf)))
    val liScans = nodes.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => f
    }
    assert(liScans.size <= 2,
      s"baskets + item frequencies, never a fact self-join: got ${liScans.size} scans")
  }
}
