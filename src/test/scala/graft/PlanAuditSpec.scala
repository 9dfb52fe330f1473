package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Physical-plan regression pins: the properties that make these plans
  * survive a 100× scale-up are asserted, not just claimed — a future
  * refactor that silently drops a pushed filter, widens a scan, or
  * de-broadcasts a dimension fails here, long before it costs hours on a
  * real cluster. Plans are inspected node-by-node AFTER execution, so
  * AQE's final (runtime-re-planned) shape is what's pinned.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Flatten every node under `p`, descending through adaptive wrappers,
    * query-stage leaves, and persist() boundaries. Each distinct cached
    * plan is descended ONCE (identity-tracked): a cache scanned from two
    * places must not double-count its subtree — "exactly one join"
    * assertions would trip on the second scan of the same cache. */
  private def flatten(p: SparkPlan,
      seen: java.util.Set[SparkPlan] = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()))
      : Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan, seen)
    case q: QueryStageExec => p +: flatten(q.plan, seen)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      if (seen.add(m.relation.cachedPlan))
        p +: flatten(m.relation.cachedPlan, seen)
      else Seq(p)
    case other => other +: other.children.flatMap(flatten(_, seen))
  }

  /** Execute (AQE finalizes at runtime), then flatten every node. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    flatten(df.queryExecution.executedPlan)
  }

  /** Every node of every plan that ran while `f` ran — an operator whose
    * build runs actions of its own (a checkpoint, say) executes plans
    * that its returned frame no longer shows. The listener bus is
    * asynchronous but in order: once a marker query run after `f` has
    * been seen, so has every plan of `f`. */
  private def executedNodes(f: => Any): Seq[SparkPlan] =
    executedPlans(f).flatten

  /** [[executedNodes]], one node list per plan that ran. */
  private def executedPlans(f: => Any): Seq[Seq[SparkPlan]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = { seen.add(qe); () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      val marker = spark.range(1).toDF()
      marker.collect()
      var tries = 100
      while (!seen.contains(marker.queryExecution) && tries > 0) {
        Thread.sleep(100); tries -= 1
      }
      assert(seen.contains(marker.queryExecution),
        "the listener bus did not deliver the marker query")
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.filterNot(_ eq marker.queryExecution)
        .map(qe => flatten(qe.executedPlan))
    } finally spark.listenerManager.unregister(listener)
  }

  /** The documents' 3-gram shingle table, persisted the way the dedup
    * operators' callers hold it; the test releases it. */
  private def shingles(): DataFrame =
    graft.operators.Dedup.shingleTable(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def scansOf(ns: Seq[SparkPlan], table: String) =
    ns.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(table)) => s
    }

  test("q6: filters reach the parquet scan; projection is pruned") {
    val ns = nodes(SparkEntry.queries("q6_forecast_revenue")(spark, dir))
    val scan = scansOf(ns, "lineitem").head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_quantity"),
      s"filters not pushed to parquet: $pushed")
    // pruning: exactly the 4 referenced columns, not lineitem's 16
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"),
      s"scan not pruned: ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("q5: the star joins broadcast; no sort-merge degradation") {
    val ns = nodes(SparkEntry.queries("q5_nation_revenue")(spark, dir))
    val broadcasts = ns.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "star join degraded to SortMergeJoin")
  }

  test("q1: map-side partial aggregation inside whole-stage codegen") {
    val ns = nodes(SparkEntry.queries("q1_pricing_summary")(spark, dir))
    // partial + final pair: the shuffle moves one row per group per
    // partition, not one per lineitem row
    assert(ns.count(_.isInstanceOf[HashAggregateExec]) >= 2,
      "missing partial aggregation")
    assert(ns.exists(_.isInstanceOf[WholeStageCodegenExec]),
      "agg pipeline fell out of codegen")
  }

  test("conversion suite: codegen, no interpreted UDFs") {
    val ns = nodes(SparkEntry.queries("conv_scalar_suite")(spark, dir))
    assert(ns.exists(_.isInstanceOf[WholeStageCodegenExec]), "no codegen span")
    assert(!ns.exists(_.toString.contains("ScalaUDF")),
      "interpreted UDF in the conversion path")
  }

  test("dedup candidate aggregation keeps its df cap in-plan") {
    // operator-level: the gated d_ngram_jaccard reads a memoized,
    // plan-truncated relation (r14), so the pipeline shape is audited
    // on the operator the memo builder runs, in every plan it executes
    // (the verification checkpoints the candidate side in an action of
    // its own)
    val sh = shingles()
    val ns = try executedNodes(graft.operators.Dedup.ngramJaccardPairs(sh,
      graft.operators.Dedup.pairStats(sh, maxDf = 20), threshold = 0.5)
      .collect())
    finally sh.unpersist()
    // a regression to plain collect_set + post-filter would reintroduce
    // the unbounded hot-shingle aggregation buffer
    val capped = ns.collect { case o: ObjectHashAggregateExec => o }
      .exists(_.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[graft.functions.CappedCollectSet]))
    assert(capped, "capped collect_set missing from the candidate plan")
  }

  test("substring dedup keeps its df cap in-plan; chunking is map-only") {
    val ns = nodes(SparkEntry.queries("d_substring_dup")(spark, dir))
    // same regression pin as d_ngram_jaccard: the boilerplate-window
    // bound must live INSIDE the aggregation buffer
    val capped = ns.collect { case o: ObjectHashAggregateExec => o }
      .exists(_.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[graft.functions.CappedCollectSet]))
    assert(capped, "capped collect_set missing from the window-group plan")
    // ragChunks: the whole chunking pipeline must stay map-only — any
    // Exchange here means a refactor introduced a shuffle into an
    // operator that runs at scan speed at 100 TB. (The gated query adds
    // an orderBy for the dump; audit the operator itself.)
    val chunkNs = nodes(graft.operators.Packing.ragChunks(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      window = 64, overlap = 16))
    assert(!chunkNs.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "ragChunks picked up a shuffle")
    assert(chunkNs.exists(_.isInstanceOf[WholeStageCodegenExec]),
      "ragChunks fell out of codegen")
  }

  test("q4: EXISTS stays a semi join on pruned scans") {
    val ns = nodes(SparkEntry.queries("q4_late_shipment")(spark, dir))
    // the correlated EXISTS must not decorrelate into an inner join +
    // distinct (that shape duplicates orders before the agg)
    val semi = ns.exists {
      case j: BroadcastHashJoinExec => j.joinType.sql == "LEFT SEMI"
      case j: SortMergeJoinExec => j.joinType.sql == "LEFT SEMI"
      case _ => false
    }
    assert(semi, "EXISTS did not plan as a semi join")
    assert(scansOf(ns, "lineitem").head.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_shipdate"), "lineitem scan not pruned to 2 cols")
    assert(scansOf(ns, "orders").head.requiredSchema.fieldNames.toSet ===
      Set("o_orderkey", "o_orderpriority", "o_orderdate"),
      "orders scan not pruned")
  }

  test("q14/q17: dimension filters push down and the dim side broadcasts") {
    val ns14 = nodes(SparkEntry.queries("q14_promo_share")(spark, dir))
    assert(ns14.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "part did not broadcast in q14")
    val li14 = scansOf(ns14, "lineitem").head
    assert(li14.metadata("PushedFilters").contains("GreaterThanOrEqual(l_shipdate"),
      "q14 date filter not pushed to the fact scan")
    val ns17 = nodes(SparkEntry.queries("q17_small_qty_revenue")(spark, dir))
    val partScan = scansOf(ns17, "part").head
    assert(partScan.metadata("PushedFilters").contains("EqualTo(p_brand"),
      "q17 brand filter not pushed to the part scan")
    // both lineitem passes ride behind the broadcast part filter — no
    // full-fact aggregation anywhere in the plan
    assert(ns17.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "q17 lost the broadcast semi/equi pattern")
  }

  test("range join: equi join on (key, bucket), never a nested loop") {
    val ns = nodes(SparkEntry.queries("q_range_clicks_before_purchase")(spark, dir))
    val nested = ns.exists(p =>
      p.nodeName.contains("BroadcastNestedLoopJoin") ||
        p.nodeName.contains("CartesianProduct"))
    assert(!nested, "range join degraded to a nested-loop/cartesian plan")
    assert(ns.exists {
      case _: BroadcastHashJoinExec | _: SortMergeJoinExec => true
      case p => p.nodeName.contains("ShuffledHashJoin")
    }, "no equi join node found")
  }

  test("q19: disjunctive bands are a broadcast equi join with residual") {
    val ns = nodes(SparkEntry.queries("q19_banded_revenue")(spark, dir))
    // the OR-of-ANDs must ride the partkey hash join as a residual — a
    // nested-loop/cartesian here explodes quadratically at scale
    assert(!ns.exists(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct")),
      "disjunctive join degraded to nested loop")
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "part side did not broadcast")
    assert(scansOf(ns, "part").head.requiredSchema.fieldNames.toSet ===
      Set("p_partkey", "p_brand", "p_size"), "part scan not pruned")
  }

  test("q7/q8: nation filters prune before the fact join; no sort-merge") {
    // sf0.01, not sf0.001: at the smallest sf the two-nation pair has no
    // trade rows and AQE rightly collapses the whole plan to
    // EmptyRelation — there would be nothing to audit
    val ns7 = nodes(SparkEntry.queries("q7_trade_volume")(spark,
      "/root/testdata/sf0.01"))
    // supplier/customer reach the fact join pre-filtered through tiny
    // broadcast nation joins — the pair disjunction is a residual, so
    // every join in the plan stays a broadcast hash join
    assert(!ns7.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q7 degraded to SortMergeJoin")
    assert(ns7.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 3,
      "q7 lost its broadcast star shape")
    val ns8 = nodes(SparkEntry.queries("q8_market_share")(spark, dir))
    val partScan = scansOf(ns8, "part").head
    assert(partScan.metadata("PushedFilters").contains("EqualTo(p_type"),
      "q8 part-type filter not pushed to the part scan")
  }

  test("q13: outer join keeps zero-order customers; two-stage agg") {
    val ns = nodes(SparkEntry.queries("q13_order_distribution")(spark, dir))
    val outer = ns.exists {
      case j: BroadcastHashJoinExec => j.joinType.sql.contains("OUTER")
      case j: SortMergeJoinExec => j.joinType.sql.contains("OUTER")
      case p => p.nodeName.contains("ShuffledHashJoin") &&
        p.toString.contains("Outer")
      case _ => false
    }
    assert(outer, "q13 lost the LEFT OUTER join (zero-order customers)")
    // distribution agg runs over one-row-per-customer input: two
    // distinct aggregation pairs (per-customer, then per-count)
    assert(ns.count(_.isInstanceOf[HashAggregateExec]) >= 4,
      "q13 missing the two-stage aggregation")
  }

  test("q21: stacked semi + anti joins, no nested loop, pruned fact scans") {
    val ns = nodes(SparkEntry.queries("q21_sole_late_supplier")(spark, dir))
    // both the EXISTS (other supplier) and NOT EXISTS (other late
    // supplier) must ride the order-key hash join with the
    // supplier-inequality as a residual — a nested-loop here is
    // quadratic in the order's line count at scale
    assert(!ns.exists(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct")),
      "q21 self-join degraded to a nested loop")
    def joinTypes(p: SparkPlan): Option[String] = p match {
      case j: BroadcastHashJoinExec => Some(j.joinType.sql)
      case j: SortMergeJoinExec => Some(j.joinType.sql)
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        Some(j.joinType.sql)
      case _ => None
    }
    val types = ns.flatMap(joinTypes)
    assert(types.exists(_ == "LEFT SEMI"), "q21 lost the EXISTS semi join")
    assert(types.exists(_ == "LEFT ANTI"), "q21 lost the NOT EXISTS anti join")
    assert(scansOf(ns, "lineitem").forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(
        Set("l_orderkey", "l_suppkey", "l_shipdate"))),
      "q21 lineitem scans not pruned")
  }

  test("readAsOf: the version ceiling reaches the parquet scan") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val t = graft.operators.GraftTable(spark, tmpDir("plan-asof"),
      Seq("id"), StructType(Seq(StructField("id", LongType),
        StructField("v", StringType))))
    t.append(Seq((1L, "a")).toDF("id", "v"), 1)
    t.append(Seq((1L, "b")).toDF("id", "v"), 2)
    val ns = nodes(t.readAsOf(1))
    val scan = ns.collect { case s: FileSourceScanExec => s }.head
    // the filter must sit under the dedup aggregate so row-group
    // min/max stats skip newer files instead of reading + discarding
    assert(scan.metadata("PushedFilters").contains("LessThanOrEqual(_version"),
      s"version ceiling not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("publishStagedLoad: the delta lift's baseline floor reaches the scan") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // capture the lift's EXECUTED plan: the lift runs inside
    // publishStagedLoad (a write, not a returned frame), and the
    // promise is that `_version > baseline` prunes pre-load files via
    // parquet row-group stats — the same contract readAsOf pins
    val t = graft.operators.GraftTable(spark, tmpDir("plan-staged"),
      Seq("id"), StructType(Seq(StructField("id", LongType),
        StructField("v", StringType))))
    t.append(Seq((1L, "old")).toDF("id", "v"), 1)
    val staging = t.beginStagedLoad()
    t.appendStaged(Seq((1L, "snap")).toDF("id", "v"), 10, staging)
    t.append(Seq((2L, "live")).toDF("id", "v"), 15) // the delta to lift
    val ns = executedNodes(t.publishStagedLoad(staging))
    assert(ns.exists {
      case s: FileSourceScanExec => s.metadata.get("PushedFilters")
        .exists(_.contains("GreaterThan(_version"))
      case _ => false
    }, "no executed plan pushed GreaterThan(_version,...) to a parquet " +
      "scan — the staged-load delta lift lost its row-group pruning")
  }

  test("CDC flush and compact: one layout exchange, the partial collapse below it") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.sources.EventSpool
    // every write plan: exactly one shuffle, and every partial aggregate
    // (the map-side collapse) sits below it, so the exchange ships
    // partial rows and the layout needs no second exchange
    def assertOneExchange(what: String, plans: Seq[Seq[SparkPlan]]): Unit = {
      val writes = plans.filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
      assert(writes.nonEmpty, s"$what: no write ran")
      writes.foreach { ns =>
        val exchanges = ns.collect { case e: ShuffleExchangeExec => e }.distinct
        assert(exchanges.size === 1,
          s"$what: ${exchanges.size} exchanges in\n${ns.head.treeString}")
        def partials(p: Seq[SparkPlan]) = p.count {
          case a: BaseAggregateExec =>
            a.aggregateExpressions.exists(_.mode == Partial)
          case _ => false
        }
        val below = partials(flatten(exchanges.head))
        assert(below === 1 && partials(ns) === 1,
          s"$what: partial collapse not (only) below the exchange in\n" +
            ns.head.treeString)
      }
    }
    val registry = new graft.ddl.SchemaRegistry
    registry.applySql(
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    val pipeline = new graft.streaming.CdcPipeline(spark, GraftConfig(),
      registry, tmpDir("plan-flush-wh"))
    val spool = tmpDir("plan-flush-spool")
    EventSpool.writeFile(spool, "000001.json", (1 to 40).map { i =>
      EventSpool.eventJson(i, "d", "users", EventSpool.OpAdd,
        row = Some(s"""{"id":"${i % 5}","name":"n$i"}"""))
    })
    assertOneExchange("flush", executedPlans(
      pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)))
    val t = pipeline.table("users")
    assert(t.read.count() === 5)
    assertOneExchange("compact", executedPlans(t.compact()))
    assert(t.read.collect().map(r => (r.getInt(0), r.getString(1))).toSet
      === (36 to 40).map(i => (i % 5, s"n$i")).toSet)
    val (_, compactJobs) = jobsOf(t.compact())
    assert(compactJobs <= 2, s"compact ran $compactJobs jobs")
  }

  test("stratified/cluster quotas: stage-1 windows partition on the salt") {
    // the whole point of the two-stage top-k is that NO window sorts a
    // whole group on one task: stage 1 must partition by (group, salt),
    // and only the k·salts survivors reach the per-group stage-2 window
    for (q <- Seq("t_stratified_sample", "s_cluster_balanced")) {
      val ns = nodes(SparkEntry.queries(q)(spark, dir))
      val windows = ns.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      }
      assert(windows.exists(_.exists(_.contains("_salt"))),
        s"$q: no salted stage-1 window — a hot group funnels through " +
          "one task at scale")
      assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]) &&
        !ns.exists(_.nodeName.contains("CartesianProduct")), q)
    }
  }

  test("dsir: llr model broadcasts into the term stream; one real shuffle") {
    val ns = nodes(SparkEntry.queries("t_dsir_sample")(spark, dir))
    // the 256-row llr table must broadcast-hash-join the occurrence
    // stream on the bucket — a sort-merge there shuffles the whole
    // exploded term table by a 256-value key (hot partitions at scale)
    assert(ns.exists {
      case j: BroadcastHashJoinExec =>
        j.leftKeys.exists(_.references.exists(_.name == "b")) ||
          j.rightKeys.exists(_.references.exists(_.name == "b"))
      case _ => false
    }, "llr model join is not a broadcast hash join on the bucket")
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "term stream degraded to a sort-merge join")
    // the only nested loop is the 1-row totals cross join (scalar
    // broadcast); the term stream must never cartesian
    val loops = ns.count(
      _.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(loops <= 1, s"unexpected nested-loop joins: $loops")
    // selection is a bounded top-k, not a global sort
    assert(ns.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "Gumbel top-k selection lost its TakeOrderedAndProject")
  }

  test("ivf-pq: candidates ride an equi join on the cell, never a loop") {
    val ns = nodes(SparkEntry.queries("s_ann_ivfpq")(spark, dir))
    // the whole point of the coarse quantizer is replacing the ADC
    // nested loop with a bounded cell join — a BNLJ here means the cell
    // key fell out of the join condition
    assert(!ns.exists(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct")),
      "IVF-PQ degraded to a nested loop")
    assert(ns.exists {
      case _: BroadcastHashJoinExec | _: SortMergeJoinExec => true
      case p => p.nodeName.contains("ShuffledHashJoin")
    }, "no equi join on the cell id")
  }

  test("minhash: ONE banded self-join, band relation cached and read twice") {
    // Operator-level, deterministic COLD build: the gated d_minhash_lsh
    // reads a memoized plan-truncated relation (r14), so the builder
    // pipeline — what the memo executes once per session — is audited
    // directly. The band join runs inside the verification's first
    // action (the per-doc array checkpoint), so every plan the build
    // executes is captured, not just the returned frame's.
    graft.queries.clearFitMemo()
    spark.sharedState.cacheManager.clearCache()
    val sh = shingles()
    val ns = try executedNodes(graft.operators.Dedup.minhashNearDups(sh,
      k = 6, b = 3, r = 2, threshold = 0.5).collect())
    finally sh.unpersist()
    // the b band keys are packed into one array and exploded — b separate
    // joins would re-read (and re-aggregate) the minhash input b times
    def keysOf(p: SparkPlan): Option[Seq[String]] = p match {
      case j: BroadcastHashJoinExec => Some(j.leftKeys.map(_.toString))
      case j: SortMergeJoinExec => Some(j.leftKeys.map(_.toString))
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        Some(j.leftKeys.map(_.toString))
      case _ => None
    }
    // dedup by NODE IDENTITY: the same join node can surface along
    // several flatten paths; b SEPARATE joins (the regression this pins)
    // would be distinct nodes with distinct keys
    val bandJoins = ns.filter(p => keysOf(p).exists(ks =>
        ks.exists(_.startsWith("band#")) && ks.exists(_.startsWith("bk#"))))
      .groupBy(System.identityHashCode).values.map(_.head).toSeq
    assert(bandJoins.size === 1,
      s"expected ONE (band, key) self-join, got ${bandJoins.size}")
    // both self-join sides must read the SAME computed (id, band, bk)
    // relation — held once as one shuffle stage that the other side
    // reuses (it used to be a cache read twice); a refactor that splits
    // them silently runs the whole shingle→minhash aggregation twice
    def shuffleOf(p: SparkPlan): Option[Int] = p match {
      case q: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
        Some(q.shuffle.shuffleId)
      case other if other.children.size == 1 => shuffleOf(other.children.head)
      case _ => None
    }
    val sides = bandJoins.head.children.map(shuffleOf)
    assert(sides.forall(_.nonEmpty),
      s"a self-join side is not a shuffle stage: ${bandJoins.head}")
    assert(sides.distinct.size === 1,
      "self-join sides read different shuffles, not one shared band relation")
  }

  test("lsh multi-probe: explode rides the probe side; corpus bucketed once") {
    val ns = nodes(SparkEntry.queries("s_ann_lsh_probe")(spark, dir))
    val joins = ns.collect {
      case j: BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.startsWith("bucket#")) => j
    }
    assert(joins.size === 1,
      s"expected ONE bucket equi join, got ${joins.size}")
    val j = joins.head
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val (buildSide, streamSide) = j.buildSide match {
      case BuildLeft => (j.left, j.right)
      case BuildRight => (j.right, j.left)
    }
    // the ×(bits+1) Hamming-1 probe explode must multiply ONLY the tiny
    // broadcast query side; a Generate on the corpus side means the
    // corpus is scanned/bucketed (bits+1) times — the exact shape that
    // does not survive a 100× corpus
    def hasGenerate(p: SparkPlan): Boolean =
      flatten(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(hasGenerate(buildSide),
      "probe explode missing from the broadcast query side")
    assert(!hasGenerate(streamSide),
      "corpus side gained an explode — it must be bucketed once")
  }

  test("ivf-pq rerank: shortlist broadcasts; corpus never sort-merges") {
    val ns = nodes(SparkEntry.queries("s_ann_ivfpq_rerank")(spark, dir))
    // the exact re-rank must ride broadcast joins (shortlist ids and
    // query vectors are tiny); a sort-merge here means the full corpus
    // shuffled its float vectors for a |Q|·shortlist-row join
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "rerank degraded to a sort-merge join over the corpus")
    assert(!ns.exists(p => p.nodeName.contains("CartesianProduct")),
      "rerank planned a cartesian product")
    assert(ns.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "shortlist/query sides did not broadcast")
  }

  test("pca rerank: reduced scan per pair; floats broadcast-join only") {
    val ns = nodes(SparkEntry.queries("s_ann_pca_rerank")(spark, dir))
    // the wide float vectors must reach the exact stage via broadcast
    // joins (shortlist ids + query vectors are tiny); a sort-merge means
    // the corpus shuffled 64-dim floats for a |Q|·shortlist-row join.
    // The reduced-space scan is a broadcast nested loop BY DESIGN (8
    // doubles per pair — the point of projecting first).
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "pca rerank degraded to a sort-merge join over the corpus")
    assert(!ns.exists(p => p.nodeName.contains("CartesianProduct")),
      "pca rerank planned a cartesian product")
    assert(ns.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "shortlist/query sides did not broadcast")
  }

  test("packing: every running-sum window partitions by the pack group") {
    val ns = nodes(SparkEntry.queries("t_pack_chunks")(spark, dir))
    val windows = ns.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // an empty partitionSpec means Spark moved the WHOLE corpus through
    // one window task — the exact serialization the groups split exists
    // to prevent
    assert(windows.nonEmpty, "no window exec found")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "global (unpartitioned) window would serialize the corpus")
  }

  test("pmi bigrams: top-k is TakeOrdered; the total broadcasts") {
    val ns = nodes(SparkEntry.queries("t_pmi_bigrams")(spark, dir))
    // the k-row result must come from TakeOrderedAndProject, not a
    // global sort of the scored bigram relation
    assert(ns.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "pmi top-k planned a global sort")
    assert(!ns.exists(p => p.nodeName.contains("CartesianProduct")),
      "scalar total fell back to a cartesian product")
  }

  test("source overlap: only (fp, source) pairs shuffle, never text") {
    val ns = nodes(SparkEntry.queries("t_source_overlap")(spark, dir))
    val exchanges = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    // no exchange carries the document text — the audit moves
    // fingerprints and source tags only
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"text crossed a shuffle: ${e.child.output.map(_.name)}")
    }
  }

  test("knn join: corpus-sized query side does not broadcast") {
    // pin the OPERATOR's plan, not the gated query's: s_knn_join serves
    // from the shared cached edge relation (one computation for three
    // consumers), so its query plan is an in-memory scan on re-use —
    // the shape that matters is what the join costs when it DOES run
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val model = graft.operators.Ivf.fit(
      emb, "vec_id", "embedding", k = 8, iters = 3)
    val ns = nodes(graft.operators.Ivf.knnJoin(
      emb, "vec_id", "embedding", model, k = 3, nProbe = 2))
    // the cell join must be a shuffled hash join of two corpus-derived
    // sides — a broadcast here would ship the whole corpus to every
    // task at scale
    assert(ns.exists(p => p.nodeName.contains("ShuffledHashJoin")),
      "cell join did not plan as a shuffled hash join")
    assert(!ns.exists(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct")),
      "knn join degenerated to a nested loop")
  }

  test("feature hash: joinless map-side hashing, one agg shuffle") {
    val ns = nodes(SparkEntry.queries("t_feature_hash")(spark, dir))
    assert(!ns.exists(p => p.nodeName.contains("Join")),
      "feature hashing must not join (no dictionary)")
    val exchanges = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one hash exchange for the doc-id aggregation + the output sort
    assert(exchanges.size <= 2, s"${exchanges.size} exchanges")
  }

  test("corpus diff: only (id, fingerprint) pairs shuffle, never text") {
    val ns = nodes(SparkEntry.queries("t_corpus_diff")(spark, dir))
    val exchanges = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"text crossed a shuffle: ${e.child.output.map(_.name)}")
    }
  }

  test("epoch shard: the position window partitions by shard") {
    val ns = nodes(SparkEntry.queries("t_epoch_shard")(spark, dir))
    val windows = ns.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // the write-order position must be a per-shard sort (the write
    // path's repartition key), never one global-order window task
    assert(windows.nonEmpty, "no window exec found")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "global (unpartitioned) window would serialize the corpus")
  }

  test("funnel: stage joins stay hash joins; no event-pair explosion") {
    val ns = nodes(
      SparkEntry.queries("q_funnel_signup_view_purchase")(spark, dir))
    assert(!ns.exists(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct")),
      "funnel stage degraded to a nested loop")
    assert(ns.exists {
      case _: BroadcastHashJoinExec | _: SortMergeJoinExec => true
      case p => p.nodeName.contains("ShuffledHashJoin")
    }, "no equi join on the user key")
  }

  test("pii/gopher: map-only single scan — no shuffle below the sort") {
    for (q <- Seq("t_pii_stats", "t_pii_redact", "t_gopher_rules")) {
      val ns = nodes(SparkEntry.queries(q)(spark, dir))
      // one documents scan, and the only exchange is the output orderBy's
      // range partitioning: detectors/rules are pure projections
      assert(scansOf(ns, "documents").size === 1, s"$q re-reads documents")
      val shuffles = ns.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.forall(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
        s"$q shuffles beyond the output sort: " +
          shuffles.map(_.outputPartitioning.getClass.getSimpleName)
            .mkString(","))
    }
  }

  test("semDedup: cell equi join, never a nested loop") {
    val ns = nodes(SparkEntry.queries("s_semdedup")(spark, dir))
    assert(!ns.exists(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct")),
      "semDedup degraded to a nested loop")
    assert(ns.exists {
      case _: BroadcastHashJoinExec | _: SortMergeJoinExec => true
      case p => p.nodeName.contains("ShuffledHashJoin")
    }, "no equi join on the cell id")
  }

  test("hard negatives: cell equi join; label filter below the rank window") {
    val ns = nodes(SparkEntry.queries("s_hard_negatives")(spark, dir))
    assert(!ns.exists(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct")),
      "hard-negative mining degraded to a nested loop")
    assert(ns.exists {
      case _: BroadcastHashJoinExec | _: SortMergeJoinExec => true
      case p => p.nodeName.contains("ShuffledHashJoin")
    }, "no equi join on the cell id")
    // the label-mismatch filter must prune candidates BEFORE the ranking
    // window's exchange — as a post-window filter it would ship (and
    // rank) every same-label pair for nothing
    val windows = ns.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    val belowWindow = windows.flatMap(w => flatten(w.child))
    // Catalyst may keep it as a FilterExec or fold it into the join
    // condition — both prune pre-exchange; only a post-window residual
    // (absent below) would be wrong
    assert(belowWindow.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("n_label")
      case j: BroadcastHashJoinExec =>
        j.condition.exists(_.toString.contains("n_label"))
      case j: SortMergeJoinExec =>
        j.condition.exists(_.toString.contains("n_label"))
      case _ => false
    }, "label filter did not stay below the ranking window")
  }

  test("sq8: corpus decodes ONCE below the scoring join, never per pair") {
    import org.apache.spark.sql.execution.ProjectExec
    val ns = nodes(SparkEntry.queries("s_ann_sq8")(spark, dir))
    def decodes(p: SparkPlan): Boolean = p match {
      case pr: ProjectExec =>
        pr.projectList.exists(_.toString.contains("transform("))
      case _ => false
    }
    val joins = ns.filter(_.nodeName.contains("Join"))
    assert(joins.nonEmpty)
    val belowJoins = joins.flatMap(j => j.children.flatMap(flatten(_)))
      .filter(decodes)
    // decode is a projection inside the corpus scan stage (below the
    // join) — and nowhere else: a decode ABOVE the join would re-run
    // the 64-lambda transform once per candidate pair instead of once
    // per corpus row
    assert(belowJoins.nonEmpty, "no map-side decode below the join")
    assert(ns.count(decodes) === belowJoins.size,
      "decode re-evaluated above the scoring join (per pair)")
  }

  test("mix interleave: bounded prefix rides TakeOrderedAndProject") {
    val ns = nodes(SparkEntry.queries("t_mix_interleave")(spark, dir))
    // limit-after-sort must collapse to a streaming top-k: a global Sort
    // + CollectLimit would materialize the full corpus ordering
    assert(ns.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "interleave prefix runs a full global sort: " +
        ns.map(_.nodeName).distinct.mkString(","))
  }

  test("point lookup: one bucket dir, the key pushed into parquet, no job") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val t = graft.operators.GraftTable(spark, tmpDir("plan-lookup"),
      Seq("id"), StructType(Seq(StructField("id", LongType),
        StructField("v", StringType))))
    // bucket 2 starts at 2 × 4294967; small row groups give its files
    // several each, so the pushed key has row groups to skip
    val base = 2 * 4294967L
    val bucketRows = 20000L
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.setInt("parquet.block.size", 16384)
    try t.append((base until base + bucketRows).map(k => (k, s"v$k")).toDF("id", "v"), 1)
    finally hadoop.unset("parquet.block.size")
    t.append(Seq((1L, "a")).toDF("id", "v"), 2)
    val key = base + 12345
    val (df, jobs) = jobsOf {
      val df = t.lookup(key)
      assert(df.collect().map(_.getString(1)).toSeq === Seq(s"v$key"))
      df
    }
    assert(jobs === 0, s"bucketed lookup ran $jobs jobs")
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains("_bucket=2/")),
      "lookup reads more than the key's bucket: " + df.inputFiles.mkString(","))
    val read = df.queryExecution.executedPlan match {
      case p: graft.functions.PointLookupExec => p
      case p => fail("bucketed lookup is not a point read:\n" + p.treeString)
    }
    def metric(n: String) = read.metrics(n).value
    assert(metric("rowGroupsSkipped") > 0, "no row group skipped by the pushed key")
    assert(metric("rowsDecoded") > 0 && metric("rowsDecoded") < bucketRows,
      s"decoded ${metric("rowsDecoded")} of the bucket's $bucketRows rows")
  }

  test("bm25: inverted-index probes are broadcast hash joins") {
    // Operator-level, like the minhash pin: the gated t_bm25_topk reads
    // the memo's one-leaf checkpoint, so the ranking builder the memo
    // runs once per session is audited directly.
    val ns = nodes(graft.queries.TextQueries.bm25Ranked(spark, dir, k = 20))
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")),
      "bm25 degraded to a cartesian")
    // the one-row stats crossJoin is the ONLY nested-loop-shaped join
    val bnlj =
      ns.count(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins (scalar stats allows 1)")
    // the query-term probe into the postings is a broadcast hash join on
    // the term; df no longer needs a probe of its own (it is a count
    // window over the postings' term partitions), so no other join on
    // the term may appear — a shuffled one would re-move the postings
    val termJoins = ns.collect {
      case j: org.apache.spark.sql.execution.joins.HashJoin
        if j.leftKeys.exists(_.toString.startsWith("term#")) => j
      case j: SortMergeJoinExec
        if j.leftKeys.exists(_.toString.startsWith("term#")) => j
    }
    assert(termJoins.nonEmpty && termJoins.forall(
      _.isInstanceOf[BroadcastHashJoinExec]),
      "term probes are not broadcast hash joins: " +
        ns.map(_.nodeName).distinct.mkString(","))
    // the postings cross ONE exchange, hash-partitioned on the term
    val termExchanges = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if (e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.references.exists(_.name == "term")
          case _ => false
        }) => e
    }
    assert(termExchanges.map(System.identityHashCode).distinct.size === 1,
      s"postings shuffled ${termExchanges.size} times on the term")
  }

  test("cms/bloom: sketch relations broadcast into the probe side") {
    for (q <- Seq("t_cms_freq", "d_bloom_decontam")) {
      val ns = nodes(SparkEntry.queries(q)(spark, dir))
      assert(!ns.exists(p => p.nodeName.contains("CartesianProduct") ||
        p.nodeName.contains("BroadcastNestedLoopJoin")),
        s"$q degraded to a nested loop")
      assert(ns.exists { case _: BroadcastHashJoinExec => true
        case _ => false },
        s"$q sketch probe is not a broadcast hash join: " +
          ns.map(_.nodeName).distinct.mkString(","))
    }
  }

  test("hll sketch: two hash exchanges, nothing else moves") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val ns = nodes(graft.operators.Sketches.hllDistinct(
      docs, Seq("source"), col("text")))
    val shuffles = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // register agg on (group, bucket) + estimate agg on (group): the
    // whole exchanged volume is the ≤ |groups|·512-row register table
    assert(shuffles.size === 2,
      s"expected 2 exchanges, got ${shuffles.size}: " +
        shuffles.map(_.outputPartitioning).mkString(","))
    assert(shuffles.forall(_.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]),
      "sketch exchange is not hash-partitioned")
    assert(!ns.exists(p => p.nodeName.contains("Join") ||
      p.nodeName.contains("CartesianProduct")),
      "the sketch path should not join")
  }

  test("pca projection: map-only scan — no shuffle below the output sort") {
    val ns = nodes(SparkEntry.queries("s_pca_project")(spark, dir))
    assert(scansOf(ns, "embeddings").size === 1,
      "projection re-reads embeddings")
    val shuffles = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(_.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      "the frozen-axis projection should not shuffle: " +
        shuffles.map(_.outputPartitioning).mkString(","))
    assert(!ns.exists(_.nodeName.contains("Join")),
      "the projection path should not join")
  }

  test("incremental dedup: the batch broadcasts into the index probe") {
    // the gated query reads a memo: audit every plan its cold build runs
    graft.queries.clearFitMemo()
    val ns = executedNodes(
      SparkEntry.queries("d_incremental_neardup")(spark, dir).collect())
    // the standing index must be probed in place — a sort-merge join on
    // the band key would shuffle the whole index per ingest batch
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "index probe degraded to a sort-merge join")
    assert(!ns.exists(p => p.nodeName.contains("CartesianProduct") ||
      p.nodeName.contains("BroadcastNestedLoopJoin")),
      "incremental dedup planned a nested loop")
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "batch side did not broadcast into the index")
  }

  test("span scrub: token arrays never ride the skewed fingerprint key") {
    val ns = nodes(SparkEntry.queries("t_span_scrub")(spark, dir))
    val shuffles = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the fp-keyed exchanges (winner agg + join back) are the skew
    // hazard — a corpus-wide boilerplate chunk lands on one reducer, so
    // nothing variable-width may ride them; the token arrays may cross
    // only doc_id-keyed (uniform) or range (output sort) exchanges
    val textish = Set("toks", "text", "clean_text", "chunk")
    shuffles.foreach { e =>
      val carried = e.output.map(_.name).toSet
      val byFp = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "fp"))
        case _ => false
      }
      assert(!(byFp && carried.exists(textish)),
        s"text rides the fp shuffle: ${carried.mkString(",")}")
    }
    assert(shuffles.exists { e =>
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "fp"))
        case _ => false
      }
    }, "expected a fingerprint-keyed exchange (winner aggregation)")
  }

  test("ccnet buckets: cuts broadcast back; the LM scores compute once") {
    val ns = nodes(SparkEntry.queries("t_ccnet_buckets")(spark, dir))
    // the |langs|-row cuts relation must broadcast into the bucket
    // assignment — a sort-merge join on lang would shuffle every score
    // on a handful of hot language keys
    assert(ns.exists { case b: BroadcastHashJoinExec =>
      b.leftKeys.exists(_.references.exists(_.name == "lang")) ||
        b.rightKeys.exists(_.references.exists(_.name == "lang"))
      case _ => false },
      "cuts are not broadcast back on lang: " +
        ns.map(_.nodeName).distinct.mkString(","))
    // the scored frame feeds the cuts aggregate AND the final join —
    // both consumers must read the persisted intermediate, or the
    // whole bigram-LM subtree (two corpus aggregates) runs twice
    assert(ns.exists {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m.output.exists(_.name == "avg_bigram_p")
      case _ => false },
      "LM scoring subtree is not cached across its two consumers")
  }

  test("source divergence: occurrences aggregate before any exchange") {
    val ns = nodes(SparkEntry.queries("t_source_divergence")(spark, dir))
    // the term-occurrence stream must partially aggregate map-side —
    // an exchange carrying raw `term` rows would shuffle the corpus
    val shuffles = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "term"),
        s"raw term occurrences ride an exchange: ${e.output.map(_.name)}")
    }
    // grid-side joins stay broadcast; no sort-merge anywhere
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a grid-sized join degraded to sort-merge")
  }

  test("dump novelty: text never shuffles; the anti-join runs on shingles") {
    val ns = nodes(SparkEntry.queries("t_dump_novelty")(spark, dir))
    val shuffles = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text rides an exchange: ${e.output.map(_.name)}")
    }
    assert(ns.exists(p => p.nodeName.contains("Join") &&
      p.toString.contains("LeftAnti")),
      "expected a left-anti shingle join: " +
        ns.map(_.nodeName).distinct.mkString(","))
  }

  test("filter funnel: one corpus scan; only bounded stage rows exchange") {
    val ns = nodes(SparkEntry.queries("t_filter_funnel")(spark, dir))
    // every rule evaluates in ONE pass over documents — a per-rule
    // corpus scan would show up as extra FileSourceScans
    assert(scansOf(ns, "documents").size == 1,
      "rule evaluation re-scanned the corpus: " +
        scansOf(ns, "documents").size + " scans")
    // nothing corpus-sized crosses an exchange: the only shuffled keys
    // are the |rules|+1 stage aggregate and the tiny funnel sort
    val shuffles = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      assert(!e.output.exists(a => a.name == "text" || a.name == "doc_id"),
        s"corpus rows ride an exchange: ${e.output.map(_.name)}")
    }
    // the order/totals joins over |rules| rows must never sort-merge
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a rules-sized join degraded to sort-merge")
  }

  /** An exchange the decode plans are ALLOWED to carry besides the
    * driver-contract output sort: the round-robin spread of the bare
    * seed columns (doc_id/n_chars longs) that parallelizes the
    * map-side build+decode over a single-split local fixture
    * ([[graft.operators.Partitioning.spread]] — a no-op at real scale,
    * where the input already has ≥ cores splits). It must sit BELOW
    * the decode: only fixed-width numeric seeds may ride it, never a
    * payload or text column. */
  private def isSeedSpread(
      e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec)
      : Boolean =
    e.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] &&
      e.output.forall(a => a.dataType ==
        org.apache.spark.sql.types.LongType)

  test("media decode: payloads never cross an exchange; sort-only plans") {
    // the decode runs per-partition where the payload lives; only the
    // small typed stat rows continue — at 100 TB of media the binary
    // column must never ride a shuffle, and the only exchanges are the
    // driver-contract output sort and the seed spread below the decode
    for (q <- Seq("mm_bmp_pixels", "mm_png_pixels", "mm_gif_pixels",
        "mm_jpeg_pixels", "mm_jpeg_rgb", "mm_jpeg_420", "mm_jpeg_prog",
        "mm_jpeg_refine", "mm_wav_samples", "mm_wav_ulaw",
        "mm_codec_roundtrip", "mm_bmp_palette", "mm_png_palette",
        "mm_gif_frames", "mm_tiff_pixels", "mm_exif_meta", "mm_webp_meta",
        "mm_wav_adpcm", "mm_flac_pcm", "mm_flac_lpc", "mm_flac_stereo",
        "mm_flac_wasted", "mm_mp3_meta", "mm_mp3_vbr", "mm_id3_tags",
        "mm_aac_adts", "mm_ogg_meta", "mm_opus_meta", "mm_vorbis_tags",
        "mm_mp4_meta", "mm_mp4_samples", "mm_avc_sps")) {
      val ns = nodes(SparkEntry.queries(q)(spark, dir))
      val shuffles = ns.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      shuffles.foreach { e =>
        assert(!e.output.exists(_.dataType ==
          org.apache.spark.sql.types.BinaryType),
          s"$q: media payload rides an exchange: ${e.output.map(_.name)}")
        assert(e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] ||
          isSeedSpread(e),
          s"$q: a non-sort exchange crept into the decode pass")
      }
      assert(!ns.exists(_.nodeName.contains("Join")),
        s"$q: decode planned a join")
    }
    // the two media ops with a real aggregation (image-hash dedup,
    // audio energy) may hash-exchange their SMALL keys, but the binary
    // payload still must never ride any exchange
    for (q <- Seq("mm_ahash_dupes", "mm_wav_energy", "mm_wav_zcr")) {
      val ns = nodes(SparkEntry.queries(q)(spark, dir))
      val shuffles = ns.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty, s"$q: expected an aggregation exchange")
      shuffles.foreach { e =>
        assert(!e.output.exists(_.dataType ==
          org.apache.spark.sql.types.BinaryType),
          s"$q: media payload rides an exchange: ${e.output.map(_.name)}")
      }
      assert(!ns.exists(_.nodeName.contains("Join")),
        s"$q: decode planned a join")
    }
    // banded Hamming near-dup joins (image + simhash): the ONLY join
    // is the (band, value) equi-join — never a cartesian/nested-loop
    // all-pairs scan — and no payload bytes ride any exchange
    for (q <- Seq("mm_image_neardups", "d_simhash_neardups",
        "mm_phash_dupes", "mm_video_neardups")) {
      val ns = nodes(SparkEntry.queries(q)(spark, dir))
      assert(!ns.exists(n => n.nodeName.contains("CartesianProduct") ||
          n.nodeName.contains("BroadcastNestedLoop")),
        s"$q: the banded join degraded to an all-pairs scan")
      ns.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          // "buf" is ObjectHashAggregate's partial-aggregation buffer
          // (mm_video_neardups' per-video hash-sequence collect — ~70
          // bytes per sampled frame, one row per video), not payload
          // bytes; every other BinaryType attribute on an exchange here
          // would be a decoded media payload leaking into a shuffle
          assert(!e.output.exists(a => a.dataType ==
            org.apache.spark.sql.types.BinaryType && a.name != "buf"),
            s"$q: payload rides an exchange: ${e.output.map(_.name)}")
      }
    }
  }

  test("z-order layout: pruned scans, broadcast stats row, codegen'd z") {
    val ns = nodes(SparkEntry.queries("q_zorder_layout")(spark, dir))
    // two lineitem passes by design — the 1-row min/max stats aggregate
    // and the layout projection — and BOTH must prune to the 2 dims
    val scans = scansOf(ns, "lineitem")
    assert(scans.size == 2, s"expected stats + layout scans, got ${scans.size}")
    scans.foreach { s =>
      assert(s.schema.fieldNames.toSet.subsetOf(Set("l_partkey", "l_suppkey")),
        s"scan read ${s.schema.fieldNames.mkString(",")}")
    }
    // the stats row joins back by broadcast, never a shuffled join
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "the 1-row stats join degraded to sort-merge")
    // the Morton projection stays inside whole-stage codegen: the layout
    // pass IS the 100 TB rewrite, it must run at scan speed
    val zInCodegen = ns.collect { case w: WholeStageCodegenExec => w }.exists(
      _.collect { case p: org.apache.spark.sql.execution.ProjectExec => p }
        .exists(_.projectList.exists(
          _.exists(_.isInstanceOf[graft.functions.ZValue]))))
    assert(zInCodegen, "z projection fell out of whole-stage codegen")
  }

  test("mix schedule: selection is one map-only scan after the totals agg") {
    val ns = nodes(SparkEntry.queries("t_mix_schedule")(spark, dir))
    // one exchange allowed: the driver-contract output sort; the
    // phase-threshold selection itself must not shuffle or join
    assert(!ns.exists(p => p.nodeName.contains("Join") ||
      p.nodeName.contains("CartesianProduct")),
      "phase selection planned a join: " +
        ns.map(_.nodeName).distinct.mkString(","))
    val shuffles = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(
      _.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      "a non-sort exchange crept into the selection pass: " +
        shuffles.map(_.outputPartitioning.toString).mkString(","))
  }

  test("round-12 intake gates: decode rides the scan, no stray exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // binlog files, JSONB docs, warc.gz archives, EBML containers, Opus
    // TOCs: all build+decode map-side; the exchanges each plan may
    // carry are the driver-contract output sort (range partitioning)
    // and the long-only seed spread below the decode (isSeedSpread) —
    // payload bytes still never ride any exchange. t_warc_ingest
    // spreads (doc_id, text) because the text IS the archive content
    // being packed; its exchange is checked separately.
    Seq("cdc_binlog_decode", "conv_jsonb_decode",
      "mm_mkv_meta", "mm_opus_toc",
      // round 13: partial-JSON binlog materialization and the VP8L
      // entropy decode are the same shape — map-side build+decode,
      // output sort + seed spread are the only exchanges
      "cdc_binlog_partial", "cdc_binlog_tpayload",
      "mm_webpl_pixels", "mm_webpl_palette",
      "mm_webpl_predict", "mm_webpl_cross", "mm_webpl_meta",
      "mm_tiff_lzw", "mm_png_adam7", "mm_vp8_pixels",
      "mm_webp_lossy", "mm_webm_frames", "mm_avc_islice").foreach { q =>
      val ns = nodes(SparkEntry.queries(q)(spark, dir))
      assert(!ns.exists(p => p.nodeName.contains("Join") ||
        p.nodeName.contains("CartesianProduct")),
        s"$q planned a join: " + ns.map(_.nodeName).distinct.mkString(","))
      val shuffles = ns.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.forall(e =>
        e.outputPartitioning.isInstanceOf[RangePartitioning] ||
          isSeedSpread(e)),
        s"$q: a non-sort exchange crept in: " +
          shuffles.map(_.outputPartitioning.toString).mkString(","))
    }
    // t_warc_ingest's spread carries (doc_id, text) — the source text
    // is the bytes being packed into the archive, so it rides the
    // round-robin spread ONCE, before the gzip members exist; the
    // decoded archive payload itself still never crosses an exchange
    locally {
      val ns = nodes(SparkEntry.queries("t_warc_ingest")(spark, dir))
      assert(!ns.exists(p => p.nodeName.contains("Join")),
        "t_warc_ingest planned a join")
      val shuffles = ns.collect { case e: ShuffleExchangeExec => e }
      shuffles.foreach { e =>
        assert(!e.output.exists(_.dataType ==
          org.apache.spark.sql.types.BinaryType),
          s"t_warc_ingest: archive bytes ride an exchange: " +
            e.output.map(_.name))
        assert(e.outputPartitioning.isInstanceOf[RangePartitioning] ||
          e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical
              .RoundRobinPartitioning],
          "t_warc_ingest: unexpected exchange kind")
      }
    }
    // t_url_canon groups by the canonical URL: the aggregation must be
    // partial (map-side combine before its one hash exchange)
    val ns = nodes(SparkEntry.queries("t_url_canon")(spark, dir))
    assert(!ns.exists(p => p.nodeName.contains("Join")))
    val aggs = ns.collect { case a: HashAggregateExec => a }
    assert(aggs.size >= 2,
      "expected partial+final aggregation pair, got " + aggs.size)
    val hashShuffles = ns.collect {
      case e: ShuffleExchangeExec
        if !e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(hashShuffles.size == 1,
      s"expected exactly the group-by exchange, got ${hashShuffles.size}")
  }
}
