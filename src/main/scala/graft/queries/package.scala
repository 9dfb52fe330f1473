package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import scala.jdk.CollectionConverters._

package object queries {

  type QueryFn = (SparkSession, String) => DataFrame

  /** Exact money arithmetic for oracle parity: sum in decimal (exact,
    * order-independent), round, then hand back a double so Spark and the
    * DuckDB oracle agree bit-for-bit regardless of aggregation order.
    * Double-sum would differ in the low bits between engines because
    * float addition is not associative.
    */
  def moneySum(c: Column): Column =
    round(sum(c.cast(DecimalType(18, 2))), 2).cast("double")

  /** sum(price * (1 - discount)) with both factors snapped to exact
    * decimals before multiplying — the TPC-H revenue expression.
    */
  def revenueSum(price: Column, discount: Column): Column =
    round(sum(price.cast(DecimalType(18, 2)) *
      (lit(1.0) - discount).cast(DecimalType(8, 4))), 2).cast("double")

  /** DuckDB-side twin of [[moneySum]]. */
  def sqlMoneySum(expr: String): String =
    s"CAST(ROUND(SUM(CAST($expr AS DECIMAL(18,2))),2) AS DOUBLE)"

  def sqlRevenueSum(price: String, discount: String): String =
    s"CAST(ROUND(SUM(CAST($price AS DECIMAL(18,2)) * CAST(1.0 - $discount AS DECIMAL(8,4))),2) AS DOUBLE)"

  /** events.ts is nanosecond-precision parquet; Spark truncates to micros
    * while DuckDB keeps nanos — never emit it raw, always as seconds text.
    */
  def tsSeconds(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
  val sqlTsSeconds: String => String =
    c => s"strftime($c, '%Y-%m-%d %H:%M:%S')"

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Structured-Streaming file source over one fixture table, schema
    * probed from the batch read. Handles BOTH physical layouts:
    * `<dir>/<name>.parquet` as a single FILE (the driver's
    * pyarrow-written fixtures — streamed via a pathGlobFilter on the
    * parent, since the file source wants a directory) and as a
    * DIRECTORY of part files (anything Spark itself wrote, e.g. the
    * ScaleFixture sf1/sf10 replicas — streamed directly). The glob
    * filter matches no part file in the directory layout, which made
    * every doc/event stream silently EMPTY at sf≥1 until the sf1
    * full-surface bench caught t_stream_route reading back a route
    * store no micro-batch had ever created. */
  def streamTable(spark: SparkSession, dir: String,
                  name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // single Hadoop stat, BEFORE the schema probe: a missing table
    // surfaces here (FileNotFoundException) and the status is reused
    // for the layout branch instead of stat-ing the path twice
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(hPath)
    val schema = spark.read.parquet(path).schema
    if (status.isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** Process-wide fit memo, keyed by (fixture dir, hyperparameters).
    * Every fit cached here must be a DETERMINISTIC pure function of its
    * inputs (the invariant the frozen-literal oracles rely on), so
    * caching is semantics-free: queries sharing a model train it once —
    * also the production shape, where models are ingest-time artifacts,
    * not per-query work. Driver memory per model: k·d doubles, a few
    * KB. Shared by SimilarityQueries (ANN family) and TextQueries (the
    * quality classifier) so the keying convention can't drift. */
  private val fitMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private[queries] def memoFit[T <: AnyRef](key: String)(fit: => T): T = {
    val existing = fitMemo.get(key)
    if (existing != null) return existing.asInstanceOf[T]
    // NOT computeIfAbsent: memo builders legitimately NEST (the pair
    // memos build over the shingle memo), and a nested computeIfAbsent
    // on the same map is unspecified — IllegalStateException "Recursive
    // update" whenever the inner key happens to land in the outer key's
    // bin. get/putIfAbsent keeps reentrancy; the worst case is two
    // threads racing to build the same DETERMINISTIC fit, where the
    // loser's copy is released and discarded.
    val v = fit
    val prev = fitMemo.putIfAbsent(key, v)
    if (prev == null) v
    else { release(v); prev.asInstanceOf[T] }
  }

  /** A memoized relation and the checkpoint RDD holding its rows. */
  private final case class Pinned(df: DataFrame,
                                  rdd: org.apache.spark.rdd.RDD[_])

  /** Memoize a deterministic relation with a TRUNCATED plan: an eager
    * [[graft.operators.Checkpoint]] materializes the rows once and hands
    * consumers a single LogicalRDD leaf instead of the builder's full
    * pipeline. With a checkpoint dir set (`sc.setCheckpointDir`) the rows
    * go to files there and a consumer survives lost executor blocks;
    * without one they are `localCheckpoint` blocks (internal rows,
    * MEMORY_AND_DISK — persist-equivalent storage).
    * For the dedup memos the un-truncated plans nested every upstream
    * cache into 9–18k-line trees, and EVERY action stringifies its plan
    * for the SQL-listener event while AQE walks it per stage — measured
    * (r14 JobProbe driver stack samples) as ~0.5–0.8 s of driver wall
    * around 40 ms of task work on each warm dedup query. Plan-shape
    * audits of the builder pipelines live at the OPERATOR level
    * (PlanAuditSpec builds them directly); statistics propagate into
    * the leaf, so consumer join strategies are unchanged.
    *
    * Keyed by the session's applicationId as well as `key`: the
    * checkpoint, unlike a pure model fit, is bound to the SparkContext
    * that built it. The memo owns the entry's whole lifecycle: once the
    * checkpoint holds the rows, what the build itself materialized and
    * its plan reads is freed, blocking — the Dataset caches it
    * registered (InMemoryRelations not cached before it began) and the
    * checkpoints it took (an operator's intermediate, such as the
    * per-doc shingle arrays of `Dedup.verifyOverlap`); nested memo
    * entries stay. [[clearFitMemo]] frees the entry's checkpoint. */
  private[queries] def memoCkpt(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame =
    memoFit(s"${s.sparkContext.applicationId}:$key") {
      // SparkPlan and RDD ids are allocated in creation order, and a
      // cache's physical plan is created when it is registered
      val before = s.range(0).queryExecution.sparkPlan.id
      val firstRdd = s.sparkContext.emptyRDD[Unit].id
      val built = build
      val (cp, rdd) = graft.operators.Checkpoint(built)
      cachesRead(built.queryExecution.executedPlan)
        .filter(_.cacheBuilder.cachedPlan.id > before)
        .foreach(r => s.sharedState.cacheManager.uncacheQuery(
          s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          r.cacheBuilder.logicalPlan, cascade = false, blocking = true))
      val pinned = fitMemo.values.asScala.collect {
        case p: Pinned => p.rdd.id }.toSet
      built.queryExecution.analyzed
        .collectWithSubqueries { case l: LogicalRDD => l.rdd }
        .filter(r => r.id > firstRdd && !pinned(r.id))
        .foreach(graft.operators.Checkpoint.release)
      Pinned(cp, rdd)
    }.df

  /** Every cached relation `p` reads, directly or through another cache. */
  private def cachesRead(p: SparkPlan): Seq[InMemoryRelation] = p match {
    case a: AdaptiveSparkPlanExec => cachesRead(a.inputPlan)
    case m: InMemoryTableScanExec =>
      m.relation +: cachesRead(m.relation.cacheBuilder.cachedPlan)
    case _ => (p.children ++ p.subqueries).flatMap(cachesRead)
  }

  private def release(v: AnyRef): Unit = v match {
    case p: Pinned => graft.operators.Checkpoint.release(p.rdd)
    case _ => ()
  }

  /** Drop every memoized fit and free the checkpoint (blocks, and files
    * if reliable) of every memoized relation. The bench harness calls
    * this between query families so one family's cached models/relations
    * can't skew another family's timings (and so back-to-back bench runs
    * start from the same cold state); correctness is unaffected — every
    * fit is a deterministic pure function, so a re-fit reproduces the
    * same model. */
  def clearFitMemo(): Unit =
    fitMemo.keySet.forEach(k => release(fitMemo.remove(k)))

  /** DuckDB twin of [[graft.operators.Dedup.dupClusters]]: the recursive
    * closure + component collapse over a pair relation `rel(id_a, id_b)`.
    * Callers splice this after their own `WITH RECURSIVE <pair CTEs>,`.
    * Shared by every "pairs → canonical clusters" oracle so the closure
    * semantics can't drift between queries. */
  def sqlComponentsOver(rel: String): String =
    s"""${sqlComponentLabelsCte(rel)}
       |SELECT comp AS canonical_id, COUNT(*) AS n_members,
       |  array_to_string(list(id ORDER BY id), ',') AS members
       |FROM comp GROUP BY comp ORDER BY canonical_id""".stripMargin

  /** The per-node half of [[sqlComponentsOver]] — CTEs ending in
    * `comp(id, comp)`, the DuckDB twin of
    * [[graft.operators.Dedup.componentLabels]]. Splice inside a
    * `WITH RECURSIVE` chain (no trailing comma) and write your own
    * final SELECT. */
  def sqlComponentLabelsCte(rel: String): String =
    s"""edges AS (SELECT id_a AS a, id_b AS b FROM $rel
       |  UNION ALL SELECT id_b, id_a FROM $rel),
       |reach(id, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
       |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)""".stripMargin

  /** Scope the session's shuffle-partition count to one query. Stateful
    * streaming pins ONE state-store instance (a RocksDB on disk) per
    * shuffle partition for the query's lifetime, so the stateful
    * exchange should be sized to the STATE volume — thousands of window/
    * fingerprint keys here — not inherited from the batch default; the
    * input scan's parallelism comes from file splits and is unaffected.
    * At real scale the same knob goes up, not down. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  /** Fixture for `t_url_canon`: doc pair (2k, 2k+1) carries the same
    * URL content through two different messes — case shuffles, query
    * reorder, %2d/%2D escape case, distinct dot-segment detours, a
    * default port on the even side only — so the gate's per-pair group
    * count proves the canonicalizer collapsed them. Path LETTER case
    * is pair-invariant on purpose: path case is significant and must
    * survive canonicalization. */
  def messyUrl(id: Long): String = {
    val s = id - id % 2
    val scheme = if (s % 4 < 2) "http" else "https"
    val host = s"www.site${s % 40}.example.com"
    val extraPort = if (s % 3 == 1) ":8080" else ""
    val queryParts =
      if (s % 5 == 0) None
      else Some((s"a=${s % 3}", s"m=k${s % 4}", s"z=${s % 10}"))
    if (id % 2 == 0) {
      val defaultPort =
        if (s % 3 == 0) { if (scheme == "http") ":80" else ":443" }
        else extraPort
      val q = queryParts.map { case (a, m, z) => s"?$z&$a&$m" }
        .getOrElse("")
      scheme.toUpperCase(java.util.Locale.ROOT) + "://" +
        host.toUpperCase(java.util.Locale.ROOT) + defaultPort +
        s"/a${s % 5}/./x/../b${s % 7}/d%2de%3f" + q + "#frag"
    } else {
      val mixed = host.zipWithIndex.map { case (c, i) =>
        if (i % 2 == 0) c.toUpper else c }.mkString
      val q = queryParts.map { case (a, m, z) => s"?$m&$z&$a" }
        .getOrElse("")
      s"$scheme://$mixed$extraPort/y/../a${s % 5}/b${s % 7}/d%2De%3F" +
        q + s"#x$id"
    }
  }

  /** Fixture for `t_robots_rules`: a deterministic robots.txt with a
    * specific-UA group and a `*` group, rotating newline conventions,
    * a BOM every 7th id, comments, an unknown directive, an empty
    * Disallow, and mixed-case directive names. */
  def robotsText(id: Long): String = {
    val nl = if (id % 2 == 0) "\r\n" else "\n"
    val bom = if (id % 7 == 0) "\uFEFF" else ""
    bom + Seq(
      "User-Agent: graftbot # our crawler",
      s"DISALLOW: /private${id % 5}/",
      s"Allow: /private${id % 5}/pub$$",
      s"Crawl-delay: ${id % 30}",
      "",
      "User-agent: *",
      "Disallow: /tmp*",
      "Disallow:",
      "Allow: /").mkString(nl)
  }
}
