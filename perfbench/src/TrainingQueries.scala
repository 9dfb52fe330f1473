package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** An analyst session: a fixed list of oracle-gated `SparkEntry` queries
  * over the generated fixture, each session started from
  * `queries.clearFitMemo()`. Closed loop, one caller. No CDC code runs
  * here, and the CDC workload runs none of these queries. */
final class TrainingQueries(ctx: Ctx, fixtureDir: String) extends Workload {
  import TrainingQueries._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val fns = Names.map(n => n -> graft.SparkEntry.queries(n))

  private final case class Session(ms: Double, cpuMs: Double, perQuery: Map[String, Double],
                                   perQueryCpu: Seq[Double],
                                   memoRdds: Int, memoBytes: Long,
                                   results: Map[String, (StructType, Array[Row])])

  private def session(): Session = tracer.span("session") {
    val t0 = System.nanoTime()
    val cpu0 = Stats.cpuMs()
    graft.queries.clearFitMemo()
    val sc = spark.sparkContext
    val memoRdds = sc.getPersistentRDDs.size
    val memoBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val results = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val times = fns.map { case (name, fn) =>
      val ((schema, rows), ms, cpu) = Stats.timedCpu(tracer.span(s"query.$name") {
        val df = fn(spark, fixtureDir)
        (df.schema, df.collect())
      })
      results(name) = (schema, rows)
      (name, ms, cpu)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    Main.log(f"session: ${ms / 1e3}%.2f s, memo RDDs after clear: $memoRdds")
    Session(ms, Stats.cpuMs() - cpu0, times.map(t => t._1 -> t._2).toMap, times.map(_._3),
      memoRdds, memoBytes, results.toMap)
  }

  private val warm = mutable.Buffer.empty[Double]
  def warmUp(): Unit = {
    // whole sessions until two in a row agree within 10%
    val t0 = System.nanoTime()
    var steady = false
    while (!steady && warm.size < MaxWarmSessions && (System.nanoTime() - t0) < MaxWarmNs) {
      warm += session().ms
      steady = warm.size >= 2 && math.abs(warm.last - warm(warm.size - 2)) <= 0.1 * warm.last
    }
  }

  private var last: Session = _
  private val memoGrowth = mutable.Buffer.empty[Int]

  def measure(seconds: Double): Window = {
    val t0 = System.nanoTime()
    val sessions = mutable.Buffer.empty[Session]
    while (sessions.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      sessions += session()
    last = sessions.last
    memoGrowth ++= sessions.map(_.memoRdds)
    val perQuery = Names.map(n => Stats.median(sessions.map(_.perQuery(n)).toSeq))
    val all = sessions.flatMap(_.perQuery.values).toSeq
    val sessionMs = Stats.median(sessions.map(_.ms).toSeq)
    Window(
      Map("result_s" -> sessionMs / 1e3,
        "read_p50_ms" -> Stats.quantile(all, 0.5),
        "result_cpu_s" -> Stats.median(sessions.map(_.cpuMs).toSeq) / 1e3,
        "read_cpu_ms" -> Stats.geomean(sessions.flatMap(_.perQueryCpu).toSeq)),
      Map("session_s" -> sessionMs / 1e3,
        "query_geomean_s" -> Stats.geomean(perQuery) / 1e3,
        "memo_rdds_after_clear" -> last.memoRdds.toDouble,
        "memo_bytes_after_clear" -> last.memoBytes.toDouble,
        "sessions" -> sessions.size.toDouble,
        "warmup_sessions" -> warm.size.toDouble) ++
        Names.zip(perQuery).map { case (n, ms) => s"query_ms.$n" -> ms },
      sessions.size.toLong * Names.size)
  }

  /** Writes the last session's result of every query, with its DuckDB
    * oracle SQL, for the hash comparison run.py makes after this process
    * exits. */
  def check(): Seq[(String, Boolean)] = {
    val out = ctx.runDir.resolve("query-results")
    last.results.foreach { case (name, (schema, rows0)) =>
      val rows = if (ctx.fault == "query" && name == Names.head) rows0.drop(1) else rows0
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    val oracles = graft.SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), Names.map(n =>
      s"${Json.str(n)}:${Json.str(oracles(n))}").mkString("{", ",", "}").getBytes("UTF-8"))
    Seq.empty
  }

  def layers(t: Tracer, w: Window): Map[String, Double] =
    Names.map(n => s"queries.${n}_ms" -> w.report(s"query_ms.$n")).toMap ++ Map(
      "queries.plan_ms" -> t.planMs.sum / w.report("sessions"),
      "queries.memo_rdds_after_clear" -> w.report("memo_rdds_after_clear"),
      "queries.memo_bytes_after_clear" -> w.report("memo_bytes_after_clear"),
      "queries.memo_rdds_growth" -> (memoGrowth.last - memoGrowth.head).toDouble)
}

object TrainingQueries {
  /** Analytic, dedup, similarity, text and multimodal families, including
    * the memo-sharing groups: the BM25 consumers (t_bm25_topk,
    * t_hybrid_rrf, t_ndcg_eval) and the shingle/pair-stat dedup
    * consumers. */
  val Names: Seq[String] = Seq(
    "q1_pricing_summary", "d_minhash_lsh", "d_dup_clusters", "s_ann_topk",
    "t_bm25_topk", "t_hybrid_rrf", "mm_wav_energy")
  val MaxWarmSessions = 3
  val MaxWarmNs = 15e9
}
