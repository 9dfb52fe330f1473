package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a benchmark call, a Spark job or stage, or a
  * micro-batch. `parent` is the id of the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Long, endMs: Long, attrs: Map[String, String])

/** Spans around every public call the benchmark makes, with Spark's own
  * listeners supplying jobs, stages, tasks and planning phases as
  * children. Everything stays in memory until [[write]]. When disabled,
  * [[span]] only runs its body. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val spans = new ConcurrentLinkedQueue[Span]

  /** Benchmark span; Spark jobs started inside it record it as parent
    * through a thread-local Spark property. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.currentTimeMillis()
      try f
      finally {
        spans.add(Span(id, parent, "bench", name, t0, System.currentTimeMillis(), Map.empty))
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  private val SpanKey = "perfbench.span"

  // ------------------------------------------------------ Spark side

  final case class JobInfo(id: Int, parent: Long, batch: Long, execId: Long,
                           start: Long, callSite: String, files: Set[String])
  private val jobs = new ConcurrentHashMap[Int, JobInfo]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
  /** finished jobs: (info, end ms) */
  val finishedJobs = new ConcurrentLinkedQueue[(JobInfo, Long)]
  val tasks = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  /** tasks run per micro-batch id */
  private val batchTasks = new ConcurrentHashMap[Long, LongAdder]
  /** bytes written by task output per job id */
  private val jobOutputBytes = new ConcurrentHashMap[Int, LongAdder]
  /** max ÷ median task time, per completed stage with ≥ 2 tasks */
  val stageSkew = new ConcurrentLinkedQueue[Double]
  /** SQL execution id → (short, long) call site of the thread that ran it */
  private val execCallSite = new ConcurrentHashMap[Long, (String, String)]
  /** SQL executions that overwrite a table's files (GraftTable.compact's
    * epoch rewrite; the CDC path only appends): id → start ms */
  private val rewriteStart = new ConcurrentHashMap[Long, Long]
  /** finished rewrites: (execution id, wall ms) */
  val rewrites = new ConcurrentLinkedQueue[(Long, Long)]
  /** planning ms of every query execution, from QueryExecution.tracker */
  val planMs = new DoubleAdder
  /** per benchmark call name: (planning ms, files read) of its query */
  val queryStats = new ConcurrentLinkedQueue[(String, Double, Long)]

  /** graft frames, and the benchmark's own (its direct calls into Spark) */
  private val GraftFrame = """(?:graft|perfbench)\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // AQE runs query stages from its own threads: the call site of the
      // SQL execution, taken on the calling thread, is the one to keep
      val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      val stage = e.stageInfos.sortBy(-_.stageId).headOption
      val (name, stack) = Option(execCallSite.get(execId))
        .getOrElse((stage.map(_.name).getOrElse(""), stage.map(_.details).getOrElse("")))
      val frames = GraftFrame.findAllMatchIn(stack).toSeq
      val files = frames.map(_.group(1)).toSet
      jobs.put(e.jobId, JobInfo(e.jobId, prop(SpanKey).map(_.toLong).getOrElse(0L),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), execId,
        e.time, frames.headOption.map(_.matched).getOrElse(name), files))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execCallSite.put(s.executionId, (s.description, s.details))
        val plan = s.physicalPlanDescription
        if (plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(", Overwrite,"))
          rewriteStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execCallSite.remove(s.executionId)
        Option(rewriteStart.remove(s.executionId)).foreach(t0 =>
          rewrites.add((s.executionId, s.time - t0)))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach(j => finishedJobs.add((j, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val times = Option(stageTaskMs.remove(si.stageId)).map(_.asScala.toSeq.sorted)
        .getOrElse(Seq.empty)
      if (times.size >= 2) {
        val med = Stats.quantile(times.map(_.toDouble), 0.5)
        if (med > 0) stageSkew.add(times.last / med)
      }
      for (s <- si.submissionTime; c <- si.completionTime) {
        val job = Option(stageJob.get(si.stageId)).map(_.toLong).getOrElse(0L)
        spans.add(Span(ids.incrementAndGet(), -job - 1, "stage", si.name, s, c,
          Map("stage" -> si.stageId.toString, "tasks" -> si.numTasks.toString)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).filter(_.batch >= 0)
        .foreach(j => batchTasks.computeIfAbsent(j.batch, _ => new LongAdder).increment())
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long])
        .add(e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(stageJob.get(e.stageId)).foreach(j =>
          jobOutputBytes.computeIfAbsent(j, _ => new LongAdder)
            .add(m.outputMetrics.bytesWritten))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Planning time and files read of a query the benchmark just ran,
    * from its own QueryExecution (traced windows only). */
  def recordQuery(name: String, df: org.apache.spark.sql.DataFrame): Unit =
    if (enabled) {
      val qe = df.queryExecution
      queryStats.add((name, qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
        filesRead(qe.executedPlan)))
    }

  /** Files opened by every file scan in an executed plan, through AQE. */
  private def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case s: FileSourceScanLike =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case p => p.children.map(filesRead).sum + p.subqueries.map(filesRead).sum
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        spans.add(Span(ids.incrementAndGet(), 0L, "batch", s"batch-${p.batchId}",
          start, start + total,
          p.durationMs.asScala.map { case (k, v) => k -> v.toString }.toMap +
            ("rows" -> p.numInputRows.toString) + ("batchId" -> p.batchId.toString)))
      }
    }
  }

  private def codegenCount = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount
  private def codegenMean = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getSnapshot.getMean
  private var codegen0 = 0L
  private var codegenMs = 0.0

  def start(): Unit = {
    codegen0 = codegenCount
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Detach every listener; waits for the listener bus to drain first so
    * the last jobs' end events are counted. */
  def stop(): Unit = {
    enabled = false
    drain()
    codegenMs = (codegenCount - codegen0) * codegenMean
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spark's listener bus is asynchronous; give it time to deliver the
    * events of jobs that already finished. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(200)
    while (!jobs.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  // --------------------------------------------------------- results

  private def jobSpans: Seq[(JobInfo, Long)] = finishedJobs.asScala.toSeq

  def benchSpans(name: String): Seq[Span] =
    spans.asScala.toSeq.filter(s => s.kind == "bench" && s.name == name)

  def planMsOf(name: String): Seq[Double] =
    queryStats.asScala.toSeq.collect { case (`name`, ms, _) => ms }
  def filesReadOf(name: String): Seq[Double] =
    queryStats.asScala.toSeq.collect { case (`name`, _, n) => n.toDouble }

  /** Jobs whose call stack passed through a graft source file, summed by
    * file (inclusive: a job counts for every graft file on its stack). */
  def jobMsByFile: Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    jobSpans.foreach { case (j, end) =>
      val d = (end - j.start).toDouble
      if (j.files.isEmpty) m("other") += d else j.files.foreach(f => m(f) += d)
    }
    m.toMap
  }

  /** Jobs, and tasks, per micro-batch id. */
  def perBatchJobs: Map[Long, Int] =
    jobSpans.filter(_._1.batch >= 0).groupBy(_._1.batch).map { case (b, js) => b -> js.size }
  def perBatchTasks: Map[Long, Long] =
    batchTasks.asScala.map { case (b, n) => b.longValue -> n.sum }.toMap

  /** Compactions: (wall ms, bytes written) of every execution that
    * overwrote table files. */
  def compactions: Seq[(Double, Long)] = {
    val byExec = jobSpans.groupBy(_._1.execId)
    rewrites.asScala.toSeq.map { case (exec, ms) =>
      (ms.toDouble, byExec.getOrElse(exec, Nil)
        .map(j => Option(jobOutputBytes.get(j._1.id)).map(_.sum).getOrElse(0L)).sum)
    }
  }

  def jobsCount: Int = jobSpans.size

  /** Span time of top-level benchmark spans not covered by any Spark job
    * started under that span or its children. */
  def driverMs: Double = {
    val all = spans.asScala.toSeq.filter(_.kind == "bench")
    val childrenOf = all.groupBy(_.parent)
    def subtree(id: Long): Set[Long] =
      childrenOf.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSet + id
    val byParent = jobSpans.groupBy(_._1.parent)
    all.filter(_.parent == 0).map { root =>
      val ids = subtree(root.id)
      val iv = ids.toSeq.flatMap(i => byParent.getOrElse(i, Nil))
        .map { case (j, end) => (math.max(j.start, root.startMs), math.min(end, root.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (root.endMs - root.startMs - covered).toDouble
    }.sum
  }

  def codegenCompileMs: Double = codegenMs

  /** Spans as JSON lines: benchmark calls, micro-batches, then jobs (with
    * their benchmark span or micro-batch as parent) and stages. */
  def write(path: java.nio.file.Path): Unit = {
    val jobLines = jobSpans.map { case (j, end) =>
      Span(-j.id - 1, if (j.parent > 0) j.parent else 0L, "job", j.callSite, j.start, end,
        Map("batch" -> j.batch.toString, "files" -> j.files.toSeq.sorted.mkString(",")))
    }
    val lines = (spans.asScala.toSeq ++ jobLines).sortBy(_.startMs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
