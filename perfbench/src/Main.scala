package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one measurement window produced. `e2e` holds the end-to-end
  * metrics (BENCHMARK.json `end_to_end`, minus set-up and memory, which
  * [[Main]] adds); `report` holds the workload's own figures, which the
  * traced run publishes as `e2e.*` per-layer metrics. */
final case class Window(e2e: Map[String, Double], report: Map[String, Double],
                        attempted: Long)

/** One workload: set-up (input generation and warm-up) happens in the
  * constructor and [[warmUp]]; [[measure]] runs for a fixed wall time and
  * may be called twice (untraced, then traced); [[check]] compares the
  * program's final outputs with expectations derived from the inputs. */
trait Workload {
  def warmUp(): Unit
  def measure(seconds: Double): Window
  /** (check name, passed) */
  def check(): Seq[(String, Boolean)]
  /** Per-layer metrics read from the tracer after a traced window. */
  def layers(t: Tracer, w: Window): Map[String, Double]
}

/** @param scale input-size factor: 1 for measured runs, small for the
  *              build-time run that records the class-data-sharing archive */
final case class Ctx(spark: SparkSession, seed: Long, runDir: Path,
                     tracer: Tracer, fault: String, scale: Double = 1.0) {
  def dir(name: String): String = {
    val d = runDir.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

object Main {
  private val t0 = System.currentTimeMillis()
  /** Progress line on stderr, with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1e3}%7.2f s] $msg")

  /** Heap in use after a full collection: what the window left live.
    * Collected twice: Spark's ContextCleaner releases the blocks and
    * metadata of unreachable RDDs only after the first collection has
    * queued their references. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Sets GraftSession's lazily chosen scratch directory to "none". */
  private def skipSessionScratchDir(): Unit = {
    val cls = graft.GraftSession.getClass
    val dir = cls.getDeclaredField("scratchDir")
    val done = cls.getDeclaredField("bitmap$0")
    dir.setAccessible(true)
    done.setAccessible(true)
    dir.set(null, None)
    done.setBoolean(null, true)
  }

  private def arg(args: Array[String], name: String, default: String): String =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(default)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload", "")
    val seed = arg(args, "--seed", "1").toLong
    val seconds = arg(args, "--seconds", "10").toDouble
    val trace = arg(args, "--trace", "0") == "1"
    val runDir = Paths.get(arg(args, "--run-dir", "")).toAbsolutePath
    val fixtureDir = arg(args, "--fixture-dir", "")
    val fault = arg(args, "--fault", "none")
    val cpus = Runtime.getRuntime.availableProcessors()

    // The benchmark writes only inside its run directory. graft's session
    // builder would create a per-process scratch directory under /dev/shm
    // and point java.io.tmpdir at it; mark that choice as made, with no
    // directory, and give Spark its scratch space here instead.
    skipSessionScratchDir()
    val spark = graft.GraftSession.builder(s"local[$cpus]", math.max(cpus, 4))
      .config("spark.local.dir", Files.createDirectories(runDir.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      // long call sites, so job time can be grouped by graft source file
      .config("spark.callstack.depth", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    log("session ready")
    val tracer = new Tracer(spark)
    def make(name: String, ctx: Ctx): Workload = name match {
      case "initial_sync" => new InitialSync(ctx)
      case "training_queries" => new TrainingQueries(ctx, fixtureDir)
      case other => sys.error(s"unknown workload '$other'")
    }
    if (workload == "prime") {
      // one small pass over every workload, so the JVM that records the
      // class-data-sharing archive loads the classes the runs will need
      Seq("initial_sync", "training_queries").foreach { name =>
        val w = make(name, Ctx(spark, seed, runDir.resolve(name), tracer, fault, 0.05))
        w.measure(1.0)
        w.check()
      }
      spark.stop()
      return
    }
    val w = make(workload, Ctx(spark, seed, runDir, tracer, fault))
    log("inputs ready")
    w.warmUp()
    System.gc()
    log("warm-up done")
    val setupEndMs = System.currentTimeMillis()

    val plain = w.measure(seconds)
    val memMb = liveHeapMb()
    log("window done")
    val layerMetrics =
      if (!trace) Map.empty[String, Double]
      else {
        tracer.start()
        val traced = tracer.span("traced_window")(w.measure(seconds))
        tracer.stop()
        tracer.write(runDir.resolve("trace.jsonl"))
        w.layers(tracer, traced) ++
          (plain.report ++ plain.e2e).map { case (k, v) => s"e2e.$k" -> v } ++
          Map(
            "trace.overhead_s" -> (traced.e2e("result_s") - plain.e2e("result_s")),
            "trace.spans" -> tracer.spans.size.toDouble,
            "spark.jobs" -> tracer.jobsCount.toDouble,
            "spark.tasks" -> tracer.tasks.sum.toDouble,
            "spark.cpu_ms" -> tracer.cpuNs.sum / 1e6,
            "spark.gc_ms" -> tracer.gcMs.sum.toDouble,
            "spark.shuffle_write_bytes" -> tracer.shuffleWriteBytes.sum.toDouble,
            "spark.spill_bytes" -> tracer.spillBytes.sum.toDouble,
            "spark.codegen_ms" -> tracer.codegenCompileMs,
            "spark.task_skew" -> Stats.median(tracer.stageSkew.asScala.toSeq),
            "spark.driver_ms" -> tracer.driverMs) ++
          tracer.jobMsByFile.map { case (f, ms) => s"spark.job_ms.$f" -> ms }
      }
    val checks = w.check()
    log("checks done")
    spark.stop()

    val metrics = plain.e2e ++ Map("mem_peak_mb" -> memMb) ++ layerMetrics
    val json =
      s"""{"setup_end_ms":$setupEndMs,""" +
        s""""attempted":${plain.attempted + checks.size},""" +
        s""""failed":${checks.count(!_._2)},""" +
        s""""checks":{${checks.map { case (n, ok) => s"${Json.str(n)}:$ok" }.mkString(",")}},""" +
        s""""report":{${plain.report.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},""" +
        s""""metrics":{${metrics.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}}}"""
    Files.write(runDir.resolve("result.json"), json.getBytes("UTF-8"))
  }
}
