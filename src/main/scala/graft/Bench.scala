package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — the driver's per-round performance gate.
  *
  * Each query runs `SPARK_GRAFT_RUNS` times (default 5 — 3-run medians
  * left the e2e headline with ±30% between-invocation swing; five
  * stabilize it) and reports its
  * MEDIAN (plus min/max and the raw times): a single-shot bench cannot
  * tell an environment hiccup from a real regression — r5's
  * `s_ann_lsh_probe` 0.73→4.53 s "regression" was unadjudicable for
  * exactly that reason. The full result JSON is also written to a file
  * (`SPARK_GRAFT_BENCH_OUT`, default `bench_full.json`) because the
  * driver truncates long stdout lines: it keeps a ~2000-char tail and
  * parses the LAST line as JSON, so the final stdout line is a COMPACT
  * headline (`metric`/`value`/`unit`/`sf` + the throughput headlines +
  * per-family totals + an absolute `bench_file` pointer to the full
  * per-query object). The full ~47 KB line still prints above it —
  * nothing was removed from the output, the tail-parseable summary was
  * added (r13 VERDICT item 2: every BENCH_r*.json through r13 carried
  * "parsed": null because the full line never fit the tail window).
  *
  * == Family isolation (r7 finding) ==
  * The r7 official run was uniformly ~1.2× (tails 2-4×) slower than a
  * builder run of IDENTICAL code hours earlier — session-level state
  * from 160 queries × 5 runs in one JVM, not an operator change, and
  * therefore unadjudicable. The harness now bounds that state by QUERY
  * FAMILY (the name prefix: analytic/cdc/conversion/dedup/multimodal/
  * similarity/text):
  *  - queries run in a deterministic (family, name) order, so two runs
  *    of the same surface see the same cache/GC history;
  *  - between families the harness sweeps ALL session state —
  *    `catalog.clearCache()`, the process-wide fit memo
  *    ([[graft.queries.clearFitMemo]], which also unpersists memoized
  *    relations like the shared k-NN edge cache), temp views, then a
  *    GC — so one family's residue cannot skew another's timings;
  *  - WITHIN a family, Spark-level caches survive between queries and
  *    runs: deterministic shared fits (the IVF model, the k-NN edge
  *    relation) are computed once per family pass — the production
  *    shape, where models/neighbor graphs are ingest-time artifacts.
  *    Run 1 of the first consumer carries the cold cost (visible in
  *    that query's max); medians measure steady-state.
  *  - per query, the JVM's accumulated GC time across its PUBLISHED
  *    runs is reported (`gc_ms` in query_stats) so a slow tail can be
  *    attributed to collection pressure instead of guessed at; a run
  *    whose GC exceeds half its wall (>1 s) is flagged as session
  *    weather, re-run once after an untimed collection, and BOTH runs
  *    land in `gc_reruns` (the r11 official artifact breached the
  *    agreement bar on exactly one such 16.4 s/31 s-GC run);
  *  - each family gets one UNTIMED pass at the target sf immediately
  *    before its timed passes (r11: the r10 global up-front warmup
  *    left the first timed family minutes away from its own warmup,
  *    and it alone drifted to 1.254 agreement), and
  *    `SPARK_GRAFT_FAM_ROTATE=n` rotates family order for
  *    position-vs-family drift attribution.
  * `SPARK_GRAFT_PASSES` (default 2, so the official artifact carries
  * the evidence) repeats each FAMILY back-to-back — family-major, not
  * pass-major, so a family's two passes see near-identical predecessor
  * state (pass-major put ~15 min of other families between them, and
  * the agreement ratio measured heap/page-cache drift instead of
  * code). With passes ≥ 2 the JSON gains per-family per-pass totals
  * and a worst-family agreement ratio — the adjudicability check that
  * two back-to-back runs of identical code agree. Set 1 for cheap
  * local iteration.
  *
  * Beyond per-query timings it reports the two phase headlines
  * BASELINE.md measures for the reference (tests/test_performance.py):
  *  - `events_per_sec` — realtime CDC through the full durable
  *    `CdcPipeline.processBatch` path (from `cdc_e2e_replicate`);
  *  - `bulk_rows_per_sec` — initial replication through
  *    `Snapshot.runFrame` (the replicator's path for a frame without
  *    shard readers: one pass → conversion → versioned bucketed parquet,
  *    shard markers after it) over the sf lineitem fixture; published from a
  *    FRESH forked JVM running [[graft.tools.PhaseProbe]] (the
  *    in-sequence sample carries a ±2× session-weather band and is
  *    recorded as `inseq_*` inside `bulk` instead);
  * and `recall` — recall@3 of every approximate ANN query vs the exact
  * brute-force top-k (the oracles prove the approximate plans are
  * computed exactly; this tracks how approximate they ARE).
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
  }

  /** Query family by name prefix — the isolation unit. TPC-H shapes
    * (q1..q22) and the q_* analytics share one family: they hit the
    * same tables. */
  private def familyOf(name: String): String =
    name.split("_", 2)(0) match {
      case p if p.startsWith("q") => "analytic"
      case "cdc" => "cdc"
      case "conv" => "conversion"
      case "d" => "dedup"
      case "mm" => "multimodal"
      case "s" => "similarity"
      case "t" => "text"
      case other => other
    }

  /** Total JVM GC time so far, ms. */
  private def gcMs(): Long = {
    var s = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach { b => val t = b.getCollectionTime; if (t > 0) s += t }
    s
  }

  /** Initial-replication throughput: lineitem (the biggest fixture
    * table) pushed through the real snapshot path — CRC32 shard
    * predicates, MySQL-shaped type conversion, versioned bucket+salt
    * parquet writes — into a throwaway warehouse dir. Also times the
    * FINAL-view read over the loaded table (the reference's third
    * observable phase: `SELECT ... FINAL`, the dedup-on-read path every
    * downstream query pays) → (rows, loadSec, finalReadSec). */
  private[graft] def bulkLoad(spark: SparkSession, sfDir: String,
                              shards: Int): (Long, Double, Double) = {
    import graft.ddl.SchemaRegistry
    import graft.sources.Snapshot
    val registry = new SchemaRegistry
    registry.applySql(
      """CREATE TABLE lineitem (
        |  l_orderkey bigint NOT NULL, l_partkey bigint, l_suppkey bigint,
        |  l_linenumber int NOT NULL, l_quantity double,
        |  l_extendedprice double, l_discount double, l_tax double,
        |  l_returnflag varchar(1), l_linestatus varchar(1),
        |  l_shipdate timestamp,
        |  PRIMARY KEY (l_orderkey, l_linenumber))""".stripMargin)
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rows = src.count() // untimed: fixture metadata, not load work
    val wh = java.nio.file.Files.createTempDirectory("graft-bulk").toString
    val marks = java.nio.file.Files.createTempDirectory("graft-bulk-mk")
      .toString
    // cleanup in finally: a failed run must not leak a half-written
    // warehouse into the (tmpfs-backed) scratch dir for the later runs
    def rm(p: java.io.File): Unit = {
      Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
    }
    try {
      val t0 = System.nanoTime()
      val t = Snapshot.runFrame(spark, registry("lineitem"), s"$wh/lineitem",
        marks, shards, src)
      val sec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val finalRows = t.read.count() // FinalView dedup-on-read, not raw parquet
      val finalSec = (System.nanoTime() - t1) / 1e9
      // the synthetic fixture carries duplicate PKs by design, so FINAL
      // returns fewer rows than were loaded — the throughput denominator
      // is the rows SCANNED through the dedup (the work), not the output
      require(finalRows > 0 && finalRows <= rows,
        s"FINAL view implausible: $finalRows of $rows")
      (rows, sec, finalSec)
    } finally { rm(new java.io.File(wh)); rm(new java.io.File(marks)) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // SPARK_GRAFT_ONLY=q1,q2 narrows the run for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val spark = GraftSession.local(cpus)
    // The PUBLISHED bulk/FINAL headline comes from a fresh forked JVM
    // running PhaseProbe (warmup + 10 runs, median): back-to-back
    // same-HEAD in-sequence samples spread 178k–303k bulk / 696k–1.47M
    // FINAL (r11, SCALING.md:202-210) — a ±2× session-weather band on
    // a number published as a headline is not a measurement. The probe
    // IS the measurement; the in-sequence sample stays in "bulk"/
    // "final_read" as the session-tax record. The fork runs FIRST,
    // before this session touches anything: forked at the END of a
    // 30-min surface run, 3/10 probe runs stalled 6× on the session's
    // dirty page-cache/writeback legacy (23–30 s walls at 3 s GC) —
    // start-of-session forking reproduces the standalone-probe
    // conditions the r11 attribution was measured under. Fork args
    // replicate this JVM's own flags (add-opens, heap, collector) and
    // classpath — `run / fork := true` guarantees java.class.path is
    // the real one.
    val phaseProbe: Option[String] =
      if (only.nonEmpty) None
      else try {
        val outTmp = java.nio.file.Files
          .createTempFile("graft-phase", ".json").toString
        val javaBin = new java.io.File(
          new java.io.File(System.getProperty("java.home"), "bin"),
          "java").getAbsolutePath
        val jvmArgs = new java.util.ArrayList[String]()
        java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.forEach { a =>
            if (!a.startsWith("-agentlib")) { jvmArgs.add(a); () }
          }
        val cmd = new java.util.ArrayList[String]()
        cmd.add(javaBin)
        cmd.addAll(jvmArgs)
        cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
        cmd.add("graft.tools.PhaseProbe")
        cmd.add(sfDir); cmd.add(outTmp); cmd.add("10")
        val pb = new ProcessBuilder(cmd)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val done = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { proc.destroyForcibly(); proc.waitFor() }
        val f = java.nio.file.Paths.get(outTmp)
        val json =
          if (done && proc.exitValue() == 0 && java.nio.file.Files.exists(f))
            Some(new String(java.nio.file.Files.readAllBytes(f),
              "UTF-8").trim).filter(_.startsWith("{"))
          else None
        java.nio.file.Files.deleteIfExists(f)
        if (json.isEmpty)
          System.err.println("[bench] phase probe fork FAILED — " +
            "falling back to the in-sequence headline")
        json
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] phase probe fork FAILED: $e")
        None
      }
    // Untimed warmup at the smallest scale factor (when present next to
    // the bench dir): absorbs one-time JVM costs — Janino codegen
    // compilation, aggregate/join class loading, JIT — so the timed pass
    // measures steady-state throughput, matching how the reference's
    // long-lived replicator process is benchmarked. Failures are ignored
    // here; the timed loop reports them.
    val warmDir = new java.io.File(sfDir).getParentFile match {
      case null => None
      case p => Some(new java.io.File(p, "sf0.001")).filter(_.isDirectory)
    }
    // full session sweep — the family boundary (and warmup/pass exit)
    def sweep(): Unit = {
      spark.catalog.clearCache()
      graft.queries.clearFitMemo()
      graft.GraftSession.dropTempViews(spark)
      System.gc()
    }
    warmDir.foreach { d =>
      queries.values.foreach { fn =>
        try fn(spark, d.getPath).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
      sweep() // drop the warmup's cache/fit/shuffle residue untimed
    }
    // the warmup populated the e2e stats from a warmup fixture — a timed
    // run that then fails must not report the warmup's events/s under
    // the big sf label
    graft.queries.CdcQueries.lastE2eStats = None
    val warmTarget = !sys.env.get("SPARK_GRAFT_COLD").contains("1")

    // deterministic (family, name) order: two runs of the same surface
    // see the same cache/GC history, the precondition for comparing them
    val ordered = queries.toSeq.sortBy { case (n, _) => (familyOf(n), n) }
    // default 2: the official (driver-run) artifact itself must carry
    // the per-family agreement evidence — the r8 official run executed
    // one pass and its agreement field was vacuously 1.0, leaving
    // adjudicability proof only in the builder's committed run
    val passes =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)

    // A failed run must NOT masquerade as a timing: it records -1 and the
    // query lands in "errors" (median is over the successful runs only,
    // so one flaky failure doesn't hide two good timings — but ANY
    // failure is reported).
    val e2eRuns =
      scala.collection.mutable.ArrayBuffer[graft.queries.CdcQueries.E2eStats]()
    // GC-dominated runs that were flagged and re-run (r11 verdict: one
    // cdc_e2e_replicate run spiked 2.7 → 16.4 s with 31 s of timed GC
    // and pushed the official cdc agreement to 1.605 — session-heap
    // weather the isolated probe measures at 2.3 s steady; the
    // artifact must self-attribute): (query, flaggedSec, flaggedGcMs,
    // rerunSec, rerunGcMs)
    val gcReruns =
      scala.collection.mutable.ArrayBuffer[(String, Double, Long, Double, Long)]()
    // FAMILY-MAJOR pass order: each family runs all of its passes
    // back-to-back (sweep between), THEN the next family starts. With
    // pass-major order the two passes of a family sat ~15 min apart
    // with different predecessor state (heap shape, tmpfs fill, page
    // cache), and the agreement ratio measured that drift, not the
    // code: the r9 pass-major run scored text at 1.46 in-sequence vs
    // 1.04 for the identical family run alone. Back-to-back passes see
    // near-identical context, so agreement is a code-determinism
    // check again. perPass(p) is then reassembled in (family, name)
    // order for the downstream stats.
    // SPARK_GRAFT_FAM_ROTATE=n rotates the family execution order by n
    // positions — the position-vs-family attribution knob (r10 verdict:
    // the analytic family, which ran FIRST, was the only one whose
    // agreement drifted; rotating shows whether drift follows the
    // position or the family). Default 0 = deterministic alphabetical.
    val rotate = sys.env.getOrElse("SPARK_GRAFT_FAM_ROTATE", "0").toInt
    val famOrder0 = ordered.map { case (n, _) => familyOf(n) }.distinct
    val famOrder =
      if (famOrder0.isEmpty) famOrder0
      else {
        val r = ((rotate % famOrder0.size) + famOrder0.size) % famOrder0.size
        famOrder0.drop(r) ++ famOrder0.take(r)
      }
    val byFam = ordered.groupBy { case (n, _) => familyOf(n) }
    // per query: (name, family, run times, gc_timed_ms, gc_hygiene_ms)
    // — gc_timed covers the timed runs (plus the small between-run view
    // drops); gc_hygiene is the DELIBERATE untimed System.gc() below,
    // whose cost tracks session-wide heap state, not the query's own
    // allocation (the r9 artifact folded both into one counter, which
    // made the cdc family read as 70% GC when its timed share is ~20%)
    val cells = scala.collection.mutable.Map
      .empty[(String, Int), Seq[(String, String, Seq[Double], Long, Long)]]
    val cellWall = scala.collection.mutable.Map.empty[(String, Int), Double]
    for (fam <- famOrder) {
      // One untimed pass of THIS family at the target sf immediately
      // before its timed passes (unless SPARK_GRAFT_COLD=1). The r10
      // run warmed the whole surface globally up front, but by the
      // time a family's timed pass 0 ran, minutes of OTHER families'
      // warmups had churned the page cache and heap behind it — the
      // analytic family (first in timed order, warmed ~2 min earlier)
      // showed it as a 1.254 pass-agreement while every later family
      // sat ≤1.11. Family-local warming costs the same total work and
      // gives every family's pass 0 the same immediate predecessor
      // state as pass 1 — the agreement ratio compares like with like.
      if (warmTarget) {
        sweep()
        byFam(fam).foreach { case (_, fn) =>
          try fn(spark, sfDir).count()
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      for (p <- 0 until passes) {
        sweep() // family/pass boundary: every cell starts from the same state
        val cell0 = System.nanoTime()
        cells((fam, p)) = byFam(fam).map { case (name, fn) =>
            var gcTimed = 0L
            var gcHyg = 0L
            // one measured execution → (sec or -1 on failure, gcDeltaMs)
            def oneRun(): (Double, Long) = {
              graft.queries.CdcQueries.lastE2eStats = None
              val g0 = gcMs()
              val t0 = System.nanoTime()
              val ok = try { fn(spark, sfDir).count(); true } catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(s"[bench] $name FAILED: $e"); false
              }
              val elapsed = (System.nanoTime() - t0) / 1e9
              val gcd = gcMs() - g0
              // Streaming queries leave memory-sink tables behind —
              // driver-heap residents that accumulate; drop those per run.
              // Spark-level caches deliberately SURVIVE within the family
              // (see class doc): shared fits compute once per family pass.
              graft.GraftSession.dropTempViews(spark)
              graft.queries.CdcQueries.lastE2eStats.foreach(e2eRuns += _)
              (if (ok) elapsed else -1.0, gcd)
            }
            val times = (0 until runs).map { _ =>
              val (sec, gcd) = oneRun()
              // A run whose GC time exceeds half its wall (and isn't
              // trivially short) is measuring the session's heap
              // weather, not the operator: collect untimed, re-run
              // ONCE, publish the re-run, and record BOTH in
              // gc_reruns so the artifact self-attributes instead of
              // breaching the agreement bar unexplained.
              if (sec < 1.0 || gcd <= sec * 500) { gcTimed += gcd; sec }
              else {
                val hg0 = gcMs(); System.gc(); gcHyg += gcMs() - hg0
                val (sec2, gcd2) = oneRun()
                gcReruns += ((name, sec, gcd, sec2, gcd2))
                System.err.println(
                  f"[bench] $name GC-dominated run $sec%.2f s " +
                    f"(gc $gcd ms) re-run → $sec2%.2f s (gc $gcd2 ms)")
                gcTimed += gcd2
                sec2
              }
            }
            // Untimed, between queries: shuffle files on the (tmpfs) scratch
            // dir are only deleted when the ContextCleaner sees their
            // dependencies collected — without a GC nudge a 32 GiB heap can
            // go the whole bench without one, and ~1500 runs of shuffle
            // residue squeeze the page cache the later queries need. The r7
            // full-surface run showed exactly that shape: conv_scalar_suite
            // 0.5→8.3 s monotone ACROSS its own runs in-sequence, flat at
            // ~0.4 s in isolation.
            val hg1 = gcMs(); System.gc(); gcHyg += gcMs() - hg1
            (name, familyOf(name), times, gcTimed, gcHyg)
        }
        cellWall((fam, p)) = (System.nanoTime() - cell0) / 1e9
      }
    }
    sweep() // exit the timed loops from a clean state
    // perPass(p) = (name, family, times, gcTimed, gcHygiene) per cell
    val perPass: Seq[Seq[(String, String, Seq[Double], Long, Long)]] =
      (0 until passes).map(p => famOrder.flatMap(f => cells((f, p))))
    // merged view across passes: all runs concatenated per query
    val results: Seq[(String, Seq[Double])] = ordered.map { case (name, _) =>
      name -> perPass.flatMap(_.collectFirst {
        case (n, _, ts, _, _) if n == name => ts
      }.getOrElse(Seq.empty))
    }
    val gcByQuery: Map[String, Long] = ordered.map { case (name, _) =>
      name -> perPass.flatMap(_.collectFirst {
        case (n, _, _, g, _) if n == name => g
      }).sum
    }.toMap

    // phase 2 headline: bulk load (initial replication), same medians.
    // Skipped under SPARK_GRAFT_ONLY (cheap local iteration must not pay
    // three snapshot loads), and a failed run records -1 like a failed
    // query — one red phase must not destroy the run's other results.
    val bulkTimes =
      if (only.nonEmpty) Seq.empty
      else {
        // untimed warmup, same steady-state contract as every query
        // family (r11: the phase previously ran with NO warmup — its
        // run 1 carried snapshot-path JIT that a 15-run isolated
        // profile shows takes ~5 runs to converge, 2.8 s → 2.0 s,
        // and the 5-run median sat mid-curve)
        if (warmTarget)
          try bulkLoad(spark, sfDir, shards = 4)
          catch { case scala.util.control.NonFatal(_) => () }
        (0 until runs).map { _ =>
          try bulkLoad(spark, sfDir, shards = 4)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] bulk load FAILED: $e")
            (0L, -1.0, -1.0)
          }
        }
      }
    val bulkRows = bulkTimes.collectFirst { case (r, _, _) if r > 0 => r }
      .getOrElse(0L)
    val bulkMed = median(bulkTimes.map(_._2))
    val bulkRate = if (bulkMed > 0 && bulkRows > 0) bulkRows / bulkMed else 0.0
    val finalMed = median(bulkTimes.map(_._3))
    val finalRate =
      if (finalMed > 0 && bulkRows > 0) bulkRows / finalMed else 0.0

    def probeField(name: String): Option[Long] =
      phaseProbe.flatMap { j =>
        (s""""$name":(-?\\d+)""".r).findFirstMatchIn(j)
          .map(_.group(1).toLong)
      }
    val headlineBulk = probeField("bulk_rows_per_sec")
      .map(_.toDouble).getOrElse(bulkRate)
    val headlineFinal = probeField("final_rows_per_sec")
      .map(_.toDouble).getOrElse(finalRate)
    val headlineSource =
      if (probeField("bulk_rows_per_sec").isDefined) "phase_probe_fork"
      else "in_sequence"

    // ANN recall@3 vs the exact baseline — deterministic, computed once,
    // on both fixtures: the parquet embeddings (uniform random — the
    // degenerate worst case) and the clustered synthetic fixture (the
    // structure the methods are built for; where residual-code quality
    // is visible)
    val recall =
      if (only.nonEmpty) Map.empty[String, Double]
      else try graft.queries.SimilarityQueries.annRecall(spark, sfDir, k = 3)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] recall FAILED: $e"); Map.empty[String, Double]
      }
    val recallClustered =
      if (only.nonEmpty) Map.empty[String, Double]
      else try graft.queries.SimilarityQueries.annRecallOn(
        graft.queries.SimilarityQueries.clusteredEmbeddings(spark), k = 3)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] clustered recall FAILED: $e")
        Map.empty[String, Double]
      }
    spark.catalog.clearCache()

    // env-provided paths are spliced into the JSON — escape them like
    // every other string field or one quote in a path breaks the
    // round's whole performance artifact
    def esc(x: String): String =
      x.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    def fmtD(v: Double): String =
      if (!java.lang.Double.isFinite(v)) "-1"
      // Locale.ROOT: the default-locale format would emit "1,500000" on
      // comma-decimal JVMs and break every JSON consumer downstream
      else String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    val meds = results.map { case (k, v) => k -> median(v) }
    val qs = meds.map { case (k, v) => s"\"$k\":${fmtD(v)}" }
      .mkString("{", ",", "}")
    val stats = results.map { case (k, v) =>
      // min/max over SUCCESSFUL runs only — the -1 failure sentinel is
      // not a timing (median() already filters it); all-failed → -1
      val ok = v.filter(_ >= 0)
      val mn = if (ok.nonEmpty) ok.min else -1.0
      val mx = if (ok.nonEmpty) ok.max else -1.0
      s"\"$k\":{\"med\":${fmtD(median(v))},\"min\":${fmtD(mn)}," +
        s"\"max\":${fmtD(mx)},\"gc_ms\":${gcByQuery.getOrElse(k, 0L)}," +
        s"\"runs\":[${v.map(fmtD).mkString(",")}]}"
    }.mkString("{", ",", "}")
    // per-family, per-pass totals of within-pass query medians + the
    // cross-pass agreement ratio (worst family = the adjudicability
    // number two back-to-back runs are judged by)
    val famNames = perPass.head.map(_._2).distinct
    val famPassTotals: Map[String, Seq[Double]] = famNames.map { fam =>
      fam -> perPass.map(p =>
        p.collect { case (_, f, ts, _, _) if f == fam =>
          math.max(median(ts), 0.0) }.sum)
    }.toMap
    def agreement(ts: Seq[Double]): Double = {
      val pos = ts.filter(_ > 0)
      if (pos.size < 2) 1.0 else pos.max / pos.min
    }
    val famJson = famNames.map { fam =>
      val totals = famPassTotals(fam)
      val gc = perPass.flatMap(_.collect {
        case (_, f, _, g, _) if f == fam => g }).sum
      val gcHyg = perPass.flatMap(_.collect {
        case (_, f, _, _, h) if f == fam => h }).sum
      val wall = (0 until passes)
        .map(p => cellWall.getOrElse((fam, p), 0.0)).sum
      s"\"$fam\":{\"n\":${perPass.head.count(_._2 == fam)}," +
        s"\"pass_totals\":[${totals.map(fmtD).mkString(",")}]," +
        s"\"agreement\":${fmtD(agreement(totals))},\"gc_ms\":$gc," +
        s"\"gc_hygiene_ms\":$gcHyg,\"wall_sec\":${fmtD(wall)}}"
    }.mkString("{", ",", "}")
    val worstAgreement =
      famPassTotals.values.map(agreement).foldLeft(1.0)(math.max)
    val errors = results.collect { case (k, v) if v.exists(_ < 0) => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = meds.collect { case (_, v) if v >= 0 => v }.sum
    val recallJson = recall.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${fmtD(v)}" }.mkString("{", ",", "}")
    val recallClJson = recallClustered.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${fmtD(v)}" }.mkString("{", ",", "}")
    // realtime headline vs the reference's ~20k events/s claim. Like
    // bulk/FINAL, the PUBLISHED number comes from the start-of-session
    // probe fork when it ran (r12: the official in-sequence sample
    // published 121 681 events/s while the same HEAD's probe measured
    // 279 592 — a 2.3× session-weather understatement); the in-sequence
    // sample stays inside "e2e" as `inseq_events_per_sec`, the
    // session-tax record.
    val inseqE2e = e2eRuns.sortBy(_.pipelineSec).toSeq match {
      case Seq() => None
      case rs =>
        // lower-middle run: the median element for odd run counts, and
        // for even counts the faster of the two middles — never the
        // slow outlier of a 2-run hiccup (rs.size / 2 picked that)
        Some((rs((rs.size - 1) / 2), rs.size))
    }
    val probeEvents = probeField("events_per_sec").map(_.toDouble)
    val headlineEvents: Option[Double] =
      probeEvents.orElse(inseqE2e.map(_._1.eventsPerSec))
    val e2e = (headlineEvents, inseqE2e) match {
      case (None, None) => ""
      case (hl, is) =>
        val hlStr = hl.map(v =>
          s""","events_per_sec":${math.round(v)}""").getOrElse("")
        val isStr = is.map { case (s, n) =>
          s""","e2e":{"events":${s.events},"fixture_sec":${fmtD(s.fixtureSec)},""" +
            s""""pipeline_sec":${fmtD(s.pipelineSec)},"runs":$n,""" +
            s""""inseq_events_per_sec":${math.round(s.eventsPerSec)},""" +
            s""""headline_source":"${if (probeEvents.isDefined) "phase_probe_fork"
              else "in_sequence"}"}"""
        }.getOrElse("")
        hlStr + isStr
    }
    val gcRerunJson = gcReruns.map { case (n, fs, fg, rs, rg) =>
      s"""{"query":"${esc(n)}","flagged_sec":${fmtD(fs)},""" +
        s""""flagged_gc_ms":$fg,"rerun_sec":${fmtD(rs)},""" +
        s""""rerun_gc_ms":$rg}"""
    }.mkString("[", ",", "]")
    // summary fields LAST: a tail-truncated stdout capture keeps them
    val json =
      s"""{"queries":$qs,"query_stats":$stats,"errors":$errors,""" +
        s""""families":$famJson,"passes":$passes,""" +
        s""""family_agreement_worst":${fmtD(worstAgreement)},""" +
        s""""gc_reruns":$gcRerunJson,""" +
        s""""recall":$recallJson,"recall_clustered":$recallClJson,""" +
        s""""bulk":{"rows":$bulkRows,"med_sec":${fmtD(bulkMed)},""" +
        s""""runs":[${bulkTimes.map(t => fmtD(t._2)).mkString(",")}],""" +
        s""""final_read_med_sec":${fmtD(finalMed)},""" +
        s""""final_read_runs":[${bulkTimes.map(t => fmtD(t._3)).mkString(",")}],""" +
        s""""inseq_bulk_rows_per_sec":${math.round(bulkRate)},""" +
        s""""inseq_final_rows_per_sec":${math.round(finalRate)}},""" +
        s""""phase_probe":${phaseProbe.getOrElse("null")},""" +
        s""""headline_source":"$headlineSource"""" +
        s"""$e2e,"bulk_rows_per_sec":${math.round(headlineBulk)},""" +
        s""""final_rows_per_sec":${math.round(headlineFinal)},""" +
        s""""runs_per_query":$runs,"bench_file":"${esc(outPath)}",""" +
        s""""metric":"total","value":${fmtD(total)},"unit":"sec","sf":"${esc(sfDir)}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    System.err.println(s"[bench] full JSON written to $outPath")
    println(json)
    // The driver's stdout capture keeps only a ~2000-char TAIL and parses
    // its LAST line as JSON: the full object above is ~47 KB, so every
    // round's artifact carried "parsed": null (BENCH_r01..r13) and the
    // round-over-round per-query machinery ran blind. The final line is
    // therefore a compact headline that always fits the tail window —
    // totals, the three throughput headlines, per-family totals, and an
    // ABSOLUTE pointer to the full per-query object (same content as the
    // 47 KB line; nothing is removed, the full line still prints above
    // and lands in `bench_file`).
    val famOf = ordered.map { case (name, _) => name -> familyOf(name) }.toMap
    val famMedTotals = famNames.map { fam =>
      fam -> meds.collect {
        case (q, v) if famOf.getOrElse(q, "") == fam && v >= 0 => v }.sum
    }
    val famShortJson = famMedTotals
      .map { case (f, v) => s"\"$f\":${fmtD(v)}" }.mkString("{", ",", "}")
    val eventsField = headlineEvents
      .map(v => s""","events_per_sec":${math.round(v)}""").getOrElse("")
    val benchAbs = java.nio.file.Paths.get(outPath)
      .toAbsolutePath.normalize.toString
    val headline =
      s"""{"metric":"total","value":${fmtD(total)},"unit":"sec",""" +
        s""""sf":"${esc(sfDir)}","cpus":$cpus,"n":${meds.size},""" +
        s""""runs_per_query":$runs,"passes":$passes,"errors_n":${
          results.count { case (_, v) => v.exists(_ < 0) }},""" +
        s""""family_agreement_worst":${fmtD(worstAgreement)},""" +
        s""""bulk_rows_per_sec":${math.round(headlineBulk)},""" +
        s""""final_rows_per_sec":${math.round(headlineFinal)}""" +
        eventsField +
        s""","headline_source":"$headlineSource",""" +
        s""""families":$famShortJson,""" +
        s""""bench_file":"${esc(benchAbs)}"}"""
    println(headline)
    spark.stop()
  }
}
