package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.GraftConfig
import graft.ddl.{DdlOp, DdlParser, SchemaRegistry}
import graft.operators.{GraftTable, RecordConversion}
import graft.sources.EventSpool


/** The realtime replication loop, Spark-first.
  *
  * Reference shape (db_replicator_realtime.py): tail the durable event
  * queue → fold DML into a per-table LWW buffer → flush every 1 s /
  * 100k rows → DDL events force a flush barrier, then mutate schema
  * state. Exactly-once comes from replaying events ≥ the last-committed
  * transaction and idempotent versioned writes.
  *
  * Spark shape: Structured Streaming over the spool (checkpointed
  * offsets = the transaction bookkeeping), `foreachBatch` = the flush:
  *
  *  1. split the micro-batch at DDL boundaries (seq order) — the
  *     reference's flush-before-DDL barrier (db_replicator_realtime.py:183-196);
  *  2. per segment, per (db, table): parse row JSON with the schema *as
  *     of that segment*, LWW-collapse per PK (A1), convert (X1-X12), then
  *     append images / tombstones stamped with a monotone version;
  *  3. apply the DDL to the SchemaRegistry + storage, then continue.
  *
  * Versions are `(batchId + 1) << 20 | segment` — monotone across batches
  * and across DDL barriers within a batch, and strictly above the
  * snapshot's version 0 even for batch 0 (an update in the very first
  * micro-batch must beat the snapshot image it follows). Replayed batches
  * restamp the same versions, so the FINAL view makes redelivery
  * idempotent (W1).
  *
  * Tables are keyed by **source** (db, table) — two databases with a
  * same-named table never share storage or schema state; `target_databases`
  * / `target_tables` remaps (F4, config.py:199-200, 362-364) apply to the
  * warehouse path only, for DML and DDL alike.
  *
  * == Event-db resolution ==
  * The reference binds one replicator process to one source database, so
  * an event's db field is implicit context, never a lookup key
  * (db_replicator.py:89-194). Here `registry.defaultDb` is that bound
  * database: an event whose db has no explicit registration resolves to
  * it ([[resolveTable]]), after the config globs (which always test the
  * *source* names) admit it. Multi-db deployments register each database
  * explicitly (`registry.applySql(db, ...)`) and resolve exactly —
  * same-named tables in two registered dbs never collide (r1 fix).
  */
final class CdcPipeline(
    spark: SparkSession,
    config: GraftConfig,
    registry: SchemaRegistry,
    warehouseDir: String) {

  // concurrent: per-table flushes run in parallel within a segment
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(String, String), GraftTable]

  /** Warehouse location — target names (F4 remap) live only here. */
  private[streaming] def tablePath(db: String, tbl: String): String =
    s"$warehouseDir/${config.targetDatabase(db)}/${config.targetTable(db, tbl)}"

  def table(db: String, tbl: String): GraftTable =
    tables.computeIfAbsent((db, tbl), { case (d, t) =>
      GraftTable.fromSchema(spark, tablePath(d, t), registry(d, t))
    })

  /** Default-db convenience (tests / single-db deployments). */
  def table(tbl: String): GraftTable = table(registry.defaultDb, tbl)

  /** Drop cached handle (schema changed / table dropped). */
  private def invalidate(db: String, tbl: String): Unit =
    tables.remove((db, tbl))

  /** Background compaction, serialized with the writer by construction:
    * the pipeline runs at most one [[graft.operators.Compactor.tick]]
    * after each successfully processed micro-batch, so compaction can
    * never race an append into the same table (the reference reaches the
    * same end by pausing per-table uploads around OPTIMIZE,
    * db_optimizer.py:57-113 / runner.py:162-194 — here the serialization
    * is the micro-batch loop itself, and concurrent READERS are already
    * safe via the epoch pointer in [[GraftTable.compact]]). The tick is
    * interval-guarded per table, so a 1-second trigger does not compact
    * continuously; the stream pauses for the duration of one table's
    * compaction at most once per interval — a distributed rewrite job,
    * the same work OPTIMIZE FINAL schedules. */
  @volatile private var compactor: Option[graft.operators.Compactor] = None
  def attachCompactor(c: graft.operators.Compactor): Unit =
    compactor = Some(c)

  /** Post-batch spool maintenance (retention sweep) — same serialization
    * argument as the compactor: runs between micro-batches, never racing
    * the file source's directory listing mid-batch. The hook owns its
    * own interval guard. */
  @volatile private var spoolSweeper: Option[() => Unit] = None
  def attachSpoolSweeper(f: () => Unit): Unit = spoolSweeper = Some(f)

  def start(spoolDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second"))
      : StreamingQuery =
    EventSpool.readStream(spark, spoolDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId)
      }
      .start()

  /** One flush. Public so batch tests / replays can drive it directly. */
  def processBatch(batch0: DataFrame, batchId: Long): Unit = {
    // one materialization serves both the DDL scan and every per-segment
    // DML filter — without it the source batch is recomputed per consumer
    val batch = batch0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // DDL events are rare and tiny — driver-side is the correct
      // altitude (they mutate driver-side schema state anyway). Each
      // statement is parsed exactly ONCE here; admission and application
      // share the same DdlOp, so they can never disagree on parser
      // behavior (and a multi-tenant source's foreign-session DDL costs
      // one parse per event, not one per check).
      val ddls = batch.filter(col("op") === EventSpool.OpQuery)
        .select("seq", "db", "query").collect()
        .flatMap { r =>
          val seq = r.getLong(0)
          val sessionDb = if (r.isNullAt(1)) None else Some(r.getString(1))
          val op =
            if (sessionDb.forall(config.databaseMatches))
              // session-admitted: unparseable → loud Ignored (crash-loop
              // guard, see applyDdl doc)
              Some(parseDdl(seq, r.getString(2)))
            else
              // foreign session db: admit only when the statement
              // explicitly qualifies an admitted db; unparseable → drop
              // silently, same as the session filter would have
              (try Some(DdlParser.parse(r.getString(2), config.typesMapping))
              catch { case scala.util.control.NonFatal(_) => None })
                .filter(ddlTargetsAdmittedDb)
          op.map(o => (seq, sessionDb.getOrElse(registry.defaultDb), o))
        }
        .sortBy(_._1)

      val dml = batch.filter(col("op") =!= EventSpool.OpQuery)
      // ONE segment manifest job for the whole batch: per (segment, db,
      // table), the add/remove event counts. This replaces one
      // active-tables collect PER SEGMENT and (via the counts) the two
      // per-table isEmpty probe jobs — each was its own Spark job over
      // the cached batch, and at the bench's batch sizes the fixed job
      // round-trips were a measurable slice of the e2e wall (r13 VERDICT
      // item 4). A DML row's segment is the number of DDL barriers below
      // its seq (DDL and DML share one unique seq space, so equality
      // cannot occur).
      val segOf = ddls.map(_._1).foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("seq") > b, 1).otherwise(0)
      }
      val manifest = dml
        .groupBy(segOf.as("seg"), col("db"), col("table"))
        .agg(sum(when(col("op") === EventSpool.OpAdd, 1L).otherwise(0L))
            .as("n_add"),
          sum(when(col("op") === EventSpool.OpRemove, 1L).otherwise(0L))
            .as("n_rem"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (seg, rows) =>
          seg -> rows.map(r => (Option(r.getString(1)),
            Option(r.getString(2)), r.getLong(3), r.getLong(4))).toSeq
        }
      var lo = Long.MinValue
      var segment = 0
      ddls.foreach { case (hi, eventDb, op) =>
        flushSegment(dml.filter(col("seq") > lo && col("seq") < hi),
          version(batchId, segment),
          manifest.getOrElse(segment, Seq.empty))
        applyDdl(hi, eventDb, op)
        lo = hi
        segment += 1
      }
      flushSegment(dml.filter(col("seq") > lo), version(batchId, segment),
        manifest.getOrElse(segment, Seq.empty))
      // after the batch's writes land: a tick failure fails the batch and
      // the replay re-runs both — appends restamp the same versions and
      // compact is idempotent, so retry is safe
      compactor.foreach(_.tick())
      spoolSweeper.foreach(_.apply())
    } finally batch.unpersist(blocking = false)
  }

  /** A DDL from a non-replicated session db still applies when its
    * statement explicitly qualifies a replicated db — migration tools
    * connect to their own schema and run `ALTER TABLE shop.users ...`,
    * and the binlog stamps the SESSION db on the Query event, not the
    * statement target's: filtering on the session db alone would drop
    * the ALTER and silently freeze the registry schema. */
  private def ddlTargetsAdmittedDb(op: DdlOp): Boolean =
    op match {
      case DdlOp.CreateTable(d0, _) => d0.exists(config.databaseMatches)
      case DdlOp.CreateTableLike(d0, _, _, _, _) =>
        d0.exists(config.databaseMatches)
      case DdlOp.AlterTable(d0, _, _) => d0.exists(config.databaseMatches)
      case DdlOp.TruncateTable(d0, _) => d0.exists(config.databaseMatches)
      case DdlOp.DropTable(ts, _) =>
        ts.exists(_._1.exists(config.databaseMatches))
      // source db only, matching applyDdl's `schemaAdmitted(fromDb0)`
      // filter: a cross-db rename INTO a replicated db has an untracked
      // source (no schema, no history — registry.contains is false), so
      // admitting it here would only parse a statement applyDdl always
      // drops; admitted ops should never be no-ops by construction
      case DdlOp.RenameTable(rs) => rs.exists { case ((fd, _), _) =>
        fd.exists(config.databaseMatches)
      }
      case _ => false
    }

  /** Resolve an event's (db, table) to its registry key — exact match
    * first, then the bound default db (see class doc). None = the table
    * is not replicated (never created / filtered at create time). The
    * default-db fallback is gated exactly like [[resolveDb]]'s: it
    * exists for events whose db the registry has never seen (null db,
    * or a producer binding one source db to a differently-named target).
    * A REGISTERED db resolves exactly — without the gate, db `b`'s
    * unregistered `users` traffic would silently merge into the default
    * db's `users` table (cross-database corruption, and the matching
    * ALTER/TRUNCATE/DROP would mutate the wrong table's schema). */
  private def resolveTable(eventDb: String, tbl: String): Option[(String, String)] =
    if (registry.contains(eventDb, tbl)) Some((eventDb, tbl))
    else if (!registry.hasDb(eventDb) &&
        registry.contains(registry.defaultDb, tbl))
      Some((registry.defaultDb, tbl))
    else None

  /** Db a CREATE arriving from `eventDb` registers under: itself when
    * already known, else the bound default db. */
  private def resolveDb(eventDb: String): String =
    if (registry.hasDb(eventDb)) eventDb else registry.defaultDb

  /** batchId+1 so batch 0 stamps above the snapshot's base version
    * (Snapshot.scala — ADVICE r1: a first-batch update must not tie);
    * everything offsets by `version_initial_value` so a migrated
    * deployment stamps above a pre-existing table's counters
    * (clickhouse_api.py:202-205). */
  private def version(batchId: Long, segment: Int): Long =
    config.versionInitialValue + (((batchId + 1) << 20) | segment.toLong)

  // one shared daemon pool for per-table parallel flushes — segments are
  // serial (the micro-batch loop drives them), so every batch reuses it
  // instead of constructing and tearing down a pool per segment
  private lazy val flushEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
        val t = new Thread(r, "graft-flush")
        t.setDaemon(true)
        t
      }))

  private def flushSegment(dml: DataFrame, version: Long,
      traffic: Seq[(Option[String], Option[String], Long, Long)]): Unit = {
    // which tables have traffic comes from the batch-wide manifest (one
    // job per BATCH, not one distinct().collect() per segment) — bounded
    // by table count, not row count. A null event db resolves to the
    // bound default db, the same resolution DDL events get (class doc) —
    // a producer omitting `db` must not silently lose rows.
    val active = traffic
      .collect { case (eventDb, Some(tbl), nAdd, nRem) =>
        (eventDb, tbl, nAdd, nRem) }
      .filter { case (eventDb, tbl, _, _) =>
        config.databaseMatches(eventDb.getOrElse(registry.defaultDb)) &&
          config.tableMatches(tbl)
      }
      .flatMap { case (eventDb, tbl, nAdd, nRem) =>
        resolveTable(eventDb.getOrElse(registry.defaultDb), tbl)
          .map(key => key -> (eventDb, nAdd, nRem))
      }
    // several event dbs can resolve to the same bound table — one flush
    // per resolved key so a single LWW collapse covers the whole segment
    def segmentOf(entries: Seq[Option[String]], tbl: String): DataFrame = {
      val dbs = entries.flatten
      val dbPred =
        if (dbs.isEmpty) col("db").isNull
        else if (entries.contains(None))
          col("db").isNull || col("db").isin(dbs: _*)
        else col("db").isin(dbs: _*)
      dml.filter(dbPred && col("table") === tbl)
    }
    // Tables flush CONCURRENTLY (bounded pool): each flush is its own
    // chain of Spark jobs, and with many replicated tables a sequential
    // loop leaves the cluster idle between small per-table stages — the
    // reference uploads tables one by one (db_replicator_realtime.py:
    // 324-374) because each upload is one INSERT; here parallel driver
    // threads let the scheduler interleave the per-table stages.
    val groups = active.groupBy(_._1).toSeq
    // several event dbs can resolve to one key — sum their counts so the
    // emptiness decisions below cover the whole flushed segment
    def dbsOf(entries: Seq[(Option[String], Long, Long)]) =
      entries.map(_._1)
    def addsOf(entries: Seq[(Option[String], Long, Long)]) =
      entries.map(_._2).sum
    def remsOf(entries: Seq[(Option[String], Long, Long)]) =
      entries.map(_._3).sum
    if (groups.size <= 1)
      groups.foreach { case ((db, tbl), entries0) =>
        val entries = entries0.map(_._2)
        flushTable(segmentOf(dbsOf(entries), tbl), db, tbl, version,
          addsOf(entries), remsOf(entries))
      }
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = flushEc
      val groupId = s"graft-flush-$version"
      val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
      val futures = groups.map { case ((db, tbl), entries0) => Future {
        val entries = entries0.map(_._2)
        // a queued flush must not START once a sibling has failed:
        // cancelJobGroup reaches only already-running jobs, so with more
        // groups than pool threads a queued future would otherwise
        // submit fresh writes into directories the retry is about to
        // reuse. The flag is checked at dequeue time — the doomed
        // batch's remaining work is skipped, and the whole segment
        // re-runs on replay anyway.
        if (!aborted.get()) {
          // the job group is thread-local: tag this flush's Spark jobs
          // so a sibling failure can cancel them on the CLUSTER — a
          // driver thread interrupt alone leaves already-submitted
          // write jobs running into the directories the retry is about
          // to reuse
          spark.sparkContext.setJobGroup(groupId, s"flush $db.$tbl",
            interruptOnCancel = true)
          try flushTable(segmentOf(dbsOf(entries), tbl), db, tbl,
            version, addsOf(entries), remsOf(entries))
          finally spark.sparkContext.clearJobGroup()
        }
      } }
      try Await.result(Future.sequence(futures), Duration.Inf)
      catch { case e: Throwable =>
        // one flush failed → the batch will be retried; stop queued
        // flushes from starting, cancel the running ones' jobs, and wait
        // for EVERY future to settle, or orphan writers would race the
        // retry's writes into the same table directories
        aborted.set(true)
        spark.sparkContext.cancelJobGroup(groupId)
        CdcPipeline.drainAll(futures, 10.minutes)
        throw e
      }
    }
  }

  private def flushTable(events0: DataFrame, db: String, tbl: String,
                         version: Long, nAdd: Long, nRem: Long): Unit = {
    // ignore_deletes (config.py): REMOVEs are dropped BEFORE the LWW
    // collapse — an insert-then-delete pair must keep the insert, not
    // collapse to a dropped delete (tests/test_mysql_ch_replicator.py:572-641)
    val events =
      if (config.ignoreDeletes)
        events0.filter(col("op") =!= EventSpool.OpRemove)
      else events0
    val effRem = if (config.ignoreDeletes) 0L else nRem
    if (nAdd == 0L && effRem == 0L) return
    val schema = registry(db, tbl)
    val target = table(db, tbl)
    // wire schema: every field as string; RecordConversion casts/decodes.
    val wire = StructType(schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, StringType)))

    // A1: LWW per PK across the whole segment (insert-then-delete of the
    // same key must resolve to the *last* op, db_replicator_realtime.py:123-177):
    // parse first, then collapse on the PKs' wire values.
    // Metadata columns carry reserved names: a payload column named
    // `seq` or `op` is legal MySQL and would otherwise make every
    // downstream reference AMBIGUOUS; and fields are pulled out of the
    // parsed struct with r(name) — col("r.name") would treat a dot in a
    // column name as struct traversal.
    val mseq = "__graft_seq"
    val mop = "__graft_op"
    val parsed = events
      .select(col("seq").as(mseq), col("op").as(mop),
        from_json(col("row"), wire).as("r"))
      .select(Seq(col(mseq), col(mop)) ++
        schema.fields.map(f => col("r")(f.name).as(f.name)): _*)
    // One collapse and one bucketed write for the whole segment, on one
    // exchange (GraftTable.writeLatest): a key whose last op is a REMOVE
    // becomes a tombstone row (payload stored NULL), every other key a
    // row image. One frame, not a union of images and key-only
    // tombstones: the optimizer prunes the tombstone branch's aggregate
    // to the key, so the two branches' exchanges differ and the collapse
    // would run twice. The collapse runs on the wire values and only its
    // winners are converted; the layout bucket comes from the converted
    // key (the unsigned fixup changes it).
    target.writeLatest(
      parsed.withColumn("_deleted", col(mop) === EventSpool.OpRemove)
        .drop(mop),
      struct(col(mseq)), version,
      typedKey = k => RecordConversion.convertField(k, StringType, schema,
        schema.primaryKeys.head, config.mysqlTimezone),
      convert = rows => RecordConversion.convert(rows, schema,
        config.mysqlTimezone,
        keep = rows.columns.toSeq.diff(schema.fields.map(_.name))))
  }

  /** Parse one session-admitted DDL statement; unparseable → Ignored,
    * loudly. An unparseable statement must not kill the stream: the
    * prime offender is CREATE TABLE without any primary key — a
    * non-replicable scratch table (the reference's converter rejects
    * PK-less tables the same way). Without this guard the parse failure
    * crashes the batch BEFORE any admission check, and every restart
    * replays the same event: permanent crash loop on a table that was
    * never replicated. A replicated table with broken DDL surfaces as
    * divergence, not as a dead stream. */
  private def parseDdl(seq: Long, sql: String): DdlOp =
    try DdlParser.parse(sql, config.typesMapping)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"[graft] skipping unparseable DDL at seq=$seq: ${e.getMessage}" +
          s" -- $sql")
      DdlOp.Ignored
    }

  /** Apply one DDL event (at event seq `seq`, from binlog session db
    * `eventDb`), already parsed by processBatch. Mirrors the reference's
    * `matches_config` early-returns (converter.py:711-724,
    * db_replicator_realtime.py:226-251) — DDL against filtered or
    * never-created tables must not kill the stream (ADVICE r1). Schema
    * mutations go through the seq-guarded `registry.applyDdl(db, op,
    * seq)` so an at-least-once replayed batch re-applies no ALTER (the
    * crash-loop scenario, ADVICE r2/r3). */
  private def applyDdl(seq: Long, eventDb: String, op: DdlOp): Unit = {
    // Explicit qualifier wins; else the db the table resolves to — the
    // same event-db resolution DML uses (class doc): an ALTER arriving
    // from an unregistered event db must reach the table it targets
    // under the bound default db, not be silently dropped.
    def resolved(d0: Option[String], t: String): String =
      d0.getOrElse(resolveTable(eventDb, t).map(_._1).getOrElse(eventDb))
    // Config globs test *source* names; the event db was already
    // admitted in processBatch, an explicit qualifier is checked here.
    // Schema TRACKING is deliberately broader than data admission: the
    // registry records every table of an admitted db (cheap metadata),
    // so a pt-osc/gh-ost swap can RENAME a ghost table the include-list
    // filtered INTO an admitted name and carry the right schema with it.
    // Storage/data operations stay gated on tableMatches.
    def schemaAdmitted(d0: Option[String]): Boolean =
      d0.forall(config.databaseMatches)
    def dataAdmitted(d0: Option[String], t: String): Boolean =
      schemaAdmitted(d0) && config.tableMatches(t)

    op match {
      case DdlOp.Ignored => ()

      case DdlOp.CreateTable(d0, s) =>
        if (schemaAdmitted(d0)) {
          val d = d0.getOrElse(resolveDb(eventDb))
          registry.applyDdl(d, op, seq)
          invalidate(d, s.name)
        }

      case DdlOp.CreateTableLike(d0, t, _, _, _) =>
        if (schemaAdmitted(d0)) {
          val d = d0.getOrElse(resolveDb(eventDb))
          registry.applyDdl(d, op, seq)
          invalidate(d, t)
        }

      case DdlOp.AlterTable(d0, t, _) =>
        val d = resolved(d0, t)
        // schema-level, not data-level: an ALTER of a filtered ghost
        // table must be tracked or the post-swap schema is stale
        if (schemaAdmitted(d0) && registry.contains(d, t)) {
          registry.applyDdl(d, op, seq)
          // schema changed → rebuild the handle; the table reconciles its
          // generation metadata (rename/retype → new gen) on next use
          invalidate(d, t)
        }

      case DdlOp.TruncateTable(d0, t) =>
        val d = resolved(d0, t)
        // data op, deliberately NOT seq-guarded: a replayed batch
        // re-flushes the DML around it, so the truncate must re-run in
        // event order too or earlier re-appended rows would survive it
        if (dataAdmitted(d0, t) && registry.contains(d, t))
          table(d, t).truncate()

      case DdlOp.DropTable(ts, _) =>
        // resolve + admit every listed table, then ONE seq-guarded
        // registry call for the whole statement — per-table applyDdl
        // calls would bump the watermark on the first table and the
        // guard would silently skip the rest of a multi-table DROP
        val admitted = ts.flatMap { case (d0, t) =>
          val d = resolved(d0, t)
          if (schemaAdmitted(d0) && registry.contains(d, t)) Some((d, t))
          else None
        }
        if (admitted.nonEmpty) {
          // storage first — the handles need the still-registered
          // schemas; on replay `contains` is already false and the
          // whole case is skipped. drop() on a filtered table's
          // never-materialized dir is a no-op.
          admitted.foreach { case (d, t) => table(d, t).drop() }
          registry.applyDdl(eventDb,
            DdlOp.DropTable(admitted.map { case (d, t) => (Some(d), t) },
              ifExists = true), seq)
          admitted.foreach { case (d, t) => invalidate(d, t) }
        }

      case DdlOp.RenameTable(renames) =>
        // resolve every side up front; keep pairs whose source is a
        // TRACKED table and whose source OR target name is admitted —
        // the pt-osc swap's second pair (`_users_new TO users`) renames
        // a filtered ghost into an admitted name and must apply, or the
        // swapped table silently stops replicating
        val applicable = renames.flatMap { case ((fromDb0, from), (toDb0, to)) =>
          val fromDb = resolved(fromDb0, from)
          val toDb = toDb0.getOrElse(fromDb)
          if (schemaAdmitted(fromDb0) && registry.contains(fromDb, from) &&
              (config.tableMatches(from) || config.tableMatches(to)))
            Some(((fromDb, from), (toDb, to)))
          else None
        }
        // The watermark decides whether this is a redelivery (the pt-osc
        // swap re-creates the `from` name, so a contains() check alone
        // cannot tell). Move files BEFORE the registry applies: the
        // reverse order would checkpoint the watermark first and a crash
        // before the moves would skip them forever.
        //
        // Per-pair journal markers make the replay of a crashed
        // MULTI-pair statement non-destructive: in the pt-osc swap
        // (RENAME orig TO old, new TO orig) a crash after both moves but
        // before the watermark re-runs the statement — pair 1 then finds
        // `orig` existing again (re-created by pair 2 of the crashed
        // attempt) and, without the marker, would delete `old` (the real
        // archive) as a "stale leftover" and move the NEW table onto it.
        // A marked pair is skipped outright; the stale-target deletion
        // below stays safe because it now only runs when OUR rename for
        // that pair never completed, in which case a pre-existing target
        // dir really is a leftover (MySQL refuses RENAME onto an
        // existing table). Markers are scoped by the statement's seq and
        // deleted once the watermark commits.
        if (applicable.nonEmpty && seq > registry.lastDdlSeq) {
          val fs = new org.apache.hadoop.fs.Path(warehouseDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          // scoped by the bound db: per-db pipelines share a warehouse
          // (layout _state/<db>.json) but their spool seq counters are
          // independent — an unscoped seq key would let db A's leftover
          // journal mark db B's same-seq RENAME as already-moved
          val journal = new org.apache.hadoop.fs.Path(
            s"$warehouseDir/_state/rename_journal/${registry.defaultDb}/$seq")
          fs.mkdirs(journal)
          applicable.zipWithIndex.foreach {
            case (((fromDb, from), (toDb, to)), i) =>
              val done = new org.apache.hadoop.fs.Path(journal, s"pair-$i")
              if (!fs.exists(done)) {
                val fromPath =
                  new org.apache.hadoop.fs.Path(tablePath(fromDb, from))
                val toPath = new org.apache.hadoop.fs.Path(tablePath(toDb, to))
                if (fs.exists(fromPath)) {
                  if (fs.exists(toPath)) fs.delete(toPath, true)
                  Option(toPath.getParent).foreach(fs.mkdirs)
                  if (!fs.rename(fromPath, toPath))
                    throw new java.io.IOException(
                      s"RENAME: cannot move $fromPath to $toPath")
                } else if (!config.tableMatches(from) &&
                    config.tableMatches(to))
                  // ghost-table swap-in: the source was schema-tracked
                  // but never materialized (its DML was filtered), so
                  // the admitted name resumes with schema continuity but
                  // no replicated history — the backfilled rows need a
                  // re-run of initial replication; go-forward CDC
                  // applies immediately either way
                  System.err.println(s"[graft] RENAME $fromDb.$from -> " +
                    s"$toDb.$to: swapped-in table has no replicated " +
                    "history (source was filtered); re-run initial " +
                    "replication to backfill it")
                // else: moved, then crashed inside this pair's tiny
                // rename→marker window — later pairs had not run, so
                // the source name cannot have been re-created
                fs.create(done, true).close()
              }
              invalidate(fromDb, from)
              invalidate(toDb, to)
          }
          registry.applyDdl(eventDb,
            DdlOp.RenameTable(applicable.map { case ((fd, f), (td, t)) =>
              ((Option(fd), f), (Option(td), t))
            }), seq)
          fs.delete(journal, true)
        }
    }
  }
}

object CdcPipeline {
  import scala.concurrent.{Await, Future}
  import scala.concurrent.duration.{Duration, FiniteDuration}

  /** Wait for every future to settle — success or failure — under ONE
    * shared deadline. Used by the flush-abort path: a per-future
    * timeout would stack to N×deadline with many blocked flush groups
    * and stall the micro-batch thread long past any useful retry, while
    * a deadline shared across the drain bounds the whole abort at
    * `total` regardless of group count. Failures are swallowed: the
    * caller rethrows the ORIGINAL flush failure, and a timed-out future
    * here is exactly the orphan the bounded wait exists to abandon. */
  private[streaming] def drainAll(futures: Seq[Future[_]],
                                  total: FiniteDuration): Unit = {
    val deadline = total.fromNow
    futures.foreach(f =>
      try { Await.result(f, deadline.timeLeft max Duration.Zero); () }
      catch { case _: Throwable => () })
  }
}
