package graft.sources

import graft.GraftConfig

/** One normalized change event from a live CDC transport, in the shape
  * the spool stores (SURVEY.md §1.1 LogEvent): the producer-side
  * counterpart of the reference's `BinlogReplicator.run` normalization
  * (binlog_replicator.py:427-548) — UPDATE is already collapsed to an
  * ADD after-image, DELETE carries the before-image, DDL rides `query`.
  */
final case class SourceEvent(db: String, table: String, op: String,
                             query: Option[String] = None,
                             row: Option[String] = None)

/** The realtime half the spool was always a stand-in for: a producer
  * that takes normalized events from a live transport and appends them
  * to the spool the replication pipeline tails.
  *
  * Responsibilities, mirroring the reference's binlog_replicator
  * process:
  *  - db/table glob filtering AT THE SOURCE (binlog_replicator.py:
  *    464-468, 488-490): row events need both globs, DDL only the db
  *    glob (a QueryEvent has no table);
  *  - total-order `seq` assignment — the spool's flattened (file, pos);
  *  - rotation every `records_per_file` records ([[EventSpool
  *    .writeRotating]], config.py:113);
  *  - durable resume state: `next_seq` plus the transport's own opaque
  *    cursor (binlog file:pos, GTID set, dump-file byte offsets…),
  *    persisted like the reference's `State` (binlog_replicator.py:
  *    63-85 last_seen_transaction) in `_producer_state.json` inside the
  *    spool (underscore-prefixed → invisible to the Spark file source).
  *
  * Delivery is at-least-once: spool files publish BEFORE the state
  * save, so a crash between the two re-emits the tail of the last batch
  * with the SAME seq values. Row events are idempotent downstream (the
  * pipeline LWW-collapses per PK on seq and FINAL collapses re-applied
  * images); re-played DDL is the same at-least-once window the
  * reference accepts between two `update_state_if_required` saves.
  */
final class SpoolProducer(
    spoolDir: String, config: GraftConfig,
    hadoopConf: org.apache.hadoop.conf.Configuration =
      new org.apache.hadoop.conf.Configuration()) {

  import org.apache.hadoop.fs.Path

  private val stateFile = new Path(spoolDir, "_producer_state.json")
  private val stateTmp = new Path(spoolDir, "._producer_state.json.tmp")
  private val fs = stateFile.getFileSystem(hadoopConf)

  private var nextSeq: Long = 1L
  private var pos: Option[String] = None
  loadState()

  /** The transport cursor persisted by the last [[append]] — where a
    * restarted transport should seek before producing again. */
  def sourcePos: Option[String] = pos

  /** Seq the next admitted event will be stamped with (continues across
    * producer restarts). */
  def peekSeq: Long = nextSeq

  /** Reference admission (binlog_replicator.py:464-490): row events
    * must pass BOTH globs; DDL has no table, so only the db glob. */
  def admitted(e: SourceEvent): Boolean =
    if (e.op == EventSpool.OpQuery) config.databaseMatches(e.db)
    else config.databaseMatches(e.db) && config.tableMatches(e.table)

  /** Filter, stamp, rotate, publish, save state. Returns the spool file
    * names written. `newSourcePos` is saved even when every event was
    * filtered out — skipped transactions must not be re-read forever. */
  def append(events: Seq[SourceEvent],
             newSourcePos: Option[String]): Seq[String] = {
    val admittedEvents = events.filter(admitted)
    val lines = admittedEvents.zipWithIndex.map { case (e, i) =>
      EventSpool.eventJson(nextSeq + i, e.db, e.table, e.op, e.query, e.row)
    }
    val written =
      if (lines.isEmpty) Nil
      else EventSpool.writeRotating(spoolDir, lines,
        config.spoolRecordsPerFile, hadoopConf)
    nextSeq += admittedEvents.size
    pos = newSourcePos.orElse(pos)
    saveState()
    written
  }

  /** Retention sweep per `binlog_replicator.binlog_retention_period`
    * (0 = keep everything), for transports that own the spool's
    * lifecycle end-to-end. Returns deleted file count. */
  def sweep(nowMs: Long = System.currentTimeMillis()): Int =
    if (config.spoolRetentionPeriod > 0)
      EventSpool.sweepRetention(spoolDir, config.spoolRetentionPeriod,
        nowMs, hadoopConf = hadoopConf)
    else 0

  // ------------------------------------------------------------ state

  /** HDFS rename won't overwrite, so the save is write-tmp → delete-old
    * → rename; a crash between the last two leaves only the tmp, which
    * holds the NEWER state — recover from it (a lost seq counter must
    * never silently restart at 1 over a live spool). */
  private def loadState(): Unit = {
    val src =
      if (fs.exists(stateFile)) Some(stateFile)
      else if (fs.exists(stateTmp)) Some(stateTmp)
      else None
    src.foreach { p =>
      val in = fs.open(p)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          buf.toByteArray
        } finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      nextSeq = Option(node.get("next_seq")).map(_.asLong()).getOrElse(1L)
      pos = Option(node.get("source_pos")).filterNot(_.isNull).map(_.asText())
    }
  }

  private def saveState(): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("next_seq", nextSeq)
    pos.foreach(node.put("source_pos", _))
    val out = fs.create(stateTmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    fs.delete(stateFile, false)
    if (!fs.rename(stateTmp, stateFile))
      throw new java.io.IOException(s"cannot save producer state $stateFile")
  }
}
