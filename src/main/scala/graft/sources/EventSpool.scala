package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The CDC change-event feed.
  *
  * The reference persists binlog events as pickled, length-prefixed
  * records in rotating `<n>.bin` files and tails them with hand-rolled
  * offset bookkeeping (binlog_replicator.py:47-302). Spark-first, the
  * durable queue IS a Structured Streaming file source: events are JSON
  * lines in a spool directory, offsets/exactly-once come from the stream
  * checkpoint, and "seek to transaction" is the source's own offset log.
  *
  * Event shape (SURVEY.md §1.1 LogEvent): `seq` is the total order the
  * binlog position gave us ((file, pos) flattened); `row` stays a raw
  * JSON string because the schema is per-table and evolves mid-stream —
  * each micro-batch parses it with the table's schema *as of that event*.
  */
object EventSpool {

  val OpAdd = "ADD"       // insert, or update after-image (binlog_replicator.py:472-510)
  val OpRemove = "REMOVE" // delete (PK payload only)
  val OpQuery = "QUERY"   // DDL statement

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("db", StringType),
    StructField("table", StringType),
    StructField("op", StringType, nullable = false),
    StructField("query", StringType),
    StructField("row", StringType)))

  /** @param cleanSource spool retention (binlog_replicator.py:288-298
    *                     deletes fully-consumed files after
    *                     `binlog_retention_period`): `"delete"` removes a
    *                     spool file once its batch commits, `"archive"`
    *                     moves it (set `sourceArchiveDir`); default keeps
    *                     everything (tests / replay-from-zero). */
  def readStream(spark: SparkSession, spoolDir: String,
                 cleanSource: Option[String] = None,
                 sourceArchiveDir: Option[String] = None): DataFrame = {
    require(!cleanSource.contains("archive") || sourceArchiveDir.nonEmpty,
      "cleanSource=archive requires sourceArchiveDir (Spark's " +
        "FileStreamSource rejects the stream at start() otherwise)")
    val r = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "16")
    cleanSource.foreach(r.option("cleanSource", _))
    sourceArchiveDir.foreach(r.option("sourceArchiveDir", _))
    r.json(spoolDir)
  }

  def readBatch(spark: SparkSession, spoolDir: String): DataFrame =
    spark.read.schema(schema).json(spoolDir)

  // -------------------------------------------- rotation & retention

  private val SpoolFileRe = """^(\d+)\.json$""".r

  /** Next rotation index: max existing spool file number + 1 (reference
    * `get_next_file_name`, binlog_replicator.py:276-286). Hadoop FS API
    * like [[sweepRetention]] — a java.io listing of an HDFS/S3 spool
    * returns nothing, which would restart numbering at 000001 and
    * overwrite live files. */
  def nextFileIndex(spoolDir: String,
                    hadoopConf: org.apache.hadoop.conf.Configuration =
                      new org.apache.hadoop.conf.Configuration()): Int = {
    val dir = new org.apache.hadoop.fs.Path(spoolDir)
    val fs = dir.getFileSystem(hadoopConf)
    val names =
      if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName)
      else Array.empty[String]
    val nums = names.flatMap(n =>
      SpoolFileRe.findFirstMatchIn(n).map(_.group(1).toInt))
    if (nums.isEmpty) 1 else nums.max + 1
  }

  /** Rotation-aware producer append (`binlog_replicator.
    * records_per_file`, config.py:113): `lines` split into files of at
    * most `recordsPerFile` records, numbered on from the existing spool
    * contents — the reference's FileWriter starts a new `<n>.bin` every
    * N records for the same reason: bounded file sizes keep both the
    * retention sweep and the consumer's per-file progress granular.
    * Returns the written file names. */
  def writeRotating(spoolDir: String, lines: Seq[String],
                    recordsPerFile: Int,
                    hadoopConf: org.apache.hadoop.conf.Configuration =
                      new org.apache.hadoop.conf.Configuration()): Seq[String] = {
    require(recordsPerFile > 0,
      "binlog_replicator records_per_file should be positive")
    val start = nextFileIndex(spoolDir, hadoopConf)
    lines.grouped(recordsPerFile).zipWithIndex.map { case (chunk, i) =>
      val name = f"${start + i}%06d.json"
      writeFile(spoolDir, name, chunk, hadoopConf)
      name
    }.toSeq
  }

  /** Retention sweep (`binlog_replicator.binlog_retention_period`,
    * binlog_replicator.py:288-298 `remove_old_files`): delete
    * fully-rotated spool files whose modify time fell behind the
    * retention period. The newest `preserve` files plus the in-progress
    * one always survive regardless of age — the replay window a
    * restarted consumer needs (reference PRESERVE_FILES_COUNT = 5 with
    * the same last-file exclusion). Returns the deleted count.
    *
    * Age-based and consumer-UNAWARE, like the reference (and like
    * MySQL's own binlog expiry): a consumer down longer than the
    * retention window loses the gap with no error. Size
    * `binlog_retention_period` to the maximum tolerated outage, or 0 to
    * disable the sweep entirely.
    *
    * Hadoop FS API, not java.io — the spool may live on HDFS/S3 (the
    * read path already supports that); a java.io
    * listing there returns nothing and would silently disable
    * retention while the spool grows without bound. */
  def sweepRetention(spoolDir: String, retentionSeconds: Int,
                     nowMs: Long = System.currentTimeMillis(),
                     preserve: Int = 5,
                     hadoopConf: org.apache.hadoop.conf.Configuration =
                       new org.apache.hadoop.conf.Configuration()): Int = {
    val dir = new org.apache.hadoop.fs.Path(spoolDir)
    val fs = dir.getFileSystem(hadoopConf)
    if (!fs.exists(dir)) return 0
    val files = fs.listStatus(dir).toSeq
      .flatMap(st => SpoolFileRe.findFirstMatchIn(st.getPath.getName)
        .map(m => (m.group(1).toLong, st)))
      .sortBy(_._1)
    files.dropRight(preserve + 1).count { case (_, st) =>
      st.getModificationTime <= nowMs - retentionSeconds * 1000L &&
        fs.delete(st.getPath, false)
    }
  }

  // ------------------------------------------------------- test/tool writer

  private def esc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One spool line. `row` must already be a JSON object string. */
  def eventJson(seq: Long, db: String, table: String, op: String,
                query: Option[String] = None,
                row: Option[String] = None): String = {
    val parts = Seq(
      Some(s""""seq":$seq"""),
      Some(s""""db":${esc(db)}"""),
      Some(s""""table":${esc(table)}"""),
      Some(s""""op":${esc(op)}"""),
      query.map(q => s""""query":${esc(q)}"""),
      row.map(r => s""""row":${esc(r)}""")).flatten
    parts.mkString("{", ",", "}")
  }

  /** Append a file of events to the spool (one streaming source unit).
    * Hadoop FS API so producers write wherever the readers read (HDFS/
    * S3/local): stage dot-prefixed inside the spool (hidden from the
    * file source), then a same-filesystem rename publishes it whole —
    * the file source must never see a partial file. */
  def writeFile(spoolDir: String, fileName: String, lines: Seq[String],
                hadoopConf: org.apache.hadoop.conf.Configuration =
                  new org.apache.hadoop.conf.Configuration()): Unit = {
    val dir = new org.apache.hadoop.fs.Path(spoolDir)
    val fs = dir.getFileSystem(hadoopConf)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$fileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, fileName)))
      throw new java.io.IOException(
        s"cannot publish spool file $fileName into $spoolDir")
  }
}
