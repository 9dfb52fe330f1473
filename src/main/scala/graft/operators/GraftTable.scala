package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Cast, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A column of a replicated table: `id` is the stable identity assigned
  * by the SchemaRegistry (survives CHANGE/RENAME COLUMN), `name`/`dataType`
  * are the *current* ones.
  */
final case class GraftColumn(id: Int, name: String, dataType: DataType,
                             nullable: Boolean = true) {
  def toStructField: StructField = StructField(name, dataType, nullable)
}

/** A replicated target table: append-only parquet + `_version` +
  * `_deleted`, read through the FINAL dedup view.
  *
  * This is the Spark re-expression of the reference's
  * `ReplacingMergeTree(_version)` target (clickhouse_api.py:17-27,
  * 233-301): ClickHouse collapses versions at merge/FINAL time; here the
  * base files are immutable appends and the collapse is
  * `max_by(row, struct(_version, _deleted))` at read (a tombstone beats
  * an image stamped at its own version), with `compact()` playing the
  * role of the background merge / periodic OPTIMIZE
  * (db_optimizer.py:57-113). Each of those decisions is stated once:
  * `collapse` (FINAL, which the point read binds as `finalRule`),
  * `asCurrent` (a generation in the current schema, for the log reader
  * `logOf` and the point read alike), `writeStamped` (the bucket layout)
  * and `writeCollapsed` (a collapse written in that layout).
  *
  * == Layout ==
  * {{{
  * root/meta/gen-N.json      // column (id,name,type) list per generation
  * root/meta/epoch           // pointer: which data epoch is current
  * root/meta/staging         // reservation of an unpublished staged load
  * root/data[-eE]/gen=N/[_bucket=K/]part-*.parquet
  * }}}
  *
  * **Data epochs** make compaction invisible to readers: `compact()`
  * writes the collapsed table into a NEW epoch directory, then swaps the
  * `meta/epoch` pointer (an atomic tmp-write + rename). Readers resolve
  * the pointer at plan time, so there is never a moment with no data
  * directory — the failure mode of swapping `data/` in place, where a
  * reader racing the two renames observed an empty table. The previous
  * epoch's files survive until the NEXT compaction, so any read planned
  * before the swap keeps its files for a full compaction interval
  * (the same grace contract as ClickHouse part GC after a merge).
  * Epoch 0 is plain `data/` — pre-epoch layouts read unchanged.
  *
  * **Schema generations** make CHANGE/RENAME COLUMN a metadata-only
  * operation (like ClickHouse `ALTER ... RENAME COLUMN`,
  * converter.py:1098-1189) instead of a 100 TB rewrite: files stay where
  * they are; each generation records the column names/types its files
  * were written with, and reads map every generation to the *current*
  * names via the stable column ids. Pure ADD COLUMN updates the current
  * generation in place (parquet null-fills missing columns by name);
  * rename / retype / drop start a new generation.
  *
  * **PK bucketing**: with a single integral primary key, files are
  * partitioned by `_bucket = floor(pk / 4294967)` — the reference's
  * `PARTITION BY intDiv(id, 4294967)` (clickhouse_api.py:249-251) — and
  * sorted by the pk inside each file. `lookup()` reads only its key's
  * `_bucket=` directory, on the driver, and parquet min/max stats and
  * column-index pages on the pk skip row groups and pages inside it.
  *
  * Scale design:
  *  - writes are blind appends — no read-modify-write, so ingest
  *    parallelism is unbounded and replays are idempotent (same
  *    (key, version) collapses to one row);
  *  - deletes are tombstone rows, not rewrites (the reference issues
  *    `DELETE FROM` mutations, clickhouse_api.py:368-400 — equally
  *    deferred merges under the hood);
  *  - the FINAL aggregate of a scan shuffles on the PK — the same
  *    partitioning a downstream PK join reuses; a point lookup on a
  *    bucketed table runs no Spark job: the driver reads the key's one
  *    bucket directory with the key pushed into parquet and applies the
  *    same FINAL rule to the key's rows (see `lookup`);
  *  - a write that collapses first — the CDC flush ([[writeLatest]],
  *    last write wins by seq) and `compact()` (by `(_version,
  *    _deleted)`) — collapses on the layout exchange itself, with the
  *    map-side partial below it ([[writeCollapsed]]): one shuffle of at
  *    most one row per key per input partition, then the write;
  *  - `compact()` bounds read amplification and collapses generations,
  *    exactly like OPTIMIZE FINAL merging parts.
  */
final class GraftTable(
    spark: SparkSession,
    val root: String,
    val keys: Seq[String],
    val columns: Seq[GraftColumn]) {

  private val metaDir = s"$root/meta"

  /** Per-table-root monitor serializing epoch allocation, pointer
    * swaps, and live writes between `compact()`, staged loads, and the
    * realtime flush path. Keyed in the companion so every handle on the
    * same table shares it — the deployment unit is one replicator
    * process per source (same as the reference), so a JVM monitor is
    * the right scope; cross-process coordination stays the operator's
    * job, as documented on compact. Keyed on the fs-QUALIFIED path:
    * `/wh/db/t`, `/wh/db/t/`, and `file:/wh/db/t` must share one
    * monitor, not silently three. */
  private val epochLock: Object = GraftTable.epochLockFor(
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(root)).toString)

  val payloadSchema: StructType = StructType(columns.map(_.toStructField))

  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------- PK bucketing

  /** Reference bucket width: intDiv(pk, 4294967), clickhouse_api.py:249. */
  private val BucketWidth = 4294967L

  private val bucketKey: Option[GraftColumn] = keys match {
    case Seq(k) => columns.find(c => c.name == k && (c.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }))
    case _ => None
  }

  private def bucketExpr(pk: Column): Column =
    floor(pk.cast(LongType) / BucketWidth).cast(IntegerType)

  // ------------------------------------------------------------- epochs

  private def epochPtrPath = new Path(s"$metaDir/epoch")
  private val EpochDirRe = """data-e(\d+)""".r

  private def epochDataDir(e: Int): String =
    if (e == 0) s"$root/data" else s"$root/data-e$e"

  private def listEpochs(): Seq[Int] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).toSeq.map(_.getPath.getName).collect {
      case "data" => 0
      case EpochDirRe(n) => n.toInt
    }
  }

  /** Pointer read per operation (one tiny FS read, off any per-row path).
    * Missing pointer → the highest epoch dir present: the only ways the
    * pointer can be absent are a pre-epoch layout (only `data/`, epoch 0)
    * and a crash inside the swap's delete+rename window, where the new
    * epoch is already fully written — both resolve correctly. */
  private def currentEpoch: Int =
    readSmall(epochPtrPath).map(_.toInt)
      .getOrElse(listEpochs().maxOption.getOrElse(0))

  private def writeEpochPtr(e: Int): Unit = writeSmall(epochPtrPath, e.toString)

  /** Contents of a small meta file, trimmed; None when it is absent. */
  private def readSmall(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      Some((try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()).trim)
    }

  /** Replace a small meta file by tmp-write + rename: a crash mid-write
    * leaves the previous file (or, inside the delete+rename window, none)
    * — never a torn one whose parse would throw on every later read (a
    * torn `meta/staging` would brick both compaction and snapshot resume
    * until manual cleanup). */
  private def writeSmall(p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"cannot publish $p")
  }

  // ------------------------------------------------------- staged loads

  /** Staged (atomic-publish) bulk loads — the epoch twin of the
    * reference's stage-in-a-temp-database-then-RENAME initial
    * replication (db_replicator_initial.py:149-162): shards land in an
    * UNPUBLISHED epoch dir, readers keep resolving the pinned current
    * epoch (empty for a fresh table, the pre-migration rows otherwise),
    * and [[publishStagedLoad]] flips the `meta/epoch` pointer once —
    * a mid-load reader sees nothing-or-everything, never a partial
    * table. `meta/staging` records the staging epoch so a crashed
    * multi-shard load resumes into the SAME dir (its completed shards'
    * files must stay where their markers say they are). */
  private def stagingMetaPath = new Path(s"$metaDir/staging")

  /** `meta/staging` content: line 1 the staging epoch, line 2 the live
    * table's max `_version` when the load began (the PUBLISH BASELINE —
    * rows stamped above it arrived after the load started and are
    * lifted into the staging epoch at publish so the pointer swap loses
    * nothing). A one-line legacy file parses with an infinite baseline:
    * publish then lifts nothing, the pre-baseline behavior. */
  private def stagingMeta(): Option[(Int, Long)] =
    readSmall(stagingMetaPath).map { txt =>
      val lines = txt.split("\n").map(_.trim)
      (lines(0).toInt,
        if (lines.length > 1) lines(1).toLong else Long.MaxValue)
    }

  /** The unpublished staging epoch of an interrupted load, if any. */
  def pendingStagedLoad(): Option[Int] = stagingMeta().map(_._1)

  /** Begin (or resume) a staged load; returns the staging epoch.
    * Holds the epoch lock so the reservation cannot race a concurrent
    * `compact()`'s own `max + 1` allocation — without it both can pick
    * the same number, and compact's Overwrite would clobber the staged
    * shards (then publish old data AS the load). */
  def beginStagedLoad(): Int = epochLock.synchronized {
    beginStagedLoadLocked()
  }

  private def beginStagedLoadLocked(): Int = pendingStagedLoad().getOrElse {
    // pin the pointer FIRST: with no pointer file, `currentEpoch` falls
    // back to the max epoch dir present — which would resolve to the
    // half-written staging dir the moment its first file lands
    writeEpochPtr(currentEpoch)
    val target = (listEpochs() :+ currentEpoch).max + 1
    // the publish baseline: rows the live table holds NOW predate the
    // load and are superseded by it; anything stamped above arrives
    // during the load and must survive the swap
    val baseline = maxVersion
    writeSmall(stagingMetaPath, s"$target\n$baseline")
    target
  }

  /** Abandon a pending staged load: delete the unpublished staging
    * epoch and its reservation. The operator recovery path for a load
    * whose driver is gone for good (crashed mid-snapshot, restarted
    * with the table out of the snapshot set): publishing would expose a
    * partial table, and leaving the reservation keeps the staged dir
    * and post-baseline tombstones pinned forever — abandoning loses
    * only unpublished (never-visible) shard data, which a re-run
    * re-reads from source. No-op when nothing is pending. The caller
    * must also clear the load's external shard markers, or a resumed
    * run would skip the "completed" shards of the abandoned epoch. */
  def abandonStagedLoad(): Unit = epochLock.synchronized {
    pendingStagedLoad().foreach { e =>
      fs.delete(new Path(epochDataDir(e)), true)
      fs.delete(stagingMetaPath, false)
    }
  }

  /** [[append]] into an unpublished staging epoch — invisible to every
    * reader until [[publishStagedLoad]]. */
  def appendStaged(df: DataFrame, version: Long, epoch: Int): Unit =
    writeStamped(stampedChanges(df.withColumn("_deleted", lit(false)),
      version), epoch)

  /** Atomically publish a staged load. Two steps under the epoch lock:
    *
    * 1. Lift the post-begin DELTA — every live-epoch row stamped above
    *    the baseline recorded at [[beginStagedLoad]] — into the staging
    *    epoch. These are realtime CDC appends/tombstones that landed
    *    while the load ran; without the lift the pointer swap would
    *    make them invisible and the next compact would delete them,
    *    with the stream checkpoint already past their events. Row-level
    *    (not file-level) so an intervening compact() — which folds
    *    delta rows into merged files but preserves their `_version` —
    *    cannot hide them. At scale the filter rides parquet `_version`
    *    row-group stats: pre-load files prune to footer reads.
    * 2. Swap the `meta/epoch` pointer; readers flip from the pinned old
    *    epoch to the complete load atomically.
    *
    * Idempotent — a crash between the lift and the staging-meta delete
    * re-runs both: the re-lifted rows are identical images at identical
    * versions, collapsed by the FINAL view and swept by compaction. The
    * epoch lock keeps all of it from interleaving with live writes and
    * with a concurrent compact's own pointer swap (which would
    * otherwise revert a just-published load to compacted PRE-load data
    * and garbage-collect the staged epoch a cycle later). */
  def publishStagedLoad(epoch: Int): Unit = epochLock.synchronized {
    // replay after a crash BETWEEN the pointer swap and the meta
    // delete: the pointer already names the staging epoch, so the lift
    // already ran — and `log` would now resolve to the published
    // staging epoch itself, making the lift a same-directory
    // read+append (file-listing-dependent). Skip straight to cleanup.
    val swapped = currentEpoch == epoch
    if (!swapped) {
      stagingMeta().foreach { case (e, baseline) =>
        if (e == epoch && baseline != Long.MaxValue && exists) {
          val delta = log.filter(col("_version") > baseline)
          if (!delta.isEmpty) writeStamped(delta, epoch)
        }
      }
      writeEpochPtr(epoch)
    }
    fs.delete(stagingMetaPath, false)
  }

  // ---------------------------------------------------------- meta/gens

  private case class Gen(n: Int, cols: Seq[GraftColumn])

  private def genMetaPath(n: Int) = new Path(s"$metaDir/gen-$n.json")
  private def genDataPath(e: Int, n: Int) = s"${epochDataDir(e)}/gen=$n"

  private def writeGenMeta(n: Int, cols: Seq[GraftColumn]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    cols.foreach { c =>
      val o = mapper.createObjectNode()
      o.put("id", c.id)
      o.put("name", c.name)
      o.put("type", c.dataType.json)
      o.put("nullable", c.nullable)
      arr.add(o)
    }
    val out = fs.create(genMetaPath(n), true)
    try out.write(mapper.writeValueAsString(arr)
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readGenMeta(p: Path): Seq[GraftColumn] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(p)
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    import scala.jdk.CollectionConverters._
    mapper.readTree(bytes).elements().asScala.map { o =>
      GraftColumn(o.get("id").asInt(), o.get("name").asText(),
        DataType.fromJson(o.get("type").asText()),
        o.get("nullable").asBoolean())
    }.toSeq
  }

  private def listGens(): Seq[Gen] =
    if (!fs.exists(new Path(metaDir))) Nil
    else fs.listStatus(new Path(metaDir)).toSeq
      .map(_.getPath)
      .flatMap { p =>
        val m = """gen-(\d+)\.json""".r.findFirstMatchIn(p.getName)
        m.map(g => Gen(g.group(1).toInt, readGenMeta(p)))
      }
      .sortBy(_.n)

  private def sameCols(a: Seq[GraftColumn], b: Seq[GraftColumn]): Boolean =
    a.map(c => (c.id, c.name, c.dataType)).toSet ==
      b.map(c => (c.id, c.name, c.dataType)).toSet

  /** Reconcile stored generation metadata with this handle's (current)
    * columns: no meta yet → gen 0; pure column additions → update the
    * current generation in place; rename / retype / drop → start a new
    * generation (old files keep their names; reads re-alias by id). */
  private var gensCache: Seq[Gen] = null
  private def gens: Seq[Gen] = {
    if (gensCache == null) gensCache = reconcile()
    gensCache
  }

  private def reconcile(): Seq[Gen] = {
    val existing = listGens()
    if (existing.isEmpty) {
      writeGenMeta(0, columns)
      Seq(Gen(0, columns))
    } else {
      val cur = existing.last
      if (sameCols(cur.cols, columns)) existing
      else {
        val curById = cur.cols.map(c => c.id -> c).toMap
        val changed = columns.exists(c => curById.get(c.id)
          .exists(o => o.name != c.name || o.dataType != c.dataType))
        val dropped = cur.cols.exists(c => !columns.exists(_.id == c.id))
        if (changed || dropped) {
          val n = cur.n + 1
          writeGenMeta(n, columns)
          existing :+ Gen(n, columns)
        } else { // pure addition
          writeGenMeta(cur.n, columns)
          existing.init :+ Gen(cur.n, columns)
        }
      }
    }
  }

  def exists: Boolean = fs.exists(new Path(epochDataDir(currentEpoch)))

  private def currentGen: Int = gens.last.n

  /** The one bucket layout, for live batches, snapshot shards, the
    * staged-publish delta (heterogeneous `_version`/`_deleted` per row)
    * and compaction alike: stamped rows (payload + `_version` +
    * `_deleted`) go to the current generation of `epoch`, co-located by
    * (`_bucket`, salt) and sorted by (`_bucket`, pk) when the table is
    * bucketed.
    *
    * Without the co-location every write task opens a file per bucket it
    * sees — tasks × buckets small files per batch — which the FINAL scan
    * then pays for file by file. The salt ([[graft.functions.LayoutSalt]])
    * keeps a hot bucket from collapsing into one writer task; files per
    * write ≈ buckets × salt, independent of input parallelism. The sort
    * puts the partition column first, which is the order the parquet
    * writer needs anyway, so it is the only sort: parquet row-group
    * min/max stats on the PK become tight ranges and a point lookup's
    * pushed pk predicate skips row groups INSIDE the bucket file too.
    * Rows that need a collapse first go through [[writeCollapsed]]. */
  private def writeStamped(stamped: DataFrame, epoch: Int,
                           mode: SaveMode = SaveMode.Append): Unit =
    bucketKey match {
      case Some(k) =>
        writeLayout(stamped.withColumn("_bucket", bucketExpr(col(k.name)))
          .repartition(col("_bucket"), layoutSalt(col(k.name)))
          .sortWithinPartitions(col("_bucket"), col(k.name)), epoch, mode)
      case None => writeLayout(stamped, epoch, mode)
    }

  private def writeLayout(rows: DataFrame, epoch: Int, mode: SaveMode): Unit = {
    val w =
      if (bucketKey.isDefined) rows.write.partitionBy("_bucket") else rows.write
    w.mode(mode).parquet(genDataPath(epoch, currentGen))
  }

  private def layoutSalt(key: Column): Column =
    call_function("graft_layout_salt", key)

  /** Reserved name of the salt column between the layout exchange and
    * the collapse; it is never written. */
  private val SaltCol = "__graft_layout_salt"

  /** Collapse `events` to their latest row per key by `order`, pass the
    * winners through `finish`, and write them in the bucket layout, on
    * ONE exchange for a bucketed table: `events` are repartitioned on
    * (`_bucket`, salt) and collapsed per (`_bucket`, key, salt) behind
    * that same exchange — the layout columns are functions of the key,
    * so the grouping is the key's — and the planner strategy
    * [[graft.functions.LayoutCollapse]] plans the map-side partial
    * collapse below it, so the exchange ships at most one row per key
    * per input partition, however hot a key is. The final collapse
    * leaves each partition sorted by (`_bucket`, key), the writer's
    * order, so no further sort runs (for a flush the key is the wire
    * value; compaction re-sorts by the stored key).
    *
    * `typedKey` states the stored key over the key column of `events`
    * (the flush collapses wire values and converts the winners): the
    * bucket of a key is that of its stored value. `finish` must keep
    * `_bucket`. `partitions`, when given, fixes the exchange's partition
    * count, which adaptive execution then leaves as it is; otherwise
    * adaptive execution coalesces the exchange by the bytes it ships.
    * Non-bucketed tables collapse on the key and write with no layout
    * exchange. */
  private def writeCollapsed(events: DataFrame, order: Column,
                             typedKey: Column => Column,
                             finish: DataFrame => DataFrame, epoch: Int,
                             mode: SaveMode,
                             partitions: Option[Int] = None): Unit =
    bucketKey match {
      case Some(k) =>
        val key = typedKey(col(k.name))
        val layout = Seq(col("_bucket"), col(SaltCol))
        val withLayout = events.withColumn("_bucket", bucketExpr(key))
          .withColumn(SaltCol, layoutSalt(key))
        val laid = partitions.fold(withLayout.repartition(layout: _*))(
          withLayout.repartition(_, layout: _*))
        writeLayout(finish(FinalView.latestByKey(laid,
          Seq("_bucket", k.name, SaltCol), order).drop(SaltCol)), epoch, mode)
      case None =>
        writeLayout(finish(FinalView.latestByKey(events, keys, order)),
          epoch, mode)
    }

  /** Write one collapsed batch at `version` in one bucketed parquet
    * write. Each row of `rows` carries a boolean `_deleted`: false for a
    * row image (reference insert + `_version` stamping,
    * clickhouse_api.py:303-366), true for a delete-by-key tombstone,
    * whose payload is stored NULL (reference erase,
    * clickhouse_api.py:368-400). The caller has LWW-collapsed the batch
    * to one row per key; payload columns it lacks are stored NULL.
    *
    * LIVE write: epoch resolution and the parquet commit are atomic under
    * the table's epoch lock, so a concurrent publishStagedLoad either
    * sees this batch's committed files when it lifts the post-begin delta
    * into the staging epoch, or this write blocks and then lands in the
    * published epoch — never the lost-in-a-doomed-epoch middle. Holding a
    * monitor across a Spark action serializes only same-table writers,
    * which are already serial in the pipeline (flush futures are
    * one-per-table); staged shard appends go to a different directory and
    * take no lock. */
  def writeChanges(rows: DataFrame, version: Long): Unit =
    epochLock.synchronized {
      writeStamped(stampedChanges(rows, version), currentEpoch)
    }

  /** The CDC flush: collapse a segment's `events` to the last one per
    * key by `order` (last write wins), convert the winners with
    * `convert`, and write them at `version` — [[writeChanges]] of the
    * collapse, on one exchange (see [[writeCollapsed]]). Each event
    * carries `_deleted` (its op is a delete); `typedKey` states the
    * stored key over the event's key column, and `convert` must keep the
    * columns it does not convert. Same epoch-lock contract as
    * [[writeChanges]]. */
  def writeLatest(events: DataFrame, order: Column, version: Long,
                  typedKey: Column => Column,
                  convert: DataFrame => DataFrame): Unit =
    epochLock.synchronized {
      writeCollapsed(events, order, typedKey,
        rows => stampedChanges(convert(rows), version), currentEpoch,
        SaveMode.Append)
    }

  /** Upsert a batch of row images at `version`. */
  def append(df: DataFrame, version: Long): Unit =
    writeChanges(df.withColumn("_deleted", lit(false)), version)

  /** Delete by key at `version`. */
  def delete(keyDf: DataFrame, version: Long): Unit =
    writeChanges(keyDf.select(keys.map(col): _*)
      .withColumn("_deleted", lit(true)), version)

  // `_version` goes through graft_stamp (functions/Stamp), not
  // lit(version): every micro-batch stamps a new version, and an inlined
  // literal would make each one compile its write stage again
  // (`_bucket`, when the collapse computed it, rides along)
  private def stampedChanges(rows: DataFrame, version: Long): DataFrame = {
    val present = rows.columns.toSet
    val tombstone = col("_deleted")
    rows.select(columns.toIndexedSeq.map { c =>
      val v =
        if (!present.contains(c.name)) lit(null)
        else if (keys.contains(c.name)) col(c.name)
        else when(!tombstone, col(c.name))
      v.cast(c.dataType).as(c.name)
    } ++ Seq(call_function("graft_stamp", lit(version)).as("_version"),
      tombstone) ++ rows.columns.filter(_ == "_bucket").map(col): _*)
  }

  private def metaFields: Seq[StructField] = Seq(
    StructField("_version", LongType, nullable = false),
    StructField("_deleted", BooleanType, nullable = false))

  private def emptyLog: DataFrame = {
    val full = StructType((payloadSchema.fields ++ metaFields).toIndexedSeq)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
  }

  /** The raw versioned log (all appends + tombstones), every generation
    * re-aliased to the current column names/types via the stable ids. */
  def log: DataFrame = logOf(genDirs(None))

  private def genSchema(g: Gen): StructType =
    StructType((g.cols.map(_.toStructField) ++ metaFields).toIndexedSeq)

  /** A generation's rows in the current schema, stated once for the
    * DataFrame reads and the point read: each current column is read by
    * its stable id under the generation's name and cast to its current
    * type, NULL where the generation lacks it; the meta columns pass. */
  private def asCurrent(g: Gen): Seq[Column] = {
    val byId = g.cols.map(c => c.id -> c).toMap
    columns.map { c =>
      byId.get(c.id) match {
        case Some(o) => col(o.name).cast(c.dataType).as(c.name)
        case None => lit(null).cast(c.dataType).as(c.name)
      }
    } ++ metaFields.map(f => col(f.name))
  }

  /** A generation's data directory in the current epoch: its `_bucket=`
    * directory when `narrowed`, else the whole generation. */
  private case class GenDir(gen: Gen, path: String, narrowed: Boolean)

  /** The current epoch's data directories, generation by generation. With
    * a `bucket`, a bucketed generation contributes only that `_bucket=`
    * directory — provably the only one holding the key. A generation
    * written before the PK became integral (e.g. MODIFY varchar → int)
    * has no `_bucket=` dirs at all and contributes its whole directory.
    * Missing directories are skipped. */
  private def genDirs(bucket: Option[Int]): Seq[GenDir] = {
    val e = currentEpoch
    gens.flatMap { g =>
      val dir = genDataPath(e, g.n)
      val narrowed = bucket.filter(_ => isBucketed(e, g.n))
      val p = narrowed.fold(dir)(b => s"$dir/_bucket=$b")
      if (fs.exists(new Path(p))) Some(GenDir(g, p, narrowed.isDefined)) else None
    }
  }

  /** The log of `dirs`, each generation in the current schema. */
  private def logOf(dirs: Seq[GenDir]): DataFrame = {
    val parts = dirs.map { case GenDir(g, p, _) =>
      spark.read.schema(genSchema(g)).parquet(p)
        .select(asCurrent(g).toIndexedSeq: _*)
    }
    if (parts.isEmpty) emptyLog else parts.reduce(_ unionByName _)
  }

  /** Whether a generation's data dir has `_bucket=` subdirs, memoized:
    * that is immutable once files exist, and probing it per lookup would
    * put a listing RPC on the point-read hot path. Only positive answers
    * are cached: a probe racing the generation's first write (dir holds
    * just _temporary/) must not pin "not bucketed" — that would disable
    * pruning for the handle's life. */
  private val bucketedGens =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()
  private def isBucketed(e: Int, n: Int): Boolean =
    bucketedGens.contains((e, n)) || {
      val genDir = new Path(genDataPath(e, n))
      val b = fs.exists(genDir) && fs.listStatus(genDir)
        .exists(_.getPath.getName.startsWith("_bucket="))
      if (b) bucketedGens.add((e, n))
      b
    }

  /** FINAL semantics, stated once: per key the row with the greatest
    * (`_version`, `_deleted`) wins, so a tombstone beats an image stamped
    * at its own version. `SELECT … FINAL` (what the reference returns,
    * db_replicator.py:202-211) then drops keys whose winner is a
    * tombstone and returns the payload; compaction collapses by the same
    * order, keeps the winners' meta columns and applies its own tombstone
    * rule. The point read binds the same two columns
    * ([[finalRule]]). */
  private def collapse(log: DataFrame): DataFrame =
    FinalView.finalView(log, keys, finalOrder, isDelete = tombstone)
      .select(payloadSchema.fieldNames.map(col).toIndexedSeq: _*)

  private def finalOrder: Column = struct(col("_version"), col("_deleted"))
  private def tombstone: Column = col("_deleted")

  /** FINAL view: latest version per key, tombstones dropped. */
  def read: DataFrame = collapse(log)

  /** Time-travel FINAL view: the table as it stood when `maxVersion`
    * was the newest committed version. ClickHouse offers nothing like
    * it, but the versioned log records every image anyway — the filter
    * sits UNDER the dedup aggregate, so parquet row-group min/max stats
    * on `_version` skip newer files instead of aggregating and
    * discarding them (on a compacted table, history older than the last
    * OPTIMIZE is gone — same contract as ReplacingMergeTree merges). */
  def readAsOf(maxVersion: Long): DataFrame =
    collapse(log.filter(col("_version") <= maxVersion))

  /** Point lookup through the FINAL view: `read.filter(pk === keyValue)`,
    * answered from the key's one `_bucket=` directory.
    *
    * On a bucketed table whose every generation has `_bucket=` dirs, the
    * lookup is a driver-local point read with no Spark job
    * ([[graft.functions.PointLookup]]): it lists the key's bucket files
    * when called — a plan made before a compaction swap reads its grace
    * epoch — reads them with Spark's parquet reader with the key pushed,
    * so row-group stats and column-index pages prune inside the bucket,
    * and collapses the key's rows by this table's FINAL rule. The key is
    * the one stored key `keyValue` names as the FINAL view's filter
    * compares them ([[pointKey]]): 5, 5L, 5.0 and "5" all find key 5,
    * 5.5 finds none.
    *
    * A string or composite PK, a generation written before the PK became
    * integral (read whole), or a value that names several integral keys
    * keeps the parallel plan: the filter under the FINAL aggregate, the
    * bucketed generations narrowed to the key's directory, and the key
    * kept out of generated code (functions/StampPushedKeys). */
  def lookup(keyValue: Any): DataFrame = {
    def parallel(dirs: Seq[GenDir]) =
      collapse(logOf(dirs).filter(col(keys.head) === lit(keyValue)))
    bucketKey.flatMap(k => pointKey(k, keyValue)) match {
      case Some(None) => pointRead(None, Nil)
      case Some(Some(x)) =>
        val dirs = genDirs(Some(math.floorDiv(x, BucketWidth).toInt))
        if (dirs.forall(_.narrowed)) pointRead(Some(x), dirs) else parallel(dirs)
      case None => parallel(genDirs(None))
    }
  }

  /** The one stored key a lookup value names, as `read.filter(pk === v)`
    * compares them: Spark's own coercion of `pk = v`, solved for the key
    * (a value of the key's own type needs none). Some(None) when no key
    * can equal it (5.5, a value past the key type's range); None when it
    * is not a single integral key (a double at or above 2^53 equals
    * several longs), which the parallel plan answers. */
  private def pointKey(k: GraftColumn, v: Any): Option[Option[Long]] = {
    def inRange(x: Long) = Some(Some(x).filter(fitsIn(_, k.dataType)))
    if (Literal(v).dataType == k.dataType)
      return Some(Some(v.asInstanceOf[Number].longValue))
    val probe = org.apache.spark.sql.GraftDatasets.ofRows(spark,
      LocalRelation(StructType(Seq(k.toStructField)))).filter(col(k.name) === lit(v))
    probe.queryExecution.analyzed match {
      case Filter(EqualTo(_: Attribute, e), _) if e.foldable =>
        Some(Option(e.eval()).map(_.asInstanceOf[Number].longValue))
      case Filter(EqualTo(Cast(_: Attribute, to, _, _), e), _) if e.foldable =>
        (to, e.eval()) match {
          case (_, null) => Some(None)
          case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
            inRange(n.longValue)
          case (DoubleType | FloatType, n: Number) =>
            val d = n.doubleValue
            if (math.abs(d) >= (if (to == FloatType) 1L << 24 else 1L << 53)) None
            else if (d != math.rint(d)) Some(None)
            else inRange(d.toLong)
          case (_: DecimalType, d: Decimal) =>
            val b = d.toJavaBigDecimal
            if (b.signum != 0 && b.stripTrailingZeros.scale > 0) Some(None)
            else scala.util.Try(b.longValueExact).toOption
              .fold(Some(None): Option[Option[Long]])(inRange)
          case _ => None
        }
      case _ => None
    }
  }

  private def fitsIn(x: Long, t: DataType): Boolean = t match {
    case ByteType => x.isValidByte
    case ShortType => x.isValidShort
    case IntegerType => x.isValidInt
    case _ => true
  }

  /** `x` as a value of integral type `t` (which it fits). */
  private def integral(x: Long, t: DataType): Any = t match {
    case ByteType => x.toByte
    case ShortType => x.toShort
    case IntegerType => x.toInt
    case _ => x
  }

  /** The FINAL rule as the point read evaluates it: [[finalOrder]] and
    * the liveness of [[tombstone]], bound to a row of the current schema
    * (payload, then the meta columns). */
  private lazy val finalRule: (Expression, Expression) =
    bound(StructType((payloadSchema.fields ++ metaFields).toIndexedSeq),
      _.select(finalOrder, FinalView.live(tombstone))) match {
      case Seq(order, live) => (order, live)
    }

  /** `f`'s projection of a row of `schema`, analyzed as a DataFrame read
    * analyzes it (ANSI casts included) and bound to the row's ordinals. */
  private def bound(schema: StructType,
                    f: DataFrame => DataFrame): Seq[Expression] = {
    val rel = LocalRelation(schema)
    f(org.apache.spark.sql.GraftDatasets.ofRows(spark, rel))
      .queryExecution.analyzed match {
      case Project(list, _) =>
        list.map(e => BindReferences.bindReference(e: Expression, rel.output))
    }
  }

  /** [[asCurrent]] as the point read evaluates it, per generation: bound
    * to a stored row of [[genSchema]]. The key does not enter it, so it is
    * bound once per generation and handle. */
  private val currentOf =
    new java.util.concurrent.ConcurrentHashMap[Gen, Seq[Expression]]()

  /** The driver-local point read of stored key `key` from `dirs` (see
    * [[lookup]]); no key reads nothing. A generation stores the key under
    * its own name and type: the key is pushed as that, and a generation
    * whose key type cannot hold it holds no row of it. */
  private def pointRead(key: Option[Long], dirs: Seq[GenDir]): DataFrame = {
    val k = bucketKey.get
    val keyAt = columns.indexWhere(_.id == k.id)
    val parts = for {
      x <- key.toSeq
      GenDir(g, dir, _) <- dirs
      stored <- g.cols.find(_.id == k.id).toSeq
      if fitsIn(x, stored.dataType)
      files = fs.listStatus(new Path(dir)).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(s => (s.getPath.toString, s.getLen))
      if files.nonEmpty
    } yield {
      val current = currentOf.computeIfAbsent(g,
        g => bound(genSchema(g), _.select(asCurrent(g).toIndexedSeq: _*)))
      val storedKey = current(keyAt) match { case a: Alias => a.child; case e => e }
      graft.functions.PointRead.Part(files, genSchema(g),
        org.apache.spark.sql.sources.EqualTo(stored.name, integral(x, stored.dataType)),
        EqualTo(storedKey, Literal(integral(x, k.dataType), k.dataType)), current)
    }
    val (order, live) = finalRule
    org.apache.spark.sql.GraftDatasets.ofRows(spark, graft.functions.PointLookup(
      DataTypeUtils.toAttributes(payloadSchema),
      graft.functions.PointRead(parts, order, live, columns.size)))
  }

  /** One metadata-only recursive walk over the current epoch's parquet
    * files — shared by the two derived signals below. */
  private def foreachDataFile(
      f: org.apache.hadoop.fs.LocatedFileStatus => Unit): Unit = {
    val e = currentEpoch
    gens.foreach { g =>
      val p = new Path(genDataPath(e, g.n))
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val s = it.next()
          if (s.getPath.getName.endsWith(".parquet")) f(s)
        }
      }
    }
  }

  /** Parquet data files in the current epoch. */
  def dataFileCount: Long = {
    var n = 0L
    foreachDataFile(_ => n += 1)
    n
  }

  /** The compaction churn signal: a fingerprint of the current epoch's
    * file LISTING (name + length per parquet file), mixed with the
    * epoch and generation numbers. Same metadata-only listing cost as
    * [[dataFileCount]], but change-complete where a bare count is not:
    * a TRUNCATE-then-reload that happens to recreate the old file count
    * still changes the fingerprint (parquet part files carry fresh UUID
    * names), and a rename/retype ALTER — a new generation with zero new
    * files — changes the generation component, so the gen-collapse
    * rewrite compact() exists to perform is never suppressed on a
    * write-quiet table. */
  def compactionSignature: Long = {
    var h = 1125899906842597L * (currentEpoch + 1) + 31L * currentGen
    // order-insensitive mix: listing order is fs-dependent
    foreachDataFile(s =>
      h += s.getPath.getName.hashCode.toLong * 1099511628211L +
        s.getLen * 16777619L)
    h
  }

  /** Max stamped version (reference version-counter consolidation,
    * clickhouse_api.py:444-467). -1 when empty. */
  def maxVersion: Long = {
    if (!exists) return -1L
    val r = log.agg(max(col("_version"))).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** OPTIMIZE analogue: materialize the FINAL view (keeping each
    * survivor's `_version`) into a NEW data epoch, publish it by swapping
    * the `meta/epoch` pointer, and keep the previous epoch's files for
    * one more compaction cycle. Also collapses all generations into the
    * current one — the same part-merge work ClickHouse's OPTIMIZE FINAL
    * does.
    *
    * Crash-safe at every step: a crash before the pointer swap leaves
    * the pointer on the old epoch (the partial new epoch is garbage-
    * collected by the next successful compaction); a crash inside the
    * swap's tiny delete+rename window resolves to the — fully written —
    * new epoch via the max-epoch fallback in `currentEpoch`.
    *
    * Concurrency contract: single compactor, serialized with the writer
    * (the pipeline runs `Compactor.tick()` inside the micro-batch loop,
    * so compact-vs-append cannot race by construction); readers need no
    * coordination at all — a plan that resolved the pointer before the
    * swap reads the previous epoch, which outlives it by a full
    * compaction interval. The epoch lock additionally serializes the
    * whole rewrite against staged loads in this process: epoch
    * allocation, the Overwrite into the target dir, and the pointer
    * swap can never interleave with beginStagedLoad/publishStagedLoad
    * (a staged load in progress simply waits out the compaction, and
    * vice versa).
    *
    * Returns the post-compact [[compactionSignature]], read under the
    * same lock — the churn guard records THIS value, not a re-listing
    * taken after the lock drops (where an interleaved publish would get
    * folded into the baseline and the published load never compacted). */
  def compact(): Long = epochLock.synchronized {
    compactLocked()
    compactionSignature
  }

  private def compactLocked(): Unit = {
    if (!exists) return
    val e = currentEpoch
    val cur = currentGen
    // Tombstones normally die here (applied, then dropped). But with a
    // staged load pending, publish will lift post-baseline rows —
    // tombstones included — into the staging epoch: dropping one now
    // would resurrect its key the moment the load publishes (the
    // snapshot has the row; the delete that arrived after the load
    // began is the only thing that removes it). Keep exactly those.
    val keep = stagingMeta() match {
      case Some((_, b)) if b != Long.MaxValue =>
        !col("_deleted") || col("_version") > b
      case _ => !col("_deleted")
    }
    // past any crashed attempt's leftovers, so SaveMode.Overwrite below
    // can only ever clobber a partial epoch, never a published one.
    // The pending staged epoch counts even though its DIR may not exist
    // yet (meta/staging is written before the first staged parquet job):
    // without it, compact could allocate the reserved number, publish
    // old data AS the staging epoch, and the load's shards would then
    // append into a live epoch — a permanently corrupted table.
    val target = (listEpochs() ++ pendingStagedLoad() :+ e).max + 1
    // the FINAL winners keep their own `_version`: one collapse, one
    // layout exchange, one write. The exchange gets one partition per
    // advisory partition size of the epoch's stored bytes, at most the
    // shuffle partitions: a small table compacts to one file per bucket.
    // Coalescing by the bytes it ships instead would split a small
    // bucket once the partial-collapse rows outgrow the minimum
    // coalesced partition size.
    val conf = spark.sessionState.conf
    var stored = 0L
    foreachDataFile(s => stored += s.getLen)
    val advisory =
      conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val partitions = math.min(conf.numShufflePartitions.toLong,
      math.max(1L, (stored + advisory - 1) / advisory)).toInt
    writeCollapsed(log, finalOrder, identity, _.filter(keep), target,
      SaveMode.Overwrite, Some(partitions))
    writeEpochPtr(target)
    // previous epoch survives one cycle for in-flight readers; anything
    // older — including partial epochs from crashed attempts — goes now.
    // An in-progress staged load (meta/staging present) keeps its epoch:
    // the compactor is serialized with the writer, but nothing serializes
    // it against an operator-driven bulk load on the same table.
    val staging = pendingStagedLoad()
    listEpochs()
      .filter(x => x != target && x != e && !staging.contains(x))
      .foreach(x => fs.delete(new Path(epochDataDir(x)), true))
    // Superseded generation METADATA gets the same one-cycle grace as
    // the data dirs: a reader that resolved the pre-swap pointer still
    // needs the old gens listed to read the grace epoch — delete a
    // gen's meta only once no retained epoch holds its files (i.e. one
    // compaction later). Lingering metas are harmless meanwhile: log()
    // skips gens whose data dir is absent.
    gens.filter(_.n != cur)
      .filter(g => !fs.exists(new Path(genDataPath(e, g.n))))
      .foreach(g => fs.delete(genMetaPath(g.n), false))
    writeGenMeta(cur, columns)
    gensCache = null
  }

  /** TRUNCATE: drop all data — every epoch — keep the table
    * (db_replicator_realtime.py:268-302). */
  def truncate(): Unit = epochLock.synchronized {
    listEpochs().foreach(e => fs.delete(new Path(epochDataDir(e)), true))
    fs.delete(epochPtrPath, false)
    // a pending staged load is ABANDONED — its epoch dir is gone with
    // the rest, so the reservation must go too, or every later write
    // path would keep honoring a load nobody will ever publish. (A
    // loader whose external shard markers survive a concurrent TRUNCATE
    // is an operator-error corner: in the replicator flow snapshots
    // complete before the realtime stream — and its TRUNCATEs — start.)
    fs.delete(stagingMetaPath, false)
  }

  /** DROP TABLE. */
  def drop(): Unit = fs.delete(new Path(root), true)
}

object GraftTable {
  /** One monitor per table root, shared by every handle in the process
    * (see the field doc in the class). Weak-ish growth is fine: entries
    * are one Object per distinct table path ever touched. */
  private val epochLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def epochLockFor(root: String): Object =
    epochLocks.computeIfAbsent(root, _ => new Object)

  /** Handle carrying the registry's STABLE column ids — what every
    * writer against a CDC-managed table path must use. A handle built
    * with positional ids on an evolved schema (any DROP/CHANGE history
    * leaves id gaps) writes generation metadata under the WRONG ids,
    * and the realtime handle's by-id re-alias then reads those columns
    * as NULL. */
  def fromSchema(spark: SparkSession, root: String,
                 schema: graft.ddl.TableSchema): GraftTable = {
    // parser-produced schemas that never passed through the registry
    // carry id = -1 on every field — positional is the only identity
    // they have (and matches what the registry WOULD assign at CREATE,
    // so a later registry-handled handle still reads these files)
    val ids = schema.fields.map(_.id)
    val stable = ids.forall(_ >= 0) && ids.distinct.length == ids.length
    new GraftTable(spark, root, schema.primaryKeys,
      schema.fields.zipWithIndex.map { case (f, i) =>
        GraftColumn(if (stable) f.id else i, f.name,
          graft.types.MySqlType.toSpark(f.tpe), f.nullable)
      })
  }

  /** Positional ids — for tables that never rename columns (snapshots,
    * tests, queries). CDC tables get registry-assigned ids instead. */
  def apply(spark: SparkSession, root: String, keys: Seq[String],
            payloadSchema: StructType): GraftTable =
    new GraftTable(spark, root, keys,
      payloadSchema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
        GraftColumn(i, f.name, f.dataType, f.nullable)
      })
}
