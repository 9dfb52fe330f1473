package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ReplacingMergeTree(_version) + FINAL semantics, Spark-first.
  *
  * The reference replicates MySQL rows into ClickHouse tables declared
  * `ENGINE = ReplacingMergeTree(_version) ORDER BY (pk...)` and forces
  * `final = 1` on reads, so the *observable* table is "latest `_version`
  * per primary key, deletes physically removed"
  * (reference: clickhouse_api.py:17-27, 275, 303-366; db_replicator.py:202-211).
  *
  * Here the base storage is an append-only log carrying a version column
  * and tombstone rows; FINAL is a derived view over it. Deletes are
  * dropped at read and physically removed by compaction.
  * [[graft.operators.GraftTable]] orders versions by
  * `struct(_version, _deleted)` and flags tombstones with `_deleted`.
  * `latestByKey` alone is also the per-micro-batch last-write-wins
  * collapse (reference A1, db_replicator_realtime.py:123-177): the
  * realtime flush keeps one pending image per PK before the write.
  *
  * Scale notes:
  *  - `max_by(struct(payload), version)` plans as a hash aggregate with
  *    partial (map-side) combine, so the shuffle carries one row per key
  *    per input partition — strictly better than the window-function
  *    formulation (full shuffle + sort of every version).
  *  - The aggregate shuffles on the PK, which is exactly the partitioning
  *    a downstream PK join wants; Catalyst reuses it (no second shuffle).
  */
object FinalView {

  /** Latest row per key by `version` (deterministic total order required:
    * pass e.g. struct(ts, seq) to break ties).
    */
  def latestByKey(df: DataFrame, keys: Seq[String], version: Column): DataFrame = {
    val payloadCols = df.columns.filterNot(keys.contains).map(col)
    val packed = struct(payloadCols.toIndexedSeq: _*)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max_by(packed, version).as("_latest"))
      .select(keys.map(col) ++ df.columns.filterNot(keys.contains)
        .map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** FINAL view over a versioned CDC log: latest version per key, with rows
    * whose latest image is a delete dropped (reference erase semantics,
    * clickhouse_api.py:368-400 — here tombstones are rows, not statements).
    *
    * @param isDelete predicate over the *latest* row marking it a
    *                  tombstone; NULL counts as "not deleted" — the
    *                  common CDC shape stamps the flag only on deletes,
    *                  and `!null` is null, which `filter` would drop
    *                  (losing every LIVE row, the exact opposite of the
    *                  documented contract)
    */
  def finalView(log: DataFrame, keys: Seq[String], version: Column,
                isDelete: Column): DataFrame =
    latestByKey(log, keys, version).filter(live(isDelete))

  /** Whether a latest row survives FINAL: it is not a tombstone, and a
    * NULL `isDelete` counts as live (see [[finalView]]). */
  def live(isDelete: Column): Column = !coalesce(isDelete, lit(false))
}
