package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S1/S3 — parallel snapshot sharding. No live MySQL in the sandbox, so
  * the JDBC reader itself is covered by the generated predicate array
  * (what `spark.read.jdbc` pushes into the remote WHERE clauses) plus a
  * fixture-DataFrame proof that the CRC32 shards are disjoint and
  * complete (mirrors mysql_api.py:110-157).
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("shardPredicates: one pushable WHERE clause per worker") {
    val preds = Snapshot.shardPredicates(Seq("id", "sub"), 4)
    assert(preds.length === 4)
    preds.zipWithIndex.foreach { case (p, w) =>
      assert(p ===
        s"CRC32(CONCAT_WS('|', COALESCE(CAST(id AS CHAR), ''), " +
          s"COALESCE(CAST(sub AS CHAR), ''))) % 4 = $w")
    }
  }

  test("shards are disjoint and complete over a composite PK") {
    val rows = (1 to 1000).map(i => (i.toLong, s"k${i % 7}"))
      .toDF("id", "sub")
    val n = 5
    val counts = (0 until n).map { w =>
      rows.filter(Snapshot.shardPredicate(Seq("id", "sub"), n, w)).count()
    }
    assert(counts.sum === 1000L)        // complete
    assert(counts.forall(_ > 0))        // actually spread
    // disjoint: every row matches exactly one shard id
    val matchedOnce = rows.select(
      (0 until n).map(w =>
        when(Snapshot.shardPredicate(Seq("id", "sub"), n, w), 1)
          .otherwise(0)).reduce(_ + _).as("m"))
      .filter(col("m") === 1).count()
    assert(matchedOnce === 1000L)
  }

  test("shard-level resume: restart redoes only incomplete shards, exactly once") {
    val rows = (1 to 120).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val dir = tmpDir("graft-snap-sh")
    val markers = tmpDir("graft-snap-mk")
    val shards = 4
    var failAt = 2 // the "driver dies while snapshotting shard 2" run
    def src(k: Int) = {
      if (k == failAt) throw new RuntimeException("simulated driver death")
      rows.filter(Snapshot.shardPredicate(Seq("id"), shards, k))
    }
    intercept[RuntimeException] {
      Snapshot.runSharded(spark, schema, dir, markers, shards, src)
    }
    // shards 0 and 1 committed + marked; 2 and 3 did not
    val done = new java.io.File(markers).list().toSet
      .filter(_.startsWith("shard-")) // drop local-FS .crc sidecars
    assert(done === Set("shard-0", "shard-1"))
    failAt = -1 // restart: source healthy
    val redone = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t = Snapshot.runSharded(spark, schema, dir, markers, shards,
      k => { redone += k; src(k) })
    assert(redone.toSeq === Seq(2, 3)) // completed shards never re-read
    // exactly one version-0 row per source row — no duplicate images
    assert(t.log.count() === 120)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === (1 to 120).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("a frame without a shard reader snapshots in one pass") {
    // Replicator.start's fallback: no per-shard reader, so ONE job
    // writes every missing shard (the exchange's map stage and the
    // write) — not one filtered re-scan of the frame per shard
    val rows = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val markers = tmpDir("graft-snap-fr-mk")
    val (t, jobs) = jobsOf(Snapshot.runFrame(spark, schema,
      tmpDir("graft-snap-fr"), markers, 4, rows))
    assert(jobs <= 2, s"$jobs jobs for a 4-shard frame snapshot")
    assert(new java.io.File(markers).list().toSet
      .filter(_.startsWith("shard-")) === (0 until 4).map(k => s"shard-$k").toSet)
    assert(t.log.count() === 200)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === (1 to 200).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("a frame resume writes only the rows of the unmarked shards") {
    val rows = (1 to 120).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val dir = tmpDir("graft-snap-frr")
    val markers = tmpDir("graft-snap-frr-mk")
    // the crash state: shards 0 and 1 staged and marked, 2 and 3 not
    val t0 = graft.operators.GraftTable.fromSchema(spark, dir, schema)
    val staging = t0.beginStagedLoad()
    def shards(ks: Int*) =
      rows.filter(ks.map(Snapshot.shardPredicate(Seq("id"), 4, _)).reduce(_ || _))
    t0.appendStaged(shards(0, 1), 0L, staging)
    Seq(0, 1).foreach(k => new java.io.File(markers, s"shard-$k").createNewFile())
    val marked = shards(0, 1).count()
    assert(marked > 0 && marked < 120)
    val t = Snapshot.runFrame(spark, schema, dir, markers, 4, rows)
    // exactly one image per source row: shards 0 and 1 were not rewritten
    assert(t.log.count() === 120)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === (1 to 120).map(i => (i.toLong, s"v$i")).toSet)
    assert(new java.io.File(markers).list().toSet
      .filter(_.startsWith("shard-")) === (0 until 4).map(k => s"shard-$k").toSet)
  }

  test("string PKs with quotes/pipes/unicode shard and resume cleanly") {
    // The reference's keyset pagination quotes string PKs into SQL
    // literals (mysql_api.py:117-136, db_replicator_initial.py:210-218)
    // — a quoting bug there corrupts resume. Our shard membership is a
    // CRC32 Column (no SQL string splice), so hostile PK content must
    // be a non-event: embedded single/double quotes, backslashes, the
    // CONCAT_WS separator '|' itself, unicode, and the empty string all
    // shard disjoint-and-complete and survive a mid-snapshot restart.
    val pks = Seq("it's", "a|b", "a\\'b", "\"q\"", "naïve—日本",
      "", "plain", "x'); DROP TABLE s; --", "🙂|'", "ünïcödé")
    val rows = pks.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("sk", "v")
    val n = 3
    // disjoint and complete
    val matched = rows.select(
      (0 until n).map(w =>
        when(Snapshot.shardPredicate(Seq("sk"), n, w), 1)
          .otherwise(0)).reduce(_ + _).as("m"))
    assert(matched.filter(col("m") === 1).count() === pks.size.toLong)
    // crash while snapshotting shard 1, then resume: every PK lands
    // exactly once, byte-identical
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (sk varchar(40) NOT NULL, v bigint, PRIMARY KEY(sk))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val dir = tmpDir("graft-snap-q")
    val markers = tmpDir("graft-snap-qmk")
    var failAt = 1
    def src(k: Int) = {
      if (k == failAt) throw new RuntimeException("simulated driver death")
      rows.filter(Snapshot.shardPredicate(Seq("sk"), n, k))
    }
    intercept[RuntimeException] {
      Snapshot.runSharded(spark, schema, dir, markers, n, src)
    }
    failAt = -1
    val t = Snapshot.runSharded(spark, schema, dir, markers, n, src)
    assert(t.log.count() === pks.size.toLong) // no duplicate images
    assert(t.read.collect().map(_.getString(0)).toSet === pks.toSet)
  }

  test("atomic publish: a reader mid-snapshot sees empty, then everything") {
    val rows = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val dir = tmpDir("graft-snap-at")
    val markers = tmpDir("graft-snap-at-mk")
    val shards = 3
    // an independent reader handle on the same table root — the
    // "user querying the warehouse during initial replication"
    val reader = graft.operators.GraftTable(spark, dir,
      schema.primaryKeys, schema.toStructType)
    val observed = scala.collection.mutable.ArrayBuffer.empty[Long]
    def src(k: Int) = {
      // invoked just before shard k loads: shards 0..k-1 are already
      // fully committed to the staging epoch at this point
      observed += reader.read.count()
      rows.filter(Snapshot.shardPredicate(Seq("id"), shards, k))
    }
    val t = Snapshot.runSharded(spark, schema, dir, markers, shards, src)
    assert(observed.toSeq === Seq(0L, 0L, 0L),
      s"mid-snapshot reader saw a partial table: $observed")
    assert(t.read.count() === 100)
    assert(reader.read.count() === 100) // pre-existing handles flip too
  }

  test("crash between last marker and publish: restart publishes, no re-read") {
    val rows = (1 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val dir = tmpDir("graft-snap-pub")
    val markers = tmpDir("graft-snap-pub-mk")
    // simulate the crash state directly: both shards staged + marked,
    // process died before the pointer swap
    val t = graft.operators.GraftTable(spark, dir,
      schema.primaryKeys, schema.toStructType)
    val staging = t.beginStagedLoad()
    t.appendStaged(rows, 0L, staging)
    (0 until 2).foreach { k =>
      new java.io.File(markers, s"shard-$k").createNewFile()
    }
    assert(t.read.count() === 0) // still unpublished
    // restart: every marker present -> no shard may be re-read, but the
    // pending staged load must be finished
    val t2 = Snapshot.runSharded(spark, schema, dir, markers, 2,
      k => fail(s"completed shard $k was re-read"))
    assert(t2.read.count() === 60)
    // a FURTHER restart (markers present, nothing pending) is a no-op —
    // in particular it must not publish a fresh empty epoch over the data
    val t3 = Snapshot.runSharded(spark, schema, dir, markers, 2,
      k => fail(s"completed shard $k was re-read"))
    assert(t3.read.count() === 60)
  }

  test("live CDC appends during a staged re-load survive the publish swap") {
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val t = graft.operators.GraftTable(spark, tmpDir("graft-snap-live"),
      schema.primaryKeys, schema.toStructType)
    // pre-migration state: key 9 exists ONLY pre-load — a re-load must
    // replace the table, so it vanishes at publish
    t.append(Seq((1L, "old"), (9L, "old")).toDF("id", "v"), 1L)
    val staging = t.beginStagedLoad()
    t.appendStaged(Seq((1L, "snap"), (2L, "snap")).toDF("id", "v"), 10L,
      staging)
    // realtime flushes landing MID-load stay visible in the live epoch;
    // publish lifts them (they're stamped above the begin baseline) so
    // the swap loses nothing — the stream checkpoint is already past
    t.append(Seq((3L, "live")).toDF("id", "v"), 15L)
    // a second bucket (floor(9000000 / 4294967) = 2) in the same delta
    t.append(Seq((9000000L, "far")).toDF("id", "v"), 15L)
    t.delete(Seq(Tuple1(2L)).toDF("id"), 16L)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "old"), (9L, "old"), (3L, "live"), (9000000L, "far")))
    t.publishStagedLoad(staging)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def state = rows(t.read)
    // the lifted delta went through the bucket layout and reads back
    // through the pruned, time-travel and full FINAL readers alike
    def checkReaders(asOf15: Set[(Long, String)]): Unit = {
      assert(rows(t.lookup(3L)) === Set((3L, "live")))
      val buckets = t.lookup(3L).inputFiles.toSeq
        .map(f => """_bucket=\d+""".r.findFirstIn(f))
      assert(buckets.distinct === Seq(Some("_bucket=0")),
        s"lookup(3) read outside _bucket=0: $buckets")
      assert(rows(t.readAsOf(15L)) === asOf15)
      assert(rows(t.readAsOf(16L)) === state)
    }
    // 1 → snapshot image wins; 2 → mid-load delete wins over the
    // snapshot; 3 and 9000000 → mid-load inserts survive; 9 → replaced
    // away
    assert(state === Set((1L, "snap"), (3L, "live"), (9000000L, "far")))
    // as of 15 the v16 delete has not happened: key 2 is the snapshot
    // image
    checkReaders(state + ((2L, "snap")))
    t.compact() // and compaction of the published epoch keeps them
    assert(state === Set((1L, "snap"), (3L, "live"), (9000000L, "far")))
    // compaction dropped the tombstone with the image it shadowed:
    // history older than the last OPTIMIZE is gone
    checkReaders(state)
  }

  test("publish replay after the pointer swap skips the lift (no dup rows)") {
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val dir = tmpDir("graft-snap-replay")
    val t = graft.operators.GraftTable(spark, dir,
      schema.primaryKeys, schema.toStructType)
    t.append(Seq((1L, "old")).toDF("id", "v"), 1L)
    val staging = t.beginStagedLoad()
    t.appendStaged(Seq((1L, "snap")).toDF("id", "v"), 10L, staging)
    t.append(Seq((3L, "live")).toDF("id", "v"), 15L)
    // simulate a crash BETWEEN the epoch-pointer swap and the
    // staging-meta delete: snapshot the meta file, publish, restore the
    // meta, publish again (the restart's replay). The replay must see
    // the already-swapped pointer and skip the delta lift — with the
    // pointer naming the staging epoch, a re-lift would read from and
    // append into the SAME parquet directory in one job.
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta/staging")
    val metaBytes = {
      val in = fs.open(metaPath)
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    }
    t.publishStagedLoad(staging)
    val expected = t.read.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(expected === Set((1L, "snap"), (3L, "live")))
    val out = fs.create(metaPath, true)
    try out.write(metaBytes) finally out.close()
    t.publishStagedLoad(staging) // the replay
    assert(fs.exists(metaPath) === false, "replay must clean staging meta")
    assert(t.read.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === expected)
    // and the underlying log carries no re-lifted duplicate images
    val liftedLive = t.log.filter($"id" === 3L).count()
    assert(liftedLive === 1L,
      s"replay re-ran the delta lift ($liftedLive copies of the live row)")
  }

  test("compact mid-load keeps delta tombstones; publish loses nothing") {
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val t = graft.operators.GraftTable(spark, tmpDir("graft-snap-cmpmid"),
      schema.primaryKeys, schema.toStructType)
    t.append(Seq((1L, "old"), (9L, "old")).toDF("id", "v"), 1L)
    val staging = t.beginStagedLoad()
    t.appendStaged(Seq((1L, "snap"), (2L, "snap")).toDF("id", "v"), 10L,
      staging)
    t.append(Seq((3L, "live")).toDF("id", "v"), 15L)
    t.delete(Seq(Tuple1(2L)).toDF("id"), 16L)
    // the compactor fires between the mid-load writes and the publish:
    // it folds the delta rows into merged files (same versions) and —
    // critically — must NOT drop the post-baseline tombstone for key 2,
    // or the snapshot's image of 2 resurrects at publish
    t.compact()
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "old"), (9L, "old"), (3L, "live")))
    t.publishStagedLoad(staging)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "snap"), (3L, "live")))
  }

  test("compact during a pending staged load: distinct epochs, publish wins") {
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val t = graft.operators.GraftTable(spark, tmpDir("graft-snap-cmp"),
      schema.primaryKeys, schema.toStructType)
    t.append(Seq((1L, "a")).toDF("id", "v"), 1L)
    t.append(Seq((1L, "b")).toDF("id", "v"), 2L)
    val staging = t.beginStagedLoad()
    t.appendStaged(Seq((1L, "snap")).toDF("id", "v"), 0L, staging)
    // the compactor fires mid-load: must allocate an epoch DISTINCT from
    // the staged one (same-number allocation would Overwrite the staged
    // shards and publish old data as the load)
    t.compact()
    assert(t.read.collect().map(_.getString(1)).toSeq === Seq("b"))
    t.publishStagedLoad(staging)
    assert(t.read.collect().map(_.getString(1)).toSeq === Seq("snap"))
    // the published epoch survives the next compaction cycle too
    t.compact()
    assert(t.read.collect().map(_.getString(1)).toSeq === Seq("snap"))
  }

  test("snapshot of an evolved schema writes the registry's column ids") {
    val registry = new graft.ddl.SchemaRegistry
    registry.applySql(
      "CREATE TABLE u (id bigint NOT NULL, name varchar(20), PRIMARY KEY(id))")
    registry.applySql("ALTER TABLE u DROP COLUMN name")
    registry.applySql("ALTER TABLE u ADD COLUMN email varchar(40)")
    val schema = registry("u") // ids {id:0, email:2} — positional would say 1
    val dir = tmpDir("graft-snap-ids")
    Snapshot.runAt(spark,
      Seq((1L, "a@x"), (2L, "b@x")).toDF("id", "email"), schema, dir)
    // the realtime pipeline reads the same path through a registry-id
    // handle: with positional ids in the gen metadata, email (id 2)
    // would resolve to NULL in every snapshotted row
    val realtime = graft.operators.GraftTable.fromSchema(spark, dir, schema)
    assert(realtime.read.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a@x"), (2L, "b@x")))
  }

  test("abandonStagedLoad: live table untouched, reservation cleared") {
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val t = graft.operators.GraftTable(spark, tmpDir("graft-snap-ab"),
      schema.primaryKeys, schema.toStructType)
    t.append(Seq((1L, "live")).toDF("id", "v"), 1L)
    val staging = t.beginStagedLoad()
    t.appendStaged(Seq((2L, "snap")).toDF("id", "v"), 10L, staging)
    t.abandonStagedLoad()
    assert(t.pendingStagedLoad() === None)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "live")))
    // a later load starts fresh (and may reuse the freed epoch number)
    val again = t.beginStagedLoad()
    t.appendStaged(Seq((3L, "snap2")).toDF("id", "v"), 20L, again)
    t.publishStagedLoad(again)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((3L, "snap2")))
    t.abandonStagedLoad() // nothing pending: no-op
    assert(t.read.count() === 1)
  }

  test("shardSubPredicates: within-shard parallelism stays inside the shard") {
    val preds = Snapshot.shardSubPredicates(Seq("id"), shards = 4, k = 1,
      subParts = 3)
    assert(preds.length === 3)
    // union of sub-predicates == shard 1, pairwise disjoint
    val rows = (1 to 500).map(i => Tuple1(i.toLong)).toDF("id")
    val shard = rows.filter(Snapshot.shardPredicate(Seq("id"), 4, 1))
    val subCounts = preds.map(p => rows.filter(expr(p.replace("CRC32", "crc32")
      .replace("AS CHAR", "AS STRING"))).count())
    assert(subCounts.sum === shard.count())
  }

  test("A3: keyset-resume bookkeeping is subsumed by deterministic shards") {
    // The reference tracks the lexicographic max PK tuple per batch to
    // resume a crashed keyset scan (db_replicator_initial.py:239-246).
    // Here a shard IS a deterministic predicate: re-running it (Spark
    // task retry) yields the identical row set, and re-appending it at
    // the same snapshot version leaves the FINAL view unchanged — no
    // driver-side max-PK cursor to persist.
    val rows = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val shard = Snapshot.shardPredicate(Seq("id"), 4, 1)
    val once = rows.filter(shard).collect().toSet
    assert(rows.filter(shard).collect().toSet === once) // deterministic
    val schema = graft.ddl.DdlParser.parse(
      "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
      .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
    val wh = tmpDir("graft-snap")
    val t1 = Snapshot.run(spark, rows.filter(shard), schema, wh)
    val before = t1.read.collect().toSet
    Snapshot.run(spark, rows.filter(shard), schema, wh) // retried shard
    assert(t1.read.collect().toSet === before)
  }
}
