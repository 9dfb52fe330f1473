package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized crash-replay fuzz for the staged, shard-resumable
  * snapshot: a driver that dies at arbitrary shards across arbitrary
  * restart attempts must (a) never expose a partial table to readers at
  * ANY point, (b) converge to the exact source content, and (c) never
  * re-read a completed shard. Seeded, so failures replay.
  */
class SnapshotCrashFuzzSpec extends SparkSpec {
  import spark.implicits._

  test("random crash schedules: reader sees empty-until-complete, exactly-once shards") {
    val rnd = new scala.util.Random(0x6ea57L)
    (1 to 4).foreach { round =>
      val n = 50 + rnd.nextInt(150)
      val shards = 2 + rnd.nextInt(4)
      val rows = (1 to n).map(i => (i.toLong, s"v$i"))
      val df = rows.toDF("id", "v")
      val schema = graft.ddl.DdlParser.parse(
        "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
        .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
      val dir = tmpDir(s"graft-fuzz-snap-$round")
      val markers = tmpDir(s"graft-fuzz-mk-$round")
      val reader = graft.operators.GraftTable(spark, dir,
        schema.primaryKeys, schema.toStructType)
      val reads = scala.collection.mutable.Set.empty[Int]
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        assert(attempt <= shards + 5, "crash schedule failed to converge")
        // each attempt may die at one random not-yet-done shard (the
        // last attempt runs clean so the fuzz terminates)
        val dieAt = if (attempt > shards) -1
                    else if (rnd.nextBoolean()) rnd.nextInt(shards) else -1
        def src(k: Int) = {
          // the mid-load reader must never see a partial table
          assert(reader.read.count() === 0L,
            s"round $round attempt $attempt: reader saw a partial table")
          assert(!reads.contains(k),
            s"round $round: completed shard $k was re-read")
          if (k == dieAt) throw new RuntimeException("simulated crash")
          reads += k
          df.filter(Snapshot.shardPredicate(Seq("id"), shards, k))
        }
        try {
          Snapshot.runSharded(spark, schema, dir, markers, shards, src)
          done = true
        } catch { case e: RuntimeException
            if e.getMessage == "simulated crash" => () }
      }
      assert(reader.read.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet === rows.toSet,
        s"round $round: published table != source")
      assert(reader.log.count() === n.toLong,
        s"round $round: duplicate shard images in the log")
    }
  }

  test("runFrame: a crash between the append and its markers resumes to the same FINAL") {
    val rnd = new scala.util.Random(0x2f7a3eL)
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashmk.impl", classOf[MarkerCrashFs].getName)
    (1 to 4).foreach { round =>
      val n = 50 + rnd.nextInt(150)
      val shards = 2 + rnd.nextInt(4)
      // the markers runFrame writes before the simulated crash
      val marked = rnd.nextInt(shards)
      val df = (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      val schema = graft.ddl.DdlParser.parse(
        "CREATE TABLE s (id bigint NOT NULL, v varchar(20), PRIMARY KEY(id))")
        .asInstanceOf[graft.ddl.DdlOp.CreateTable].schema
      val clean = Snapshot.runFrame(spark, schema, tmpDir(s"graft-frame-clean-$round"),
        tmpDir(s"graft-frame-clean-mk-$round"), shards, df)
      val dir = tmpDir(s"graft-frame-crash-$round")
      val markers = "crashmk://" + tmpDir(s"graft-frame-crash-mk-$round")
      val reader = graft.operators.GraftTable(spark, dir, schema.primaryKeys,
        schema.toStructType)
      MarkerCrashFs.failAfter(marked)
      val crash = try intercept[java.io.IOException](
        Snapshot.runFrame(spark, schema, dir, markers, shards, df))
      finally MarkerCrashFs.failAfter(-1)
      assert(crash.getMessage === "simulated crash")
      assert(reader.read.isEmpty, s"round $round: the crashed load was published")
      Snapshot.runFrame(spark, schema, dir, markers, shards, df)
      def image(t: graft.operators.GraftTable) =
        t.log.select("id", "v", "_version", "_deleted").distinct().collect().toSet
      assert(reader.read.collect().toSet === clean.read.collect().toSet,
        s"round $round: resumed FINAL != an uninterrupted run")
      assert(image(reader) === image(clean), s"round $round: stamps differ")
      // the resume re-appends every shard whose marker was not written;
      // the FINAL view collapses those rows and compaction drops them
      val unmarked = (marked until shards).map(k =>
        df.filter(Snapshot.shardPredicate(Seq("id"), shards, k)).count()).sum
      val duplicates = reader.log.count() - n
      info(s"round $round: $shards shards, crash after $marked markers: " +
        s"$duplicates duplicate staged rows of $n")
      assert(duplicates === unmarked)
    }
  }
}

/** Local files under the `crashmk` scheme, whose file creation fails once
  * [[MarkerCrashFs.failAfter]] files have been created: a driver that dies
  * between a snapshot's append and its shard markers. */
class MarkerCrashFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashmk:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    MarkerCrashFs.created()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object MarkerCrashFs {
  private val left = new java.util.concurrent.atomic.AtomicInteger(-1)
  /** Fail the creation after the next `n`; a negative `n` never fails. */
  def failAfter(n: Int): Unit = left.set(n)
  private def created(): Unit =
    if (left.get == 0) throw new java.io.IOException("simulated crash")
    else if (left.get > 0) left.decrementAndGet()
}
