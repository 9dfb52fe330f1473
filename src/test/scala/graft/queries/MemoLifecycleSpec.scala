package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row

/** The query memo owns what it pins: after `clearFitMemo()` no cache
  * entry and no persisted RDD a session created survives, so a later
  * session starts from the same state and cannot silently reuse an
  * earlier session's cache through plan matching.
  *
  * Each test starts from an empty cache manager. Persisted RDDs left by
  * earlier suites may be freed by Spark's ContextCleaner at any GC, so
  * for RDDs the check is "nothing added", not set equality.
  */
class MemoLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Clears the memo and the cache manager; returns the ids of the
    * persisted RDDs that remain. */
  private def baseline(): Set[Int] = {
    clearFitMemo()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** What is pinned beyond `before`: the persisted RDDs added since, and
    * whether the cache manager holds any entry. */
  private def pinnedSince(before: Set[Int]): (Set[Int], Boolean) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before,
      !spark.sharedState.cacheManager.isEmpty)

  private def run(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  test("clearFitMemo releases every cache and checkpoint a session pinned") {
    val names = Seq("d_minhash_lsh", "d_dup_clusters", "t_bm25_topk",
      "t_hybrid_rrf")
    val before = baseline()
    val sessions = (1 to 2).map { _ =>
      val rows = names.map(n => n -> run(n)).toMap
      clearFitMemo()
      assert(pinnedSince(before) === ((Set.empty[Int], false)),
        "a cleared memo still pins RDDs or cache entries")
      rows
    }
    names.foreach(n => assert(sessions(1)(n) === sessions(0)(n),
      s"$n differs between sessions"))
  }

  test("a memo built inside another memo's build stays readable") {
    val before = baseline()
    // the minhash-pairs build builds the shingle memo inside its own
    // build; only the two checkpoints may outlive it
    run("d_minhash_lsh")
    val (pinned, cached) = pinnedSince(before)
    assert(!cached, "the pairs build left cache entries behind")
    assert(pinned.size === 2,
      s"expected the shingle and pair checkpoints, got $pinned")
    // d_ngram_jaccard reads the shingle checkpoint the outer build
    // left; it must agree with a run from a cleared memo
    val afterOuter = run("d_ngram_jaccard")
    clearFitMemo()
    assert(run("d_ngram_jaccard") === afterOuter)
    clearFitMemo()
    assert(pinnedSince(before) === ((Set.empty[Int], false)))
  }
}
