package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The two heaviest memo builds of an analyst session run in a bounded
  * number of Spark jobs. Each AQE query stage is a job with its own
  * scheduling round trip, so a change that adds a stage back to either
  * build (a persist-then-count, a second shuffle on the same key, a
  * broadcast of a relation the plan already holds) shows up here.
  *
  * Counted from a cleared memo, so the counts include building the
  * shingle memo under the minhash pairs, plus each query's parquet schema
  * probe and ordered collect (4 jobs per query).
  */
class MemoBuildJobsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("d_minhash_lsh and t_bm25_topk build their memos in few jobs") {
    val bound = Map("d_minhash_lsh" -> 14, "t_bm25_topk" -> 11)
    val jobs = bound.keys.map { q =>
      clearFitMemo()
      q -> jobsOf(SparkEntry.queries(q)(spark, dir).collect())._2
    }.toMap
    clearFitMemo()
    bound.foreach { case (q, max) =>
      assert(jobs(q) <= max, s"$q ran ${jobs(q)} jobs, bound $max")
    }
  }
}
