package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 is a verbatim excerpt of doc 2; doc 3 is unrelated
  private val excerpt = "alpha beta gamma delta epsilon zeta"
  private val long = s"one two three $excerpt four five six seven " +
    "eight nine ten eleven twelve thirteen fourteen fifteen"
  private val docs = Seq(
    (1L, excerpt), (2L, long), (3L, "totally different words here now")
  ).toDF("doc_id", "text")

  // the caller owns the shingle table's persistence
  private def withShingles(f: (DataFrame, DataFrame) => Unit): Unit = {
    val sh = Dedup.shingleTable(docs, "doc_id", "text", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(sh, Dedup.pairStats(sh, maxDf = 20))
    finally sh.unpersist()
  }

  test("an excerpt is caught by containment but missed by jaccard") {
    withShingles { (sh, stats) =>
      val c = Dedup.containmentPairs(sh, stats, threshold = 0.9)
        .as[(Long, Long, Double)].collect().toSeq
      assert(c == Seq((1L, 2L, 1.0)), c.toString)
      val j = Dedup.ngramJaccardPairs(sh, stats, threshold = 0.5)
        .collect()
      assert(j.isEmpty, "jaccard should miss the asymmetric excerpt")
    }
  }

  test("containment is bounded by 1 and respects the threshold") {
    withShingles { (sh, stats) =>
      val all = Dedup.containmentPairs(sh, stats, threshold = 0.1)
        .as[(Long, Long, Double)].collect()
      assert(all.forall { case (_, _, c) => c >= 0.1 && c <= 1.0 })
    }
  }
}
