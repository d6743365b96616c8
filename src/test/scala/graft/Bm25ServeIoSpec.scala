package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, ManifestIO}

/** FILESYSTEM-LEVEL IO audit of the BM25 serve (the MinhashBandsSpec
  * discipline, applied to the lexical index — round-16 verdict "Next
  * round" #4): [[Bm25.serveTopK]] reads ONLY the query terms' postings
  * buckets, the SAME buckets of the termstats sidecar, and the 1-row
  * stats — never the docmap and never an un-queried bucket. Every
  * partition the plan must not touch is physically REMOVED and the
  * serve still answers identically, which no inputFiles listing can
  * fake. */
class Bm25ServeIoSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("serve == pre-deletion serve with every un-queried partition REMOVED (IO audit)") {
    val dir = Files.createTempDirectory("bm25serveIo").toString
    val docs = (0 until 60).map(i =>
      (i.toLong, s"w${i % 19} w${(i * 3) % 17} common shared tail$i"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      buckets = 32)
    // an append so multi-version (accreted) bucket lists are audited too
    Bm25.appendToIndex(spark, dir,
      (1000 until 1020).map(i => (i.toLong, s"w${i % 19} common extra$i"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val q = Seq((1L, "w3"), (1L, "common"), (2L, "w11"), (2L, "shared"))
      .toDF("qid", "term")
    val expected = Bm25.serveTopK(spark, dir, q, 5)
      .collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty, "fixture must retrieve")
    val m = Bm25.readManifest(spark, dir)
    // what the plan may touch: the query terms' buckets, by the same
    // pure function the writers partition by
    val queried = q.select(pmod(xxhash64(col("term")), lit(m.buckets))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(queried.size < m.bucketVersions.size,
      "fixture must leave something prunable or the audit proves nothing")
    // REMOVE everything else — postings AND termstats of un-queried
    // buckets, plus the ENTIRE docmap (a serve has no takedown to
    // locate): any read of them now fails instead of answering
    val f = ManifestIO.fs(spark, dir)
    m.bucketVersions.foreach { case (b, vs) =>
      if (!queried(b)) vs.foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$v/postings/bucket=$b"), true)
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$v/termstats/bucket=$b"), true)
      }
    }
    m.docVersions.foreach { case (k, vs) =>
      vs.foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$v/docmap/dbucket=$k"), true)
      }
    }
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq
      == expected,
      "the serve must answer identically while reading only the queried " +
        "buckets' postings + termstats and the stats row")
    // the big regime (forced distributed term join) prunes identically
    assert(Bm25.serveTopKBounded(spark, dir, q, 5, maxCollectedTerms = 0)
      .collect().map(_.toSeq).toSeq == expected,
      "the distributed-term-join regime must prune the same partitions")
  }

  test("big regime HINTS no term-sized broadcast: the df map never rides the driver by force") {
    // the round-16 ADVICE medium: servePlannedAt broadcast the pruned
    // df map (`kept`, O(distinct batch terms)) in BOTH regimes — in the
    // big regime that FORCES an unbounded term frame through the
    // driver at any scale, the exact OOM the regime split exists to
    // prevent. The pin counts broadcast HINTS in the optimized plan
    // (a hint forces the broadcast regardless of size; the planner may
    // still auto-broadcast genuinely small frames on a test corpus,
    // which is fine and vanishes at scale): the big regime may hint
    // only its two 1-ROW stats cross joins; the small regime scores
    // against literal n/avgdl and hints only its one driver-built
    // (qid, t, df) relation.
    val dir = Files.createTempDirectory("bm25bigplan").toString
    val docs = (0 until 40).map(i => (i.toLong, s"w${i % 13} common tail$i"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir)
    val q = Seq((1L, "w3"), (2L, "common")).toDF("qid", "term")
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      "strategy=broadcast".r
        .findAllIn(df.queryExecution.optimizedPlan.toString).length
    val big = Bm25.serveTopKBounded(spark, dir, q, 5, maxCollectedTerms = 0)
    assert(hints(big) == 2,
      "big regime must hint exactly the two 1-row stats cross joins:\n" +
        big.queryExecution.optimizedPlan.toString)
    val small = Bm25.serveTopKBounded(spark, dir, q, 5, maxCollectedTerms = 100)
    assert(hints(small) == 1,
      "small regime hints exactly its (qid, t, df) relation (the low-latency shape):\n" +
        small.queryExecution.optimizedPlan.toString)
    assert(big.collect().map(_.toSeq).toSeq == small.collect().map(_.toSeq).toSeq)
  }
}
