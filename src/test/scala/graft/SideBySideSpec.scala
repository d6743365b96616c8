package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, ManifestIO}

/** [[ManifestIO.sideBySide]], the tick's concurrent artifact writes,
  * under a failing branch: the tick throws the branch's own failure
  * only after every sibling finished writing, CURRENT stays on the
  * committed version, the next tick re-allocates the same data slot and
  * commits, and every branch's jobs run under the caller's job group. */
class SideBySideSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  test("a failing branch: siblings finish first, CURRENT unchanged, the next tick commits") {
    val dir = Files.createTempDirectory("sidebyside").toString
    val corpus = (0 until 40).map(i => (i.toLong, s"w${i % 7} w${i % 11} w${i % 3}"))
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 4)
    val before = ManifestIO.readCurrent(spark, dir, "spec")

    // two siblings that write only after the failing branch has thrown
    val finished = Seq.fill(2)(new AtomicBoolean(false))
    def sibling(name: String, done: AtomicBoolean): () => Seq[Int] = () => {
      spark.sparkContext.setJobDescription(name)
      Thread.sleep(1500)
      spark.range(50).write.mode("overwrite").parquet(s"$dir/data/${before._1 + 1}/$name")
      done.set(true)
      Nil
    }
    val (thrown, jobs) = JobsOf(spark, "tick.failing") {
      intercept[Exception] {
        ManifestIO.tick(spark, dir, Bm25.Spec, None) { m =>
          Some { ver =>
            ManifestIO.sideBySide(spark)(
              sibling("postings", finished(0)),
              () => {
                spark.sparkContext.setJobDescription("docmap")
                spark.range(5).select(raise_error(lit("docmap write failed")))
                  .write.mode("overwrite").parquet(s"$dir/data/$ver/docmap")
                Nil
              },
              sibling("stats", finished(1)))
            m
          }
        }
      }
    }
    assert(thrown.getMessage.contains("docmap write failed"), thrown)
    assert(finished.forall(_.get), "the tick threw while a sibling branch was still writing")
    assert(ManifestIO.readCurrent(spark, dir, "spec") == before)
    val descriptions = jobs.map(_._1).toSet
    assert(Set("postings", "docmap", "stats").subsetOf(descriptions),
      s"branch jobs outside the caller's job group: $jobs")

    // the next tick takes the same slot over the failed tick's debris
    val batch = Seq((100L, "w1 w2 fresh"), (101L, "w3 w3 w5"))
    Bm25.appendToIndex(spark, dir, batch.toDF("doc_id", "text"), "doc_id", "text")
    assert(ManifestIO.readCurrent(spark, dir, "spec")._1 == before._1 + 1)
    val rebuilt = Files.createTempDirectory("sidebysiderebuilt").toString
    Bm25.buildIndex((corpus ++ batch).toDF("doc_id", "text"), "doc_id", "text", rebuilt, buckets = 4)
    val q = Seq((1L, "w1"), (1L, "w2"), (2L, "w3"), (2L, "fresh"), (3L, "w5")).toDF("qid", "term")
    assert(rows(Bm25.serveTopK(spark, dir, q, 5)) == rows(Bm25.serveTopK(spark, rebuilt, q, 5)))
  }

  test("several failing branches: the first in branch order is thrown, the rest suppressed") {
    val e = intercept[IllegalStateException] {
      ManifestIO.sideBySide(spark)(
        () => 1,
        () => { Thread.sleep(300); throw new IllegalStateException("second") },
        () => throw new IllegalArgumentException("third"))
    }
    assert(e.getMessage == "second")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(ManifestIO.sideBySide(spark)(() => "a", () => "b") == Seq("a", "b"))
  }
}
