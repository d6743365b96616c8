package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, MinhashIndex}

/** The maintenance ticks' driver round trips, counted the way
  * [[ServeJobsSpec]] counts the serves: a SparkListener attributes
  * every job of one call to the caller's job group — the jobs of the
  * side-by-side artifact writes included. A BM25 append plans from one
  * aggregate after its batch pin, an id-delete from one dbucket collect
  * and one aggregate, and each writes its artifacts side by side; no
  * tick of any family reads a just-written artifact back through
  * parquet schema inference. The served rows afterwards equal a rebuild
  * over the same corpus. */
class TickJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def checkJobs(what: String, jobs: Vector[JobsOf.Job], budget: Int): Unit = {
    val planning = JobsOf.planning(jobs)
    assert(planning.isEmpty, s"$what ran listing or schema-inference jobs: $planning")
    assert(jobs.size <= budget, s"$what ran ${jobs.size} jobs (budget $budget): $jobs")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  private val vocab = (0 until 400).map(i => s"w$i")

  /** Skewed text: low word ranks recur in most docs, so some term
    * buckets are hot, as in a real corpus. */
  private def text(i: Int): String =
    (0 until 12).map(j => vocab(((i * 31 + j * 17) % 400) * ((j % 3) + 1) / 3)).mkString(" ")

  private def batch(from: Int, n: Int): Seq[(Long, String)] =
    (from until from + n).map(i => (i.toLong, text(i)))

  test("BM25 append and id-delete: one plan round trip each, no schema-inference job") {
    val dir = Files.createTempDirectory("tickjobsbm25").toString
    val corpus = batch(0, 300)
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 16)
    // one warm tick: the counted ticks measure planning, not codegen
    Bm25.appendToIndex(spark, dir, batch(1000, 50).toDF("doc_id", "text"), "doc_id", "text")
    Bm25.deleteByIds(spark, dir, batch(1000, 50).map(_._1).toDF("doc_id"), "doc_id")

    val added = batch(2000, 50)
    val (_, append) = JobsOf(spark, "tick.append")(
      Bm25.appendToIndex(spark, dir, added.toDF("doc_id", "text"), "doc_id", "text"))
    val gone = corpus.take(40)
    val (_, delete) = JobsOf(spark, "tick.delete")(
      Bm25.deleteByIds(spark, dir, gone.map(_._1).toDF("doc_id"), "doc_id"))
    info(s"append ${append.size} jobs, delete ${delete.size} jobs")
    checkJobs("BM25 append", append, budget = 15)
    checkJobs("BM25 id-delete", delete, budget = 18)

    val rebuilt = Files.createTempDirectory("tickjobsbm25rebuilt").toString
    Bm25.buildIndex((corpus.drop(40) ++ added).toDF("doc_id", "text"), "doc_id", "text",
      rebuilt, buckets = 16)
    val q = (0 until 8).flatMap(k => Seq((k.toLong, vocab(k * 7)), (k.toLong, vocab(k * 13 + 40)),
      (k.toLong, vocab(k * 3 + 1)))).toDF("qid", "term")
    val got = rows(Bm25.serveTopK(spark, dir, q, 5))
    assert(got.nonEmpty)
    assert(got == rows(Bm25.serveTopK(spark, rebuilt, q, 5)))
    assert(rows(Bm25.readStats(spark, dir)) == rows(Bm25.readStats(spark, rebuilt)))
  }

  test("IVF append and MinHash admission read their sidecars back with no schema-inference job") {
    val ivf = Files.createTempDirectory("tickjobsivf").toString
    def vec(s: Int) = Seq.tabulate(8)(j =>
      (((s * 7919L + j * 104729L) * 31337L % 2003L) - 1001L).toFloat / 250f)
    Ann.ivfIndexBuild((0 until 200).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"), ivf,
      Array.tabulate(8)(c => vec(c * 3 + 1).toArray))
    Ann.ivfIndexAppend(spark, ivf, (200 until 240).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"))
    val (_, ivfJobs) = JobsOf(spark, "tick.ivf")(Ann.ivfIndexAppend(spark, ivf,
      (240 until 280).map(i => (i.toLong, vec(i))).toDF("cid", "cvec")))
    assert(JobsOf.planning(ivfJobs).isEmpty,
      s"IVF append ran listing or schema-inference jobs: ${JobsOf.planning(ivfJobs)}")

    val mh = Files.createTempDirectory("tickjobsmh").toString
    MinhashIndex.build(batch(0, 60).toDF("doc_id", "text"), "doc_id", "text", mh,
      n = 3, bands = 8, rowsPerBand = 2, bandBuckets = 16)
    // fresh texts, so every doc is admitted and the tick writes bands
    def fresh(from: Int) = (from until from + 20)
      .map(i => (i.toLong, (0 until 12).map(j => s"f${i}_$j").mkString(" "))).toDF("doc_id", "text")
    MinhashIndex.admit(spark, mh, fresh(3000), "doc_id", "text", 0.9)
    val (admission, mhJobs) = JobsOf(spark, "tick.minhash")(
      MinhashIndex.admit(spark, mh, fresh(4000), "doc_id", "text", 0.9))
    assert(admission.appended == 20L)
    assert(JobsOf.planning(mhJobs).isEmpty,
      s"MinHash admission ran listing or schema-inference jobs: ${JobsOf.planning(mhJobs)}")
    info(s"IVF append ${ivfJobs.size} jobs, MinHash admission ${mhJobs.size} jobs")
  }
}
