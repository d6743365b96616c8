package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, MinhashIndex}

/** The serve paths' driver round trips, counted: a SparkListener
  * attributes every job a serve call runs (its own job group, the
  * result collect included) on an accreted two-version index whose
  * reads name more than 32 leaf dirs — Spark's threshold for listing
  * paths with a distributed job. No serve may run a leaf-file listing
  * job or a parquet schema-inference job (both are launched from inside
  * `DataFrameReader.parquet`, so their stages are named `parquet at …`),
  * each family stays under its job budget, and the rows equal the
  * values pinned from the serves before their plan inputs were fused
  * into one round trip. */
class ServeJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def jobsOf[T](group: String)(body: => T): (T, Vector[JobsOf.Job]) =
    JobsOf(spark, group)(body)

  private def checkJobs(what: String, jobs: Vector[JobsOf.Job], budget: Int): Unit = {
    val planning = JobsOf.planning(jobs)
    assert(planning.isEmpty, s"$what ran listing or schema-inference jobs: $planning")
    assert(jobs.size <= budget, s"$what ran ${jobs.size} jobs (budget $budget): $jobs")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  private val vocab = (0 until 120).map(i => s"v$i")

  /** The term bucket of `t` in a 64-bucket BM25 index. */
  private def bucket(t: String): Int =
    Seq(t).toDF("t").select(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64($"t"), org.apache.spark.sql.functions.lit(64))
      .cast("int")).head().getInt(0)

  private def bm25Index(): String = {
    val dir = Files.createTempDirectory("servejobsbm25").toString
    val docs = (0 until 200).map(i => (i.toLong,
      (Seq(vocab(i % 120), vocab((i * 7) % 120), vocab((i * 13 + 5) % 120)) ++
        (if (i % 10 != 0) Seq("common") else Nil)).mkString(" ")))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 64)
    // every vocabulary word again: every bucket gains a second version
    Bm25.appendToIndex(spark, dir, vocab.grouped(6).zipWithIndex
      .map { case (ws, j) => (1000L + j, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text"), "doc_id", "text")
    dir
  }

  private val bm25Queries =
    (0 until 12).flatMap(q => Seq((q.toLong, vocab((q * 11) % 120)),
      (q.toLong, vocab((q * 29 + 3) % 120)), (q.toLong, vocab((q * 41 + 7) % 120)),
      (q.toLong, "common"))) :+ ((0L, vocab(0)))

  test("BM25 serve: one bounded plan-input round trip, no listing or schema jobs") {
    val dir = bm25Index()
    val m = Bm25.readManifest(spark, dir)
    val dirs = bm25Queries.map(_._2).distinct.map(bucket).distinct
      .map(b => m.bucketVersions.getOrElse(b, Seq.empty).size).sum
    assert(dirs > 32, s"fixture must name more than 32 leaf dirs, names $dirs")
    val q = bm25Queries.toDF("qid", "term")
    Bm25.serveTopK(spark, dir, q, 3).collect() // warm
    val (got, jobs) = jobsOf("serve.bm25")(rows(Bm25.serveTopK(spark, dir, q, 3)))
    assert(got == ServeJobsSpec.bm25Expected, "BM25 rows moved; got:\n" + got)
    checkJobs("BM25 serve", jobs, budget = 7)
  }

  test("IVF serve: no listing or schema jobs over more than 32 probed cell dirs") {
    val dir = Files.createTempDirectory("servejobsivf").toString
    def vec(s: Int) = Seq.tabulate(8)(j =>
      (((s * 7919L + j * 104729L) * 31337L % 2003L) - 1001L).toFloat / 250f)
    val cents = Array.tabulate(48)(c => vec(c * 3 + 1).toArray)
    Ann.ivfIndexBuild((0 until 300).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"),
      dir, cents)
    Ann.ivfIndexAppend(spark, dir,
      (300 until 400).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"))
    val m = Ann.readIvfManifest(spark, dir)
    assert(m.cellVersions.values.map(_.size).sum > 32, "fixture must name more than 32 leaf dirs")
    val q = (0 until 6).map(i => (5000L + i, vec(i * 7 + 2))).toDF("qid", "qvec")
    Ann.ivfServedTopK(spark, dir, q, 3, nprobe = 48).collect() // warm
    val (got, jobs) = jobsOf("serve.ivf")(rows(Ann.ivfServedTopK(spark, dir, q, 3, nprobe = 48)))
    assert(got == ServeJobsSpec.ivfExpected, "IVF rows moved; got:\n" + got)
    checkJobs("IVF serve", jobs, budget = 3)
  }

  test("MinHash gate: one pin and one plan collect, no listing or schema jobs") {
    val dir = Files.createTempDirectory("servejobsmh").toString
    def doc(i: Int) = (0 until 12).map(j => vocab((i * 17 + j * 5) % 120)).mkString(" ")
    MinhashIndex.build((0 until 60).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 3, bands = 16, rowsPerBand = 2, bandBuckets = 64)
    MinhashIndex.admit(spark, dir, (60 until 90).map(i => (i.toLong, doc(i * 3)))
      .toDF("doc_id", "text"), "doc_id", "text", 0.9)
    val m = MinhashIndex.readManifest(spark, dir)
    assert(m.bandVersions.values.count(_.size > 1) > 0, "fixture must accrete band partitions")
    // near-copies of committed docs, exact copies, a fresh doc and a
    // duplicate batch row
    val batch = Seq((9000L, doc(4).replace(vocab(68), "changed")), (9001L, doc(70 * 3)),
      (9002L, doc(11)), (9003L, "fresh words never seen in the corpus at all here"),
      (9002L, doc(11)), (9004L, doc(25).split(" ").reverse.mkString(" ")))
      .toDF("doc_id", "text")
    MinhashIndex.gate(spark, dir, batch, "doc_id", "text", 0.3).collect() // warm
    val (got, jobs) = jobsOf("serve.minhash")(
      rows(MinhashIndex.gate(spark, dir, batch, "doc_id", "text", 0.3)))
    assert(got == ServeJobsSpec.minhashExpected, "gate rows moved; got:\n" + got)
    checkJobs("MinHash gate", jobs, budget = 10)
  }

  test("a termstats partition holding duplicate rows trips the BM25 serve's collect bound") {
    val dir = bm25Index()
    val m = Bm25.readManifest(spark, dir)
    val t = vocab(5)
    val b = bucket(t)
    val leaf = new java.io.File(s"$dir/data/${m.bucketVersions(b).head}/termstats/bucket=$b")
    val part = leaf.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, new java.io.File(leaf, "part-dup-" + part.getName).toPath)
    val e = intercept[IllegalArgumentException] {
      Bm25.serveTopK(spark, dir, Seq((1L, t)).toDF("qid", "term"), 3).collect()
    }
    assert(e.getMessage.contains("BM25 serve"), e.getMessage)
  }
}

/** The rows each serve of [[ServeJobsSpec]] returned when it still
  * planned with listing, schema-inference and per-artifact jobs. */
object ServeJobsSpec {
  val bm25Expected: Seq[Seq[Any]] = Seq(
    Seq(0L, 0L, 58243243L, 1L), Seq(0L, 1000L, 56804070L, 3L), Seq(0L, 120L, 58243243L, 2L),
    Seq(1L, 102L, 33302752L, 3L), Seq(1L, 11L, 33302752L, 1L), Seq(1L, 53L, 33302752L, 2L),
    Seq(10L, 110L, 37040816L, 2L), Seq(10L, 170L, 37040816L, 3L), Seq(10L, 50L, 37040816L, 1L),
    Seq(11L, 1L, 39541284L, 1L), Seq(11L, 14L, 39541284L, 2L), Seq(11L, 46L, 39541284L, 3L),
    Seq(2L, 108L, 39541284L, 3L), Seq(2L, 47L, 39541284L, 1L), Seq(2L, 89L, 39541284L, 2L),
    Seq(3L, 150L, 37040816L, 3L), Seq(3L, 30L, 37040816L, 1L), Seq(3L, 90L, 37040816L, 2L),
    Seq(4L, 17L, 33302752L, 2L), Seq(4L, 18L, 33302752L, 3L), Seq(4L, 3L, 33302752L, 1L),
    Seq(5L, 116L, 48552497L, 3L), Seq(5L, 92L, 48552497L, 1L), Seq(5L, 99L, 48552497L, 2L),
    Seq(6L, 4L, 33302752L, 1L), Seq(6L, 57L, 33302752L, 2L), Seq(6L, 66L, 33302752L, 3L),
    Seq(7L, 117L, 48552497L, 3L), Seq(7L, 86L, 48552497L, 1L), Seq(7L, 98L, 48552497L, 2L),
    Seq(8L, 110L, 54002267L, 1L), Seq(8L, 115L, 48552497L, 3L), Seq(8L, 85L, 48552497L, 2L),
    Seq(9L, 117L, 48552497L, 2L), Seq(9L, 118L, 48552497L, 3L), Seq(9L, 99L, 48552497L, 1L))
  val ivfExpected: Seq[Seq[Any]] = Seq(
    Seq(5000L, 1L, 2L, 1.0), Seq(5000L, 2L, 169L, 0.9999952627150697),
    Seq(5000L, 3L, 336L, 0.9999810035758765), Seq(5001L, 1L, 9L, 1.0000000000000002),
    Seq(5001L, 2L, 176L, 0.999993723053564), Seq(5001L, 3L, 343L, 0.9999748745600422),
    Seq(5002L, 1L, 16L, 1.0), Seq(5002L, 2L, 183L, 0.999994147691748),
    Seq(5002L, 3L, 350L, 0.9999765497895815), Seq(5003L, 1L, 23L, 1.0000000000000002),
    Seq(5003L, 2L, 190L, 0.9999933938074438), Seq(5003L, 3L, 357L, 0.9999735854247166),
    Seq(5004L, 1L, 30L, 1.0), Seq(5004L, 2L, 197L, 0.9999947754625924),
    Seq(5004L, 3L, 364L, 0.9999791504202448), Seq(5005L, 1L, 37L, 0.9999999999999998),
    Seq(5005L, 2L, 204L, 0.9999941146336463), Seq(5005L, 3L, 371L, 0.9999764183802718))
  val minhashExpected: Seq[Seq[Any]] = Seq(
    Seq(9000L, 19L, 0.5384615384615384), Seq(9000L, 39L, 0.6666666666666666),
    Seq(9000L, 4L, 0.8181818181818182), Seq(9000L, 54L, 0.6666666666666666),
    Seq(9000L, 63L, 0.3333333333333333), Seq(9001L, 20L, 0.6666666666666666),
    Seq(9001L, 35L, 0.3333333333333333), Seq(9001L, 40L, 0.6666666666666666),
    Seq(9001L, 5L, 0.8181818181818182), Seq(9001L, 55L, 0.8181818181818182),
    Seq(9001L, 65L, 0.5384615384615384), Seq(9001L, 70L, 1.0),
    Seq(9001L, 75L, 0.5384615384615384), Seq(9002L, 11L, 1.0),
    Seq(9002L, 26L, 0.5384615384615384), Seq(9002L, 31L, 0.42857142857142855),
    Seq(9002L, 46L, 0.8181818181818182), Seq(9002L, 62L, 0.3333333333333333),
    Seq(9002L, 67L, 0.6666666666666666), Seq(9002L, 72L, 0.8181818181818182),
    Seq(9002L, 77L, 0.42857142857142855))
}
