package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, Dedup, MinhashIndex}

/** Index EXPORT — the deep clone ([[Bm25.exportIndex]] /
  * [[Ann.ivfIndexExport]] / [[MinhashIndex.exportIndex]]): serves /
  * gates bit-identically from the clone, copies ONLY the files the
  * exported manifest references (filesystem audit: dead history and
  * uncommitted orphans never cross), exports historical versions
  * (== the source's time-travel serve), leaves the source untouched,
  * and yields a clone that accepts its own ticks. */
class ExportSpec extends AnyFunSuite {

  /** Every file under `dir`/data, keyed by its artifact-level prefix
    * (data/<v>/<artifact>/<partition> for partitioned artifacts,
    * data/<v>/<artifact> for whole-dir ones). */
  private def artifactPrefixes(dir: String): Set[String] = {
    val base = java.nio.file.Paths.get(dir, "data")
    if (!java.nio.file.Files.exists(base)) return Set.empty
    val s = java.nio.file.Files.walk(base)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
      .map { p =>
        val rel = java.nio.file.Paths.get(dir).relativize(p)
        // data / <v> / <artifact> [/ <partition>] / file
        val parts = (0 until rel.getNameCount).map(rel.getName(_).toString)
        if (parts.length > 4 && parts(3).contains("="))
          parts.take(4).mkString("/")
        else parts.take(3).mkString("/")
      }.toSet
    finally s.close()
  }

  test("bm25: export serves identically, copies ONLY referenced files, clone ticks") {
    val spark = SparkTest.spark
    import spark.implicits._
    val src = Files.createTempDirectory("exp_bm25_src").toString
    val docs = (0 until 60).map(i => (i.toLong, s"w${i % 9} common shared t$i"))
    // fragmented lifecycle: build on a slice, append the rest (accreted
    // lists), delete a few (superseded partitions = dead history at src)
    Bm25.buildIndex(docs.filter(_._1 % 3 != 2).toDF("doc_id", "text"),
      "doc_id", "text", src)
    Bm25.appendToIndex(spark, src,
      docs.filter(_._1 % 3 == 2).toDF("doc_id", "text"), "doc_id", "text")
    Bm25.deleteByIds(spark, src,
      docs.filter(_._1 % 10 == 4).map(_._1).toDF("doc_id"), "doc_id")
    // an uncommitted orphan (crashed tick's garbage) that must NOT cross
    Seq(("zzz", 1L)).toDF("t", "doc_id").write
      .parquet(s"$src/data/99/postings/bucket=0")
    val dest = Files.createTempDirectory("exp_bm25_dst").toString + "/clone"
    val ver = Bm25.exportIndex(spark, src, dest)
    val mSrc = Bm25.readManifest(spark, src)
    assert(ver == mSrc.version, "default export = CURRENT")
    // byte-identical manifest body => identical read plans
    val mDst = Bm25.readManifest(spark, dest)
    assert(mDst == mSrc)
    // the serve, bit-identical
    val q = Seq((1L, "common"), (2L, "w4"), (3L, "shared")).toDF("qid", "term")
    def serve(d: String) = Bm25.serveTopK(spark, d, q, k = 5)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(serve(dest) == serve(src))
    // FILESYSTEM AUDIT: everything under dest/data is a referenced
    // prefix — dead history (the delete's superseded partitions) and
    // the orphan data/99 never crossed
    val wanted =
      mSrc.bucketVersions.toSeq.flatMap { case (b, vs) =>
        vs.flatMap(v => Seq(s"data/$v/postings/bucket=$b",
          s"data/$v/termstats/bucket=$b"))
      } ++
      mSrc.docVersions.toSeq.flatMap { case (k, vs) =>
        vs.map(v => s"data/$v/docmap/dbucket=$k")
      } :+ s"data/${mSrc.statsVersion}/stats"
    val got = artifactPrefixes(dest)
    assert(got.nonEmpty && got.subsetOf(wanted.toSet),
      s"unreferenced files crossed: ${got -- wanted.toSet}")
    assert(!got.exists(_.startsWith("data/99")), "the orphan crossed")
    // the clone ticks independently; the source stays untouched
    Bm25.appendToIndex(spark, dest,
      Seq((1000L, "common fresh")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25.readManifest(spark, dest).version == ver + 1)
    assert(Bm25.readManifest(spark, src).version == ver,
      "a clone tick must not move the source")
    // refusal: the destination already holds an index
    intercept[IllegalArgumentException] {
      Bm25.exportIndex(spark, src, dest)
    }
  }

  test("export refuses a non-fresh destination BEFORE copying anything") {
    val spark = SparkTest.spark
    import spark.implicits._
    val src = Files.createTempDirectory("exp_guard_src").toString
    Bm25.buildIndex((0 until 10).map(i => (i.toLong, s"w$i common"))
      .toDF("doc_id", "text"), "doc_id", "text", src)
    // a destination that is already an index: refuse with ZERO copies —
    // copying first and refusing at publish time would leave foreign
    // data/<v> dirs a live index's next tick could accrete
    val taken = Files.createTempDirectory("exp_guard_taken").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(taken, "CURRENT"),
      "7".getBytes)
    intercept[IllegalArgumentException] { Bm25.exportIndex(spark, src, taken) }
    assert(!new java.io.File(s"$taken/data").exists(),
      "the refusal must land before the first byte is copied")
    // crashed-export debris (data/, no CURRENT): same upfront refusal
    val debris = Files.createTempDirectory("exp_guard_debris").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(debris, "data", "1"))
    intercept[IllegalArgumentException] { Bm25.exportIndex(spark, src, debris) }
  }

  test("bm25: historical export == the source's time-travel serve") {
    val spark = SparkTest.spark
    import spark.implicits._
    val src = Files.createTempDirectory("exp_bm25_hist").toString
    val docs = (0 until 40).map(i => (i.toLong, s"w${i % 7} common"))
    Bm25.buildIndex(docs.take(25).toDF("doc_id", "text"), "doc_id", "text", src)
    Bm25.appendToIndex(spark, src,
      docs.drop(25).toDF("doc_id", "text"), "doc_id", "text")
    val dest = Files.createTempDirectory("exp_bm25_hist_dst").toString + "/v1"
    assert(Bm25.exportIndex(spark, src, dest, version = 1L) == 1L)
    val q = Seq((1L, "common"), (2L, "w3")).toDF("qid", "term")
    val got = Bm25.serveTopK(spark, dest, q, k = 5)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    val want = Bm25.serveTopKVersion(spark, src, 1L, q, k = 5)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(got == want, "the historical clone must replay the time-travel serve")
  }

  test("ivf: export serves identically and carries the drift sidecar") {
    val spark = SparkTest.spark
    import spark.implicits._
    val src = Files.createTempDirectory("exp_ivf_src").toString
    val vecs = (0 until 48).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i % 6) * 8 + d).toFloat / 48f))
    }
    val df = vecs.toDF("cid", "cvec")
    val init = Ann.kmeansParallelInit(
      df.select(col("cid").as("vec_id"), col("cvec").as("embedding")),
      "vec_id", "embedding", 4)
    val cents = Ann.kmeansCentroids(
      df.select(col("cvec").as("embedding")), "embedding", init, iters = 3)
    Ann.ivfIndexBuild(df.limit(30), src, cents)
    Ann.ivfIndexAppend(spark, src, df.filter(col("cid") >= 30L))
    val dest = Files.createTempDirectory("exp_ivf_dst").toString + "/clone"
    Ann.ivfIndexExport(spark, src, dest)
    val queries = df.limit(3)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
    def serve(d: String) = Ann.ivfServedTopK(spark, d, queries, 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(serve(dest) == serve(src))
    // the drift sidecar crossed: verdicts identical (and both sidecar-read)
    val vd = Ann.ivfDriftVerdict(spark, dest, 25).collect().toSeq
    val vs = Ann.ivfDriftVerdict(spark, src, 25).collect().toSeq
    assert(vd == vs, "the clone's drift verdict must match the source's")
  }

  test("minhash: export gates identically (bands + sidecar cross)") {
    val spark = SparkTest.spark
    import spark.implicits._
    val src = Files.createTempDirectory("exp_mh_src").toString
    val docs = (0 until 60).map { i =>
      (i.toLong, s"alpha bravo charlie delta echo w$i x${i % 7} y${i % 5} z${i % 3}")
    }.toDF("doc_id", "text")
    MinhashIndex.build(docs, "doc_id", "text", src, 24, 8, 3,
      buckets = 8, bandBuckets = 16)
    val dest = Files.createTempDirectory("exp_mh_dst").toString + "/clone"
    MinhashIndex.exportIndex(spark, src, dest)
    val batch = Seq(
      (2000L, "alpha bravo charlie delta echo w3 x3 y3 z0"),
      (2001L, "totally unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    def gate(d: String) = MinhashIndex.gate(spark, d, batch,
        "doc_id", "text", 0.5)
      .orderBy(col("da"), col("db")).collect().toSeq
    assert(gate(dest) == gate(src))
    assert(MinhashIndex.readManifest(spark, dest) ==
      MinhashIndex.readManifest(spark, src))
  }

  test("export refuses a version missing a referenced sidecar; the destination gets no CURRENT") {
    val spark = SparkTest.spark
    import spark.implicits._
    val src = Files.createTempDirectory("exp_side_src").toString
    Bm25.buildIndex((0 until 12).map(i => (i.toLong, s"w${i % 5} shared"))
      .toDF("doc_id", "text"), "doc_id", "text", src, buckets = 4)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/data/1/termstats"))
    val dest = Files.createTempDirectory("exp_side_dst").toString + "/clone"
    val ex = intercept[IllegalArgumentException](Bm25.exportIndex(spark, src, dest))
    assert(ex.getMessage.contains("termstats"), ex.getMessage)
    assert(!new java.io.File(s"$dest/CURRENT").exists, "a refused export publishes nothing")
    assert(!new java.io.File(s"$dest/data").exists, "and copies nothing")
  }
}
