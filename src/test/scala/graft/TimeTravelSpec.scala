package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, ManifestIO, MinhashIndex}

/** TIME-TRAVEL reads over the committed indexes
  * ([[ManifestIO.readVersion]] / the `*_version` serve surfaces): a
  * historical committed version serves exactly what it served when it
  * was CURRENT; a crashed tick's orphan manifest is not a committed
  * state and refuses; vacuumed-away versions fail loudly; the history
  * listing flags servability and the live version.
  */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val base = Seq(
    (1L, "apple banana cherry date"),
    (2L, "banana cherry date elderberry fig"),
    (3L, "apple grape melon"))
  private val added = Seq((10L, "banana papaya quince"))
  private val queries = Seq((1L, "banana"), (2L, "apple"), (3L, "papaya"))
    .toDF("qid", "term")

  test("bm25: each committed version serves what it served when it was CURRENT") {
    val dir = Files.createTempDirectory("bm25tt").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      buckets = 64)
    val atV1 = Bm25.serveTopK(spark, dir, queries, 5)
      .collect().map(_.toSeq).toSeq
    Bm25.appendToIndex(spark, dir, added.toDF("doc_id", "text"),
      "doc_id", "text")
    val atV2 = Bm25.serveTopK(spark, dir, queries, 5)
      .collect().map(_.toSeq).toSeq
    Bm25.deleteByIds(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    val atV3 = Bm25.serveTopK(spark, dir, queries, 5)
      .collect().map(_.toSeq).toSeq
    assert(atV1 != atV2 && atV2 != atV3, "the ticks must change the serve")
    def at(v: Long) = Bm25.serveTopKVersion(spark, dir, v, queries, 5)
      .collect().map(_.toSeq).toSeq
    assert(at(1L) == atV1 && at(2L) == atV2 && at(3L) == atV3)
    // the manifest surface agrees
    assert(Bm25.readManifestVersion(spark, dir, 2L).version == 2L)
    // an orphan manifest (crashed tick, never flipped) is NOT servable
    Bm25.appendTick(spark, dir, Seq((11L, "zz yy")).toDF("doc_id", "text"),
      "doc_id", "text", crashPoint = 2)
    intercept[IllegalArgumentException] { at(4L) }
    // history: versions 1..4 on disk, 4 not servable, 3 current
    assert(ManifestIO.history(spark, dir) ==
      Seq((1L, true, false), (2L, true, false), (3L, true, true),
        (4L, false, false)))
    // vacuum retires history past the grace window → time travel there
    // fails loudly, the surviving window still serves
    Bm25.vacuumIndex(spark, dir, graceVersions = 0L)
    intercept[IllegalArgumentException] { at(1L) }
    assert(at(3L) == atV3)
  }

  test("ivf: time-travel serve + the minhash time-travel gate") {
    val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val dir = Files.createTempDirectory("ivftt").toString
    Ann.ivfIndexBuild(Seq((42L, Seq(0.9f, 0.1f, 0f)), (7L, Seq(0f, 0.1f, 0.9f)))
      .toDF("cid", "cvec"), dir, cents)
    val q = Seq((1L, Seq(0.8f, 0.2f, 0f)), (2L, Seq(0f, 0.2f, 0.8f)))
      .toDF("qid", "qvec")
    def serveNow() = Ann.ivfServedTopK(spark, dir, q, k = 3, nprobe = 3)
      .collect().map(_.toSeq).toSeq
    val atV1 = serveNow()
    Ann.ivfIndexAppend(spark, dir, Seq((8L, Seq(0.7f, 0.3f, 0f)))
      .toDF("cid", "cvec"))
    val atV2 = serveNow()
    assert(atV1 != atV2)
    def at(v: Long) = Ann.ivfServedTopKVersion(spark, dir, v, q, 3, 3)
      .collect().map(_.toSeq).toSeq
    assert(at(1L) == atV1 && at(2L) == atV2)
    intercept[IllegalArgumentException] { at(3L) } // never committed

    val mdir = Files.createTempDirectory("mhtt").toString
    MinhashIndex.build(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text"), "doc_id", "text", mdir, 3, 4, 2, buckets = 8)
    val probe = Seq((20L, "the quick brown fox jumps over the lazy dog today"))
    def gateAt(v: Long) = MinhashIndex.gateVersion(spark, mdir, v,
        probe.toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .collect().map(_.toSeq).toSeq
    val g1 = gateAt(1L)
    assert(g1.nonEmpty, "the probe near-dups doc 1 in the built corpus")
    // delete doc 1: the CURRENT gate stops matching, version 1 still does
    MinhashIndex.deleteByIds(spark, mdir, Seq(1L).toDF("sid"))
    assert(MinhashIndex.gate(spark, mdir, probe.toDF("doc_id", "text"),
      "doc_id", "text", 0.5).collect().isEmpty)
    assert(gateAt(1L) == g1,
      "the pre-takedown corpus still answers as of its version")
  }

  test("vacuum keeps every in-window manifest's data: time travel survives a compaction") {
    // a compaction re-owns every fragmented cell in ONE commit,
    // instantly un-referencing the whole accreted history from CURRENT
    // — the sharpest case for the keep-set: the pre-compaction
    // manifest, still inside the grace window, references all of it
    val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val dir = Files.createTempDirectory("ivfvacwin").toString
    Ann.ivfIndexBuild(Seq((1L, Seq(0.9f, 0.1f, 0f))).toDF("cid", "cvec"),
      dir, cents)
    Ann.ivfIndexAppend(spark, dir, Seq((2L, Seq(0.8f, 0.2f, 0f)))
      .toDF("cid", "cvec")) // v2: cell 0 now fragmented over [1, 2]
    val q = Seq((9L, Seq(1f, 0f, 0f))).toDF("qid", "qvec")
    def at(v: Long) = Ann.ivfServedTopKVersion(spark, dir, v, q, 3, 1)
      .collect().map(_.toSeq).toSeq
    val atV2 = at(2L)
    Ann.ivfIndexCompact(spark, dir, minVersions = 2) // v3 re-owns cell 0
    // grace 1 keeps manifest v2 servable — so its referenced data
    // versions 1 and 2 must survive even though CURRENT (v3)
    // references neither and both are past a naive cutoff
    Ann.ivfVacuum(spark, dir, graceVersions = 1L)
    assert(at(2L) == atV2,
      "an in-grace-window version must stay fully servable after vacuum")
    assert(at(3L) == atV2, "the compaction itself is physically invisible")
    // shrinking the window retires it: grace 0 drops v1/v2's data
    Ann.ivfVacuum(spark, dir, graceVersions = 0L)
    intercept[Exception] { at(2L) }
    assert(at(3L) == atV2)
  }

  test("a version-tagged hybrid serve epoch replays exactly after later ticks") {
    import graft.operators.Hybrid
    import graft.streaming.HybridStream
    val words = Vector("apple", "banana", "cherry", "date", "fig", "grape")
    val corpus = (100 until 130).map { i =>
      (i.toLong, s"${words(i % 6)} ${words((i / 2) % 6)} ${words((i * 3 + 1) % 6)}",
        Seq.tabulate(8)(j => (((i * 31 + j * 17) % 13) - 6).toFloat / 3f))
    }
    val dir = Files.createTempDirectory("hybtt")
    val bm25Dir = dir.resolve("bm25").toString
    val ivfDir = dir.resolve("ivf").toString
    val outDir = dir.resolve("out").toString
    Bm25.buildIndex(corpus.map(c => (c._1, c._2)).toDF("doc_id", "text"),
      "doc_id", "text", bm25Dir)
    val cents = Array.tabulate(4)(c =>
      Array.tabulate(8)(j => (((c * 7 + 1) * 31 + j * 17) % 13 - 6).toFloat / 3f))
    Ann.ivfIndexBuild(corpus.map(c => (c._1, c._3)).toDF("cid", "cvec"),
      ivfDir, cents)
    val hq = Seq((1L, "apple", corpus(3)._3), (1L, "fig", corpus(3)._3),
      (2L, "cherry", corpus(8)._3)).toDF("qid", "term", "qvec")
    // one serve epoch through the sink body (the foreachBatch rail)
    HybridStream.serveSink(bm25Dir, ivfDir, kLeg = 5, k = 5, nprobe = 4,
      outDir)(hq, 0L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("doc_id"), col("rrf"), col("rank"))
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val ep0 = rows(spark.read.parquet(s"$outDir/epoch=0"))
    val (vB, vV) = HybridStream.epochIndexVersions(spark, outDir, 0L)
    assert((vB, vV) == ((1L, 1L)), "the tag names the pinned versions")
    // later ticks move BOTH indexes; the current serve changes
    Bm25.appendToIndex(spark, bm25Dir,
      Seq((500L, "apple fig cherry apple")).toDF("doc_id", "text"),
      "doc_id", "text")
    Ann.ivfIndexAppend(spark, ivfDir,
      Seq((500L, corpus(3)._3.map(v => (v * 0.99f)))).toDF("cid", "cvec"))
    assert(rows(Hybrid.servedTopK(spark, bm25Dir, ivfDir, hq, 5, 5, 4)) != ep0,
      "the ticks must change the current answer")
    // the tagged epoch replays bit-identically through time travel
    assert(rows(Hybrid.servedTopKVersion(spark, bm25Dir, vB, ivfDir, vV,
      hq, 5, 5, 4)) == ep0)
  }
}
