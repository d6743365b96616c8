package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, MinhashIndex}
import graft.streaming.IndexMaintain

/** The COMPACT tick of the accretive committed indexes
  * ([[Ann.ivfIndexCompact]], [[MinhashIndex.compact]]): a pure
  * physical rewrite — serving/gating is bit-identical before and
  * after, fragmented manifest entries collapse to one version, the
  * superseded history vacuums away, crashes leave readers unmoved,
  * the txn ledger is carried forward, and the streaming cadence
  * bounds a long-lived stream's per-partition read amplification.
  */
class IndexCompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def vec(seed: Int) = Seq.tabulate(8)(j =>
    (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
  private val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
  private val queries = (0 until 4).map(i => (i.toLong, vec(i + 500)))
    .toDF("qid", "qvec")

  private def serve(dir: String) =
    Ann.ivfServedTopK(spark, dir, queries, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq

  test("ivf: compact collapses fragmented cells AND cbuckets; serve bit-identical; history vacuums") {
    val dir = Files.createTempDirectory("ivfcompact").toString
    Ann.ivfIndexBuild((100 until 120).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    (0 until 4).foreach { t =>
      Ann.ivfIndexAppendTxn(spark, dir,
        (10 + t * 5 until 15 + t * 5).map(i => (i.toLong, vec(i)))
          .toDF("cid", "cvec"), "compact-spec", t.toLong)
    }
    val before = Ann.readIvfManifest(spark, dir)
    assert(before.cellVersions.values.exists(_.distinct.size >= 3),
      "precondition: appends must fragment at least one cell")
    val served = serve(dir)
    val mapBefore = Ann.readIvfCidmap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

    val picked = Ann.ivfIndexCompact(spark, dir, minVersions = 2)
    assert(picked.nonEmpty)
    val after = Ann.readIvfManifest(spark, dir)
    assert(after.version == before.version + 1)
    picked.foreach(c => assert(after.cellVersions(c) == Seq(after.version),
      s"compacted cell $c must collapse to the new version"))
    (before.cellVersions.keySet -- picked).foreach(c =>
      assert(after.cellVersions(c) == before.cellVersions(c),
        s"unpicked cell $c must keep its version list"))
    assert(after.txns == before.txns, "the txn ledger rides the compaction")
    // the cidmap accretes on append too (round 17), so its fragmented
    // cbuckets collapse in the same tick; MEMBERSHIP is unchanged (the
    // mapBefore set compare below) — only the physical layout moves
    assert(before.cidVersions.values.exists(_.distinct.size >= 2),
      "precondition: accretive appends must fragment at least one cbucket")
    before.cidVersions.foreach { case (k, vs) =>
      if (vs.distinct.size >= 2)
        assert(after.cidVersions(k) == Seq(after.version),
          s"fragmented cbucket $k must collapse to the new version")
      else assert(after.cidVersions(k) == vs,
        s"unfragmented cbucket $k must keep its version list")
    }
    assert(serve(dir) == served, "a compaction is physically invisible")
    assert(Ann.readIvfCidmap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet == mapBefore)

    // a re-delivered append epoch still no-ops through the carried ledger
    val m2 = Ann.readIvfManifest(spark, dir)
    Ann.ivfIndexAppendTxn(spark, dir,
      (10 until 15).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"),
      "compact-spec", 0L)
    assert(Ann.readIvfManifest(spark, dir) == m2)

    // the superseded fragments vacuum away; serving intact; the read
    // amplification is the point: compacted cells now read ONE version
    assert(Ann.ivfVacuum(spark, dir, graceVersions = 0L).nonEmpty)
    assert(serve(dir) == served)
    val distinctVers = Ann.readIvfManifest(spark, dir)
      .cellVersions.values.flatten.toSet
    assert(distinctVers.size < before.cellVersions.values.flatten.toSet.size,
      "the contributing version set must shrink")

    // a second compact finds nothing fragmented — idempotent cadence
    assert(Ann.ivfIndexCompact(spark, dir, minVersions = 2).isEmpty)

    // and the whole chain equals the one-shot build over the union
    val dirU = Files.createTempDirectory("ivfcompactU").toString
    Ann.ivfIndexBuild(((100 until 120) ++ (10 until 30))
      .map(i => (i.toLong, vec(i))).toDF("cid", "cvec"), dirU, cents)
    assert(serve(dir) == serve(dirU))
  }

  test("ivf: a crashed compaction is invisible; the retry completes") {
    val dir = Files.createTempDirectory("ivfcompactcrash").toString
    Ann.ivfIndexBuild((100 until 110).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir,
      (10 until 20).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"))
    val m = Ann.readIvfManifest(spark, dir)
    val served = serve(dir)
    Ann.ivfIndexCompactHooked(spark, dir, minVersions = 2, crashPoint = 1)
    assert(Ann.readIvfManifest(spark, dir) == m && serve(dir) == served)
    Ann.ivfIndexCompactHooked(spark, dir, minVersions = 2, crashPoint = 2)
    assert(Ann.readIvfManifest(spark, dir) == m && serve(dir) == served)
    // the retry reuses the orphaned slot and commits
    assert(Ann.ivfIndexCompact(spark, dir, minVersions = 2).nonEmpty)
    assert(serve(dir) == served)
  }

  private val N = 3
  private val Bands = 4
  private val Rpb = 2
  private val Tau = 0.5

  /** One family's compact surface for the crash table: a fragmenting
    * set-up, the committed manifest version, the serve/gate answer, and
    * the hooked compact. */
  private case class CrashCase(family: String, setUp: String => Unit,
      manifest: String => Any, version: String => Long,
      answer: String => Seq[Seq[Any]], compact: (String, Int) => Seq[Int])

  private lazy val crashCases = Seq(
    CrashCase("bm25",
      dir => {
        val bm25 = graft.operators.Bm25
        bm25.buildIndex((0 until 20).map(i => (i.toLong, s"w${i % 7} common shared"))
          .toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 4)
        bm25.appendToIndex(spark, dir, Seq((50L, "w1 w2 w3 w4 common"),
          (51L, "w5 w6 shared fresh")).toDF("doc_id", "text"), "doc_id", "text")
      },
      dir => graft.operators.Bm25.readManifest(spark, dir),
      dir => graft.operators.Bm25.readManifest(spark, dir).version,
      dir => graft.operators.Bm25.serveTopK(spark, dir,
          Seq((1L, "w1"), (1L, "common"), (2L, "w6")).toDF("qid", "term"), 5)
        .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq,
      (dir, cp) => graft.operators.Bm25.compactIndexHooked(spark, dir, 2, cp)),
    CrashCase("ivf",
      dir => {
        Ann.ivfIndexBuild((100 until 110).map(i => (i.toLong, vec(i)))
          .toDF("cid", "cvec"), dir, cents)
        Ann.ivfIndexAppend(spark, dir,
          (10 until 20).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"))
      },
      dir => Ann.readIvfManifest(spark, dir),
      dir => Ann.readIvfManifest(spark, dir).version,
      serve,
      (dir, cp) => Ann.ivfIndexCompactHooked(spark, dir, 2, cp)),
    CrashCase("minhash",
      dir => {
        MinhashIndex.build((0 until 10).map(i =>
            (i.toLong, s"document number $i about topic ${i % 4} with enough tokens"))
          .toDF("doc_id", "text"), "doc_id", "text", dir, N, Bands, Rpb, buckets = 4)
        MinhashIndex.admit(spark, dir, (0 until 3).map(t =>
            (100L + t, s"totally novel admission number $t unlike all others ever"))
          .toDF("doc_id", "text"), "doc_id", "text", Tau)
      },
      dir => MinhashIndex.readManifest(spark, dir),
      dir => MinhashIndex.readManifest(spark, dir).version,
      dir => MinhashIndex.gate(spark, dir, Seq(
          (200L, "document number 3 about topic 3 with enough tokens"),
          (201L, "totally novel admission number 1 unlike all others ever more"))
          .toDF("doc_id", "text"), "doc_id", "text", Tau)
        .orderBy(col("da"), col("db")).collect().map(_.toSeq).toSeq,
      (dir, cp) => MinhashIndex.compactHooked(spark, dir, 2, cp)))

  crashCases.foreach { c =>
    test(s"${c.family}: compact crash points 1 and 2 leave manifest and answers unmoved; the retry commits") {
      val dir = Files.createTempDirectory(s"${c.family}compactcrash").toString
      c.setUp(dir)
      val m = c.manifest(dir)
      val v = c.version(dir)
      val answer = c.answer(dir)
      assert(answer.nonEmpty, "precondition: the probe must hit the index")
      for (crashPoint <- Seq(1, 2)) {
        assert(c.compact(dir, crashPoint).isEmpty,
          s"crashPoint=$crashPoint must report nothing compacted")
        assert(c.manifest(dir) == m, s"crashPoint=$crashPoint moved the committed manifest")
        assert(c.answer(dir) == answer, s"crashPoint=$crashPoint changed the answer")
      }
      // the retry reuses the orphaned slot and commits
      assert(c.compact(dir, 0).nonEmpty)
      assert(c.version(dir) == v + 1)
      assert(c.answer(dir) == answer, "a compaction is physically invisible")
    }
  }

  test("minhash: compact collapses fragmented buckets; the gate is bit-identical; history vacuums") {
    val dir = Files.createTempDirectory("mhcompact").toString
    val ref = (0 until 12).map(i =>
      (i.toLong, s"document number $i about topic ${i % 4} with enough tokens"))
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      N, Bands, Rpb, buckets = 8)
    (0 until 3).foreach { t =>
      MinhashIndex.admitTxn(spark, dir,
        Seq((100L + t, s"totally novel admission number $t unlike all others ever"))
          .toDF("doc_id", "text"),
        "doc_id", "text", Tau, "mh-compact-spec", t.toLong)
    }
    val before = MinhashIndex.readManifest(spark, dir)
    assert(before.bucketVersions.values.exists(_.distinct.size >= 2),
      "precondition: admissions must fragment at least one bucket")
    val probe = Seq(
      (200L, "document number 3 about topic 3 with enough tokens"),
      (201L, "totally novel admission number 1 unlike all others ever more"))
    def gate() = MinhashIndex.gate(spark, dir, probe.toDF("doc_id", "text"),
        "doc_id", "text", Tau)
      .orderBy(col("da"), col("db")).collect().map(_.toSeq).toSeq
    val gated = gate()
    assert(gated.nonEmpty, "the probe must hit both built and admitted docs")

    val picked = MinhashIndex.compact(spark, dir, minVersions = 2)
    assert(picked.nonEmpty)
    val after = MinhashIndex.readManifest(spark, dir)
    picked.foreach(b => assert(after.bucketVersions(b) == Seq(after.version)))
    assert(after.txns == before.txns, "the txn ledger rides the compaction")
    assert(gate() == gated, "a compaction is physically invisible to the gate")
    assert(MinhashIndex.vacuum(spark, dir, graceVersions = 0L).nonEmpty)
    assert(gate() == gated)
    assert(MinhashIndex.compact(spark, dir, minVersions = 2).isEmpty)
  }

  test("ivf: the maintenance stream's compaction cadence bounds per-cell read amplification") {
    val dir = Files.createTempDirectory("ivfcompactstream").toString
    Ann.ivfIndexBuild((100 until 120).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    val dropDir = Files.createTempDirectory("ivfcompactdrop").toString
    (0 until 6).foreach(t => (10 + t * 3 until 13 + t * 3)
      .map(i => (i.toLong, vec(i))).toDF("cid", "cvec")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val ckpt = Files.createTempDirectory("ivfcompactckpt").toString
    val qy = IndexMaintain.maintainIvf(
      spark.readStream.schema("cid LONG, cvec ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      dir, "ivf-compact-stream", ckpt,
      vacuumEvery = 2, graceVersions = 0L, compactEvery = 2)
    try assert(StreamSync.drain(qy) {
      Ann.readIvfManifest(spark, dir).txns.get("ivf-compact-stream").exists(_ >= 5L)
    }) finally qy.stop()
    // without the cadence every cell touched by all 6 epochs would list
    // up to 7 versions; the epoch-2-of-2 compaction keeps any list to
    // at most the appends since the last cadence fire (+1)
    val m = Ann.readIvfManifest(spark, dir)
    assert(m.cellVersions.values.forall(_.distinct.size <= 3),
      s"cadence must bound fragmentation: ${m.cellVersions}")
    // the maintained+compacted index serves like the one-shot union build
    val dirU = Files.createTempDirectory("ivfcompactstreamU").toString
    Ann.ivfIndexBuild(((100 until 120) ++ (10 until 28))
      .map(i => (i.toLong, vec(i))).toDF("cid", "cvec"), dirU, cents)
    assert(serve(dir) == serve(dirU))
  }
}
