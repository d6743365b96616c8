package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, MinhashIndex}

/** The THIRD committed standing-index lifecycle
  * ([[MinhashIndex]]): build/gate/admit/delete/vacuum with the same
  * crash-atomic manifest commits and exactly-once txn rail as the BM25
  * and IVF indexes — and the same parity contract: every committed
  * operation equals the corresponding direct kernel over the same
  * corpus.
  */
class MinhashIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val N = 3
  private val Bands = 4
  private val Rpb = 2
  private val Tau = 0.5

  // reference corpus: two template families + singles; near-dup pairs
  // share most shingles
  private val ref = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "a completely different sentence about spark engines"),
    (5L, "another unrelated document mentioning parquet files"))
  // batch A: 10 near-dups ref 1/2; 11 is novel; 12 near-dups nothing
  private val batchA = Seq(
    (10L, "the quick brown fox jumps over the lazy dog today"),
    (11L, "fresh content that matches no standing document at all"),
    (12L, "short unique text with enough tokens to shingle"))
  // batch B probes the post-admission index: 20 near-dups ADMITTED 11
  private val batchB = Seq(
    (20L, "fresh content that matches no standing document at all really"),
    (21L, "nothing like anything else in any corpus anywhere"))

  private def gateDirect(index: org.apache.spark.sql.DataFrame,
      docs: Seq[(Long, String)]) =
    Dedup.minhashLshPairsAcrossIndexed(docs.toDF("doc_id", "text"), index,
      "doc_id", "text", N, Bands, Rpb, Tau)
      .orderBy(col("da"), col("db")).collect().map(_.toSeq).toSeq

  test("build + gate == the direct kernel over the same corpus; admit tick == minhashIndexAdmit") {
    val dir = Files.createTempDirectory("mhidx").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      N, Bands, Rpb, buckets = 8)
    val m = MinhashIndex.readManifest(spark, dir)
    assert(m.n == N && m.bands == Bands && m.rowsPerBand == Rpb,
      "the signature scheme must ride the manifest")
    val directIndex = Dedup.minhashDocIndex(ref.toDF("doc_id", "text"),
      "doc_id", "text", N, Bands, Rpb).localCheckpoint()
    // gate parity against the caller-persisted shape
    val got = MinhashIndex.gate(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau).orderBy(col("da"), col("db"))
      .collect().map(_.toSeq).toSeq
    assert(got == gateDirect(directIndex, batchA) && got.nonEmpty)

    // admission tick parity: decisions == the uncommitted operator's
    val direct = Dedup.minhashIndexAdmit(directIndex,
      batchA.toDF("doc_id", "text"), "doc_id", "text", N, Bands, Rpb, Tau)
    val adm = MinhashIndex.admit(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau)
    assert(adm.decisions.orderBy(col("sid")).collect().map(_.toSeq).toSeq ==
      direct.decisions.orderBy(col("sid")).collect().map(_.toSeq).toSeq)
    assert(adm.appended > 0L)
    // committed rows == the direct union's rows (sid set)
    assert(MinhashIndex.readRows(spark, dir).select(col("sid")).collect()
        .map(_.getLong(0)).toSet ==
      direct.updatedIndex.select(col("sid")).collect().map(_.getLong(0)).toSet)
    // batch B gates against the UPDATED committed corpus == direct
    assert(gateDirect(direct.updatedIndex.localCheckpoint(), batchB) ==
      MinhashIndex.gate(spark, dir, batchB.toDF("doc_id", "text"),
        "doc_id", "text", Tau).orderBy(col("da"), col("db"))
        .collect().map(_.toSeq).toSeq)
  }

  test("admit: crash injection leaves readers unmoved; txn re-delivery no-ops; replay defense holds") {
    val dir = Files.createTempDirectory("mhidxcrash").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      N, Bands, Rpb)
    val before = MinhashIndex.readManifest(spark, dir)
    MinhashIndex.admitTick(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau, Int.MaxValue, crashPoint = 1,
      txn = Some(("mhA", 0L)))
    assert(MinhashIndex.readManifest(spark, dir) == before)
    MinhashIndex.admitTick(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau, Int.MaxValue, crashPoint = 2,
      txn = Some(("mhA", 0L)))
    assert(MinhashIndex.readManifest(spark, dir) == before)
    // retry applies once; re-delivery no-ops with an empty verdict frame
    val first = MinhashIndex.admit(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau, txn = Some(("mhA", 0L)))
    assert(first.appended > 0L)
    val after = MinhashIndex.readManifest(spark, dir)
    assert(after.txns.get("mhA").contains(0L))
    val retry = MinhashIndex.admit(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau, txn = Some(("mhA", 0L)))
    assert(retry.appended == 0L && retry.decisions.isEmpty)
    assert(MinhashIndex.readManifest(spark, dir) == after)
    // replay defense: a manual re-admission of the same docs admits
    // nothing (their sids are committed — admitted=false, no second row)
    val replay = MinhashIndex.admit(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau)
    assert(replay.appended == 0L)
    assert(replay.decisions.filter(col("admitted")).isEmpty)
    assert(MinhashIndex.readRows(spark, dir).groupBy(col("sid"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).isEmpty,
      "no sid may ever hold two signature rows")
  }

  test("deleteByIds: bucket-local (no scan), delete == rebuild, history vacuums away") {
    val dir = Files.createTempDirectory("mhidxdel").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text",
      dir, N, Bands, Rpb, buckets = 16)
    // grow by one admission tick (v2 holds ONLY the admitted rows),
    // then take the whole batch back out — v2 becomes fully
    // unreferenced history, the vacuumable shape
    MinhashIndex.admit(spark, dir, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau)
    val before = MinhashIndex.readManifest(spark, dir)
    val delIds = Seq(10L, 11L, 12L) // 10 was gated out (never committed)
    MinhashIndex.deleteByIds(spark, dir, delIds.toDF("sid"))
    val after = MinhashIndex.readManifest(spark, dir)
    // locality: buckets the deleted sids don't hash to keep their lists
    val delBuckets = delIds.toDF("sid")
      .select(pmod(xxhash64(col("sid")), lit(before.buckets)).cast("int"))
      .collect().map(_.getInt(0)).toSet
    val untouched = before.bucketVersions.keySet -- delBuckets
    assert(untouched.nonEmpty && untouched.forall(b =>
      after.bucketVersions.get(b) == before.bucketVersions.get(b)))
    // admit-then-delete == the never-admitted index (gate parity)
    val dirU = Files.createTempDirectory("mhidxdelU").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dirU,
      N, Bands, Rpb, buckets = 16)
    def g(d: String) = MinhashIndex.gate(spark, d,
        (batchA ++ batchB).toDF("doc_id", "text"), "doc_id", "text", Tau)
      .orderBy(col("da"), col("db")).collect().map(_.toSeq).toSeq
    assert(g(dir) == g(dirU) && g(dir).nonEmpty)
    // re-delete-proof: the same ids again are a no-op, not a new commit
    MinhashIndex.deleteByIds(spark, dir, delIds.toDF("sid"))
    assert(MinhashIndex.readManifest(spark, dir) == after)
    // the consolidated-away admission version vacuums, serving intact
    val served = g(dir)
    assert(MinhashIndex.vacuum(spark, dir, graceVersions = 0L).nonEmpty)
    assert(g(dir) == served)
  }

  test("maintenance stream: exactly-once admission with per-epoch verdicts; id takedown stream") {
    import graft.streaming.IndexMaintain
    val dir = Files.createTempDirectory("mhstream").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      N, Bands, Rpb)
    val dropDir = Files.createTempDirectory("mhstreamdrop").toString
    Seq(batchA, batchB).foreach(b => b.toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val decDir = Files.createTempDirectory("mhstreamdec").toString
    val ckpt = Files.createTempDirectory("mhstreamckpt").toString
    val qy = IndexMaintain.maintainMinhash(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      dir, "doc_id", "text", Tau, "mh-stream-spec", decDir, ckpt)
    try assert(StreamSync.drain(qy) {
      MinhashIndex.readManifest(spark, dir).txns
        .get("mh-stream-spec").exists(_ >= 1L)
    }) finally qy.stop()
    // one verdict dir per epoch, each verdict set == the batch's docs
    assert(new java.io.File(s"$decDir/epoch=0").exists() &&
      new java.io.File(s"$decDir/epoch=1").exists())
    val ep0 = spark.read.parquet(s"$decDir/epoch=0")
      .select(col("sid")).collect().map(_.getLong(0)).toSet
    val ep1 = spark.read.parquet(s"$decDir/epoch=1")
      .select(col("sid")).collect().map(_.getLong(0)).toSet
    assert(Set(ep0, ep1) ==
      Set(batchA.map(_._1).toSet, batchB.map(_._1).toSet))
    // the committed index == one sequential-admission replay
    val dirR = Files.createTempDirectory("mhstreamR").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dirR,
      N, Bands, Rpb)
    MinhashIndex.admit(spark, dirR, batchA.toDF("doc_id", "text"),
      "doc_id", "text", Tau)
    MinhashIndex.admit(spark, dirR, batchB.toDF("doc_id", "text"),
      "doc_id", "text", Tau)
    def sids(d: String) = MinhashIndex.readRows(spark, d)
      .select(col("sid")).collect().map(_.getLong(0)).toSet
    assert(sids(dir) == sids(dirR))

    // id-only takedown stream on the same rail
    val tdrop = Files.createTempDirectory("mhtddrop").toString
    Seq(10L, 11L).toDF("sid").coalesce(1).write.mode("append").parquet(tdrop)
    val tckpt = Files.createTempDirectory("mhtdckpt").toString
    val qt = spark.readStream.schema("sid LONG").parquet(tdrop)
      .writeStream.option("checkpointLocation", tckpt)
      .foreachBatch(IndexMaintain.txnSink("mh-takedown-spec")((b, txn) =>
        MinhashIndex.deleteByIds(b.sparkSession, dir, b, txn)))
      .start()
    try assert(StreamSync.drain(qt) {
      MinhashIndex.readManifest(spark, dir).txns.contains("mh-takedown-spec")
    }) finally qt.stop()
    assert(!sids(dir).contains(10L) && !sids(dir).contains(11L))
  }
}
