package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, MinhashIndex}
import graft.streaming.IndexMaintain

/** The UPSERT tick of all three standing-index lifecycles
  * ([[Bm25.upsertIndex]], [[Ann.ivfIndexUpsert]],
  * [[MinhashIndex.upsert]]): replace-or-insert in ONE crash-atomic
  * commit, with upsert == rebuild over (corpus − batch ids) ∪ batch as
  * the contract — no crash window in which a refreshed document is
  * simply absent, unlike a delete tick followed by an append tick.
  */
class IndexUpsertSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val base = Seq(
    (1L, "apple banana cherry date"),
    (2L, "banana cherry date elderberry fig"),
    (3L, "apple grape melon"),
    (4L, "banana banana melon"),
    (5L, "kiwi lychee mango"))
  // 1 replaced with different terms (old buckets lose, new gain),
  // 4 replaced with a SHORTER text, 300 is brand new
  private val up = Seq(
    (1L, "papaya quince apple"),
    (4L, "melon"),
    (300L, "durian rambutan banana jackfruit"))
  private val modified =
    base.filterNot(d => up.exists(_._1 == d._1)) ++ up

  private val queries = Seq((1L, "banana"), (1L, "papaya"), (2L, "apple"),
    (3L, "melon"), (4L, "durian"), (5L, "cherry")).toDF("qid", "term")

  private def bm25Serve(d: String) =
    Bm25.serveTopK(spark, d, queries, 5).collect().map(_.toSeq).toSeq
  private def bm25Stats(d: String) =
    Bm25.readStats(spark, d).select("n", "sdl").head().toSeq

  test("bm25: upsert == rebuild over the modified corpus; docmap and profile agree") {
    val dir = Files.createTempDirectory("bm25ups").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      buckets = 64)
    Bm25.upsertIndex(spark, dir, up.toDF("doc_id", "text"), "doc_id", "text")
    val dirU = Files.createTempDirectory("bm25upsU").toString
    Bm25.buildIndex(modified.toDF("doc_id", "text"), "doc_id", "text", dirU,
      buckets = 64)
    assert(bm25Serve(dir) == bm25Serve(dirU) && bm25Serve(dir).nonEmpty)
    assert(bm25Stats(dir) == bm25Stats(dirU))
    assert(Bm25.indexProfile(spark, dir).collect().map(_.toSeq).toSeq ==
      Bm25.indexProfile(spark, dirU).collect().map(_.toSeq).toSeq,
      "every denormalized df must match the rebuild's")
    // the reverse index reflects the replacement: ONE row per live id,
    // the replaced ids carrying their NEW dl
    val docmap = Bm25.readDocmapAt(spark, dir, Bm25.readManifest(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(docmap.keySet == modified.map(_._1).toSet)
    assert(docmap(1L) == 3L && docmap(4L) == 1L && docmap(300L) == 4L)
    // a duplicate-id batch has set semantics (deduplicated by id)
    val m = Bm25.readManifest(spark, dir)
    Bm25.upsertIndex(spark, dir,
      (up ++ up).toDF("doc_id", "text"), "doc_id", "text")
    assert(bm25Serve(dir) == bm25Serve(dirU))
    assert(bm25Stats(dir) == bm25Stats(dirU))
    assert(Bm25.readManifest(spark, dir).version == m.version + 1)
  }

  test("bm25: upsert removes EVERY copy of a re-ingested id; crash + txn re-delivery behave") {
    val dir = Files.createTempDirectory("bm25upsre").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      buckets = 64)
    // violate the append contract: id 5 ingested again under other text
    Bm25.appendToIndex(spark, dir, Seq((5L, "zucchini yam turnip"))
      .toDF("doc_id", "text"), "doc_id", "text")
    Bm25.upsertIndex(spark, dir, Seq((5L, "kiwi fresh replacement"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val dirU = Files.createTempDirectory("bm25upsreU").toString
    Bm25.buildIndex((base.filterNot(_._1 == 5L) :+
        (5L, "kiwi fresh replacement")).toDF("doc_id", "text"),
      "doc_id", "text", dirU, buckets = 64)
    assert(bm25Serve(dir) == bm25Serve(dirU))
    assert(bm25Stats(dir) == bm25Stats(dirU),
      "both old copies' stats contributions must roll out")
    // crash injection: data written, nothing committed → readers unmoved
    val m = Bm25.readManifest(spark, dir)
    val changed = Seq((2L, "changed text entirely")).toDF("doc_id", "text")
    Bm25.changeTick(spark, dir, Some(changed), Bm25.byIds(changed, upserting = true),
      crashPoint = 1)
    assert(Bm25.readManifest(spark, dir) == m)
    Bm25.changeTick(spark, dir, Some(changed), Bm25.byIds(changed, upserting = true),
      crashPoint = 2)
    assert(Bm25.readManifest(spark, dir) == m)
    // txn: applied once, re-delivery no-ops
    Bm25.upsertIndex(spark, dir, Seq((2L, "changed text entirely"))
      .toDF("doc_id", "text"), "doc_id", "text", Some(("ups-spec", 7L)))
    val m2 = Bm25.readManifest(spark, dir)
    assert(m2.txns.get("ups-spec").contains(7L))
    Bm25.upsertIndex(spark, dir, Seq((2L, "some other text"))
      .toDF("doc_id", "text"), "doc_id", "text", Some(("ups-spec", 7L)))
    assert(Bm25.readManifest(spark, dir) == m2)
  }

  private def vec3(a: Float, b: Float, c: Float) = Seq(a, b, c)
  private val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))

  test("ivf: upsert replaces every copy (stale cells included), appends new cids, == rebuild") {
    val dir = Files.createTempDirectory("ivfups").toString
    Ann.ivfIndexBuild(Seq(
      (42L, vec3(0.9f, 0.1f, 0f)), (7L, vec3(0f, 0.1f, 0.9f)))
      .toDF("cid", "cvec"), dir, cents)
    // stale copy: 42 re-appended near another cell
    Ann.ivfIndexAppend(spark, dir, Seq((42L, vec3(0.1f, 0.9f, 0f)))
      .toDF("cid", "cvec"))
    // upsert: 42 moves to cell 2 (BOTH old copies must go), 9 is new
    Ann.ivfIndexUpsert(spark, dir, Seq(
      (42L, vec3(0f, 0.2f, 0.8f)), (9L, vec3(0.8f, 0.2f, 0f)))
      .toDF("cid", "cvec"))
    val dirU = Files.createTempDirectory("ivfupsU").toString
    Ann.ivfIndexBuild(Seq(
      (7L, vec3(0f, 0.1f, 0.9f)), (42L, vec3(0f, 0.2f, 0.8f)),
      (9L, vec3(0.8f, 0.2f, 0f))).toDF("cid", "cvec"), dirU, cents)
    def cellsOf(d: String) = Ann.readIvfCells(spark, d)
      .select(col("cid"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellsOf(dir) == cellsOf(dirU))
    assert(Ann.readIvfCells(spark, dir).filter(col("cid") === 42L).count() == 1L,
      "exactly one copy after the refresh")
    // the reverse map equals the rebuild's
    def mapOf(d: String) = Ann.readIvfCidmap(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(mapOf(dir) == mapOf(dirU))
    // crash + txn
    val m = Ann.readIvfManifest(spark, dir)
    val moved = Seq((7L, vec3(0.9f, 0f, 0.1f))).toDF("cid", "cvec")
    Ann.ivfChangeTick(spark, dir, Some(moved), Ann.ivfByIds(moved, upserting = true),
      crashPoint = 1)
    assert(Ann.readIvfManifest(spark, dir) == m)
    Ann.ivfIndexUpsert(spark, dir, Seq((7L, vec3(0.9f, 0f, 0.1f)))
      .toDF("cid", "cvec"), Some(("ivf-ups", 3L)))
    val m2 = Ann.readIvfManifest(spark, dir)
    assert(m2.txns.get("ivf-ups").contains(3L))
    Ann.ivfIndexUpsert(spark, dir, Seq((7L, vec3(0f, 0.9f, 0.1f)))
      .toDF("cid", "cvec"), Some(("ivf-ups", 3L)))
    assert(Ann.readIvfManifest(spark, dir) == m2)
  }

  private val N = 3
  private val Bands = 4
  private val Rpb = 2
  private val Tau = 0.5

  test("minhash: upsert replaces signature rows; a shortened doc loses its rows; == rebuild") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "a completely different sentence about spark engines"))
    val ups = Seq(
      (1L, "an entirely rewritten first document with new content"),
      (3L, "too short"), // < n tokens: no signature rows at all
      (9L, "a brand new ninth document joining the standing corpus"))
    val modified = ref.filterNot(d => ups.exists(_._1 == d._1)) ++ ups
    val dir = Files.createTempDirectory("mhups").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      N, Bands, Rpb, buckets = 8)
    MinhashIndex.upsert(spark, dir, ups.toDF("doc_id", "text"),
      "doc_id", "text")
    val dirU = Files.createTempDirectory("mhupsU").toString
    MinhashIndex.build(modified.toDF("doc_id", "text"), "doc_id", "text",
      dirU, N, Bands, Rpb, buckets = 8)
    def rowsOf(d: String) = MinhashIndex.readRows(spark, d).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2))).toSet
    assert(rowsOf(dir) == rowsOf(dirU))
    assert(!rowsOf(dir).exists(_._1 == 3L),
      "a doc shortened below the shingle width must lose its rows")
    // the gate over the refreshed index == the gate over the rebuild
    val probe = Seq(
      (20L, "an entirely rewritten first document with new content indeed"))
    def gate(d: String) = MinhashIndex.gate(spark, d,
        probe.toDF("doc_id", "text"), "doc_id", "text", Tau)
      .orderBy(col("da"), col("db")).collect().map(_.toSeq).toSeq
    assert(gate(dir) == gate(dirU) && gate(dir).nonEmpty)
    // crash + txn
    val m = MinhashIndex.readManifest(spark, dir)
    val replaced = Seq((2L, "replacement text for the second document right here"))
      .toDF("sid", "text")
    MinhashIndex.changeTick(spark, dir, Some(replaced),
      MinhashIndex.byIds(replaced, upserting = true), crashPoint = 2)
    assert(MinhashIndex.readManifest(spark, dir) == m)
    MinhashIndex.upsert(spark, dir,
      Seq((2L, "replacement text for the second document right here"))
        .toDF("doc_id", "text"), "doc_id", "text", Some(("mh-ups", 11L)))
    val m2 = MinhashIndex.readManifest(spark, dir)
    assert(m2.txns.get("mh-ups").contains(11L))
    MinhashIndex.upsert(spark, dir,
      Seq((2L, "different replacement")).toDF("doc_id", "text"),
      "doc_id", "text", Some(("mh-ups", 11L)))
    assert(MinhashIndex.readManifest(spark, dir) == m2)
  }

  test("bm25: applyChanges folds a mixed upsert+delete batch in ONE commit == rebuild") {
    val dir = Files.createTempDirectory("bm25cdc").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      buckets = 64)
    // one mixed batch: replace 1, insert 300, DELETE 3 and 5
    val changes = Seq(
      ("upsert", 1L, "papaya quince apple"),
      ("upsert", 300L, "durian rambutan banana jackfruit"),
      ("delete", 3L, null.asInstanceOf[String]),
      ("delete", 5L, null.asInstanceOf[String]))
    val before = Bm25.readManifest(spark, dir)
    Bm25.applyChanges(spark, dir, changes.toDF("op", "doc_id", "text"),
      "op", "doc_id", "text")
    assert(Bm25.readManifest(spark, dir).version == before.version + 1,
      "the whole mixed batch is ONE commit")
    val dirU = Files.createTempDirectory("bm25cdcU").toString
    val resulting = base.filterNot(d => Seq(1L, 3L, 5L).contains(d._1)) ++
      Seq((1L, "papaya quince apple"), (300L, "durian rambutan banana jackfruit"))
    Bm25.buildIndex(resulting.toDF("doc_id", "text"), "doc_id", "text", dirU,
      buckets = 64)
    assert(bm25Serve(dir) == bm25Serve(dirU))
    assert(bm25Stats(dir) == bm25Stats(dirU))
    assert(Bm25.indexProfile(spark, dir).collect().map(_.toSeq).toSeq ==
      Bm25.indexProfile(spark, dirU).collect().map(_.toSeq).toSeq)
    // the reverse index dropped the deleted ids and refreshed the rest
    assert(Bm25.readDocmapAt(spark, dir, Bm25.readManifest(spark, dir))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
      resulting.map(_._1).toSet)
    // an id carrying both ops is rejected loudly
    intercept[IllegalArgumentException] {
      Bm25.applyChanges(spark, dir,
        Seq(("upsert", 2L, "x y z"), ("delete", 2L, null.asInstanceOf[String]))
          .toDF("op", "doc_id", "text"), "op", "doc_id", "text")
    }
    // unknown op rejected
    intercept[IllegalArgumentException] {
      Bm25.applyChanges(spark, dir,
        Seq(("replace", 2L, "x")).toDF("op", "doc_id", "text"),
        "op", "doc_id", "text")
    }
    // txn: one epoch, both verbs exactly-once under re-delivery
    val m2 = Bm25.readManifest(spark, dir)
    Bm25.applyChanges(spark, dir,
      Seq(("delete", 300L, null.asInstanceOf[String]),
        ("upsert", 4L, "kumquat fig")).toDF("op", "doc_id", "text"),
      "op", "doc_id", "text", Some(("cdc-spec", 5L)))
    val m3 = Bm25.readManifest(spark, dir)
    assert(m3.version == m2.version + 1 && m3.txns.get("cdc-spec").contains(5L))
    Bm25.applyChanges(spark, dir,
      Seq(("delete", 4L, null.asInstanceOf[String])).toDF("op", "doc_id", "text"),
      "op", "doc_id", "text", Some(("cdc-spec", 5L)))
    assert(Bm25.readManifest(spark, dir) == m3, "re-delivered epoch no-ops")
  }

  test("ivf + minhash: applyChanges folds a mixed batch in one commit == rebuild") {
    // IVF: replace 42 (every copy), insert 9, delete 7 — one commit
    val dir = Files.createTempDirectory("ivfcdc").toString
    Ann.ivfIndexBuild(Seq(
      (42L, vec3(0.9f, 0.1f, 0f)), (7L, vec3(0f, 0.1f, 0.9f)),
      (8L, vec3(0f, 0.9f, 0.1f))).toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir, Seq((42L, vec3(0.1f, 0.9f, 0f)))
      .toDF("cid", "cvec")) // stale second copy of 42
    val before = Ann.readIvfManifest(spark, dir)
    Ann.ivfApplyChanges(spark, dir, Seq(
      ("upsert", 42L, vec3(0f, 0.2f, 0.8f)),
      ("upsert", 9L, vec3(0.8f, 0.2f, 0f)),
      ("delete", 7L, null.asInstanceOf[Seq[Float]]))
      .toDF("op", "cid", "cvec"), "op")
    assert(Ann.readIvfManifest(spark, dir).version == before.version + 1)
    val dirU = Files.createTempDirectory("ivfcdcU").toString
    Ann.ivfIndexBuild(Seq(
      (8L, vec3(0f, 0.9f, 0.1f)), (42L, vec3(0f, 0.2f, 0.8f)),
      (9L, vec3(0.8f, 0.2f, 0f))).toDF("cid", "cvec"), dirU, cents)
    def cellsOf(d: String) = Ann.readIvfCells(spark, d)
      .select(col("cid"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellsOf(dir) == cellsOf(dirU))
    def mapOf(d: String) = Ann.readIvfCidmap(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(mapOf(dir) == mapOf(dirU),
      "the deleted id's reverse rows must leave with the same commit")

    // minhash: replace 1, delete 2, insert 9 — one commit
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "a completely different sentence about spark engines"))
    val mdir = Files.createTempDirectory("mhcdc").toString
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", mdir,
      N, Bands, Rpb, buckets = 8)
    MinhashIndex.applyChanges(spark, mdir, Seq(
      ("upsert", 1L, "an entirely rewritten first document with new content"),
      ("delete", 2L, null.asInstanceOf[String]),
      ("upsert", 9L, "a brand new ninth document joining the standing corpus"))
      .toDF("op", "doc_id", "text"), "op", "doc_id", "text")
    val mdirU = Files.createTempDirectory("mhcdcU").toString
    MinhashIndex.build(Seq(
      (3L, "a completely different sentence about spark engines"),
      (1L, "an entirely rewritten first document with new content"),
      (9L, "a brand new ninth document joining the standing corpus"))
      .toDF("doc_id", "text"), "doc_id", "text", mdirU, N, Bands, Rpb,
      buckets = 8)
    def rowsOf(d: String) = MinhashIndex.readRows(spark, d).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2))).toSet
    assert(rowsOf(mdir) == rowsOf(mdirU))
  }

  test("cdc stream folds mixed-verb epochs exactly-once") {
    val dir = Files.createTempDirectory("bm25cdcstream").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      buckets = 64)
    val dropDir = Files.createTempDirectory("bm25cdcdrop").toString
    Seq(
      Seq(("upsert", 1L, "papaya quince apple"), ("delete", 3L, null.asInstanceOf[String])),
      Seq(("upsert", 300L, "durian rambutan banana jackfruit"),
        ("delete", 5L, null.asInstanceOf[String]))
    ).foreach(_.toDF("op", "doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val ckpt = Files.createTempDirectory("bm25cdcckpt").toString
    val qy = spark.readStream.schema("op STRING, doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dropDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(IndexMaintain.txnSink("bm25-cdc-spec")((b, txn) =>
        Bm25.applyChanges(b.sparkSession, dir, b, "op", "doc_id", "text", txn)))
      .start()
    try assert(StreamSync.drain(qy) {
      Bm25.readManifest(spark, dir).txns.get("bm25-cdc-spec").exists(_ >= 1L)
    }) finally qy.stop()
    val dirU = Files.createTempDirectory("bm25cdcstreamU").toString
    val resulting = base.filterNot(d => Seq(1L, 3L, 5L).contains(d._1)) ++
      Seq((1L, "papaya quince apple"), (300L, "durian rambutan banana jackfruit"))
    Bm25.buildIndex(resulting.toDF("doc_id", "text"), "doc_id", "text", dirU,
      buckets = 64)
    assert(bm25Serve(dir) == bm25Serve(dirU))
    assert(bm25Stats(dir) == bm25Stats(dirU))
  }

  test("refresh streams fold exactly-once into the index") {
    val dir = Files.createTempDirectory("bm25refresh").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      buckets = 64)
    val dropDir = Files.createTempDirectory("bm25refreshdrop").toString
    up.grouped(2).foreach(_.toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val ckpt = Files.createTempDirectory("bm25refreshckpt").toString
    val qy = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dropDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(IndexMaintain.txnSink("bm25-refresh-spec")((b, txn) =>
        Bm25.upsertIndex(b.sparkSession, dir, b, "doc_id", "text", txn)))
      .start()
    try assert(StreamSync.drain(qy) {
      Bm25.readManifest(spark, dir).txns.get("bm25-refresh-spec").exists(_ >= 1L)
    }) finally qy.stop()
    val dirU = Files.createTempDirectory("bm25refreshU").toString
    Bm25.buildIndex(modified.toDF("doc_id", "text"), "doc_id", "text", dirU,
      buckets = 64)
    assert(bm25Serve(dir) == bm25Serve(dirU))
    assert(bm25Stats(dir) == bm25Stats(dirU))
  }
}
