package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, MinhashIndex}

/** Manifest BYTES are a storage format: export publishes a body
  * verbatim and every later tick parses what an earlier one rendered,
  * so a drift in the render/parse codec strands existing index dirs.
  * Each family runs one fixed lifecycle on a fixed tiny corpus —
  * build (v1), append (v2), compact (v3), a txn-carrying append (v4),
  * one CDC tick upserting and deleting (v5) — and every
  * `manifest/v<N>.txt` must equal the literal captured from the
  * committed format: sidecar flags, the `p:v1|v2,…` version maps of
  * every artifact, and the `txns2=` ledger line. A second lifecycle
  * per family pins the consolidating ticks — an id delete holding one
  * unknown id, a content delete, a plain upsert (and, for BM25 and
  * MinHash, a CDC tick whose delete ids match nothing) — so a change
  * in which partitions a tick rewrites shows up as a version-map diff.
  */
class ManifestGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def manifests(dir: String, last: Int = 5): Seq[String] =
    (1 to last).map(v => new String(
      Files.readAllBytes(Paths.get(s"$dir/manifest/v$v.txt")), "UTF-8"))

  private def body(lines: String*): String = lines.map(_ + "\n").mkString

  private def check(dir: String, golden: Seq[String]): Unit = {
    val got = manifests(dir, golden.size)
    assert(got == golden, "manifest bytes drifted; got:\n" +
      got.map(b => "\"" + b.replace("\n", "\\n") + "\"").mkString(",\n"))
  }

  test("bm25: manifest bytes across build, append, compact, txn append and CDC") {
    val dir = Files.createTempDirectory("goldenbm25").toString
    val docs = (0 until 12).map(i => (i.toLong, s"w${i % 5} topic${i % 3} shared"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 4)
    Bm25.appendToIndex(spark, dir,
      Seq((20L, "w1 w3 fresh words"), (21L, "topic2 shared")).toDF("doc_id", "text"),
      "doc_id", "text")
    Bm25.compactIndex(spark, dir)
    Bm25.appendToIndex(spark, dir,
      Seq((30L, "w4 novel")).toDF("doc_id", "text"), "doc_id", "text", Some(("golden", 7L)))
    Bm25.applyChanges(spark, dir,
      Seq(("upsert", 3L, "w0 replaced text"), ("delete", 5L, null))
        .toDF("op", "doc_id", "text"), "op", "doc_id", "text")
    check(dir, Seq(
      body("version=1", "buckets=4", "stats=1", "bucketVersions=0:1,1:1,2:1,3:1",
        "docVersions=0:1,1:1,2:1,3:1", "termstats=1"),
      body("version=2", "buckets=4", "stats=2", "bucketVersions=0:1|2,1:1|2,2:1|2,3:1|2",
        "docVersions=0:1|2,1:1,2:1,3:1|2", "termstats=1"),
      body("version=3", "buckets=4", "stats=2", "bucketVersions=0:3,1:3,2:3,3:3",
        "docVersions=0:3,1:1,2:1,3:3", "termstats=1"),
      body("version=4", "buckets=4", "stats=4", "bucketVersions=0:3|4,1:3,2:3,3:3|4",
        "docVersions=0:3|4,1:1,2:1,3:3", "termstats=1", "txns2=golden:7"),
      body("version=5", "buckets=4", "stats=5", "bucketVersions=0:5,1:5,2:5,3:5",
        "docVersions=0:3|4,1:5,2:1,3:5", "termstats=1", "txns2=golden:7")))
  }

  private def vec(seed: Int) = Seq.tabulate(8)(j =>
    (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
  private val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)

  test("ivf: manifest bytes across build, append, compact, txn append and CDC") {
    val dir = Files.createTempDirectory("goldenivf").toString
    Ann.ivfIndexBuild((100 until 116).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir,
      (10 until 16).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"))
    Ann.ivfIndexCompact(spark, dir)
    Ann.ivfIndexAppend(spark, dir,
      (20 until 23).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"), Some(("golden", 3L)))
    Ann.ivfApplyChanges(spark, dir,
      Seq(("upsert", 101L, vec(900)), ("delete", 12L, vec(0)))
        .toDF("op", "cid", "cvec"), "op")
    check(dir, Seq(
      body("version=1", "cells=4", "centroids=1", "cellVersions=0:1,1:1,2:1,3:1",
        "cidVersions=0:1,1:1,2:1,3:1", "cellstats=1"),
      body("version=2", "cells=4", "centroids=1", "cellVersions=0:1|2,1:1|2,2:1|2,3:1|2",
        "cidVersions=0:1|2,1:1|2,2:1|2,3:1|2", "cellstats=1"),
      body("version=3", "cells=4", "centroids=1", "cellVersions=0:3,1:3,2:3,3:3",
        "cidVersions=0:3,1:3,2:3,3:3", "cellstats=1"),
      body("version=4", "cells=4", "centroids=1", "cellVersions=0:3,1:3|4,2:3|4,3:3|4",
        "cidVersions=0:3|4,1:3,2:3|4,3:3|4", "cellstats=1", "txns2=golden:3"),
      body("version=5", "cells=4", "centroids=1", "cellVersions=0:3,1:5,2:5,3:5",
        "cidVersions=0:5,1:3,2:3|4,3:5", "cellstats=1", "txns2=golden:3")))
  }

  test("minhash: manifest bytes across build, admit, compact, txn admit and CDC") {
    val dir = Files.createTempDirectory("goldenmh").toString
    val ref = (0 until 8).map(i =>
      (i.toLong, s"document number $i about topic ${i % 3} with enough tokens"))
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      3, 4, 2, buckets = 4, bandBuckets = 8)
    MinhashIndex.admit(spark, dir,
      Seq((100L, "an entirely novel admission about nothing seen before at all"))
        .toDF("doc_id", "text"), "doc_id", "text", 0.5)
    MinhashIndex.compact(spark, dir)
    MinhashIndex.admit(spark, dir,
      Seq((101L, "yet another unrelated arrival with its own distinct words"))
        .toDF("doc_id", "text"), "doc_id", "text", 0.5, txn = Some(("golden", 11L)))
    MinhashIndex.applyChanges(spark, dir,
      Seq(("upsert", 2L, "document two rewritten with a brand new long text body"),
        ("delete", 4L, null)).toDF("op", "doc_id", "text"),
      "op", "doc_id", "text")
    check(dir, Seq(
      body("version=1", "buckets=4", "params=3:4:2", "bucketVersions=0:1,1:1,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:1,1:1,2:1,3:1,4:1,5:1,6:1,7:1", "bandstats=1"),
      body("version=2", "buckets=4", "params=3:4:2", "bucketVersions=0:1|2,1:1,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:1,1:1,2:1|2,3:1,4:1|2,5:1,6:1|2,7:1|2",
        "bandstats=1"),
      body("version=3", "buckets=4", "params=3:4:2", "bucketVersions=0:3,1:1,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:1,1:1,2:3,3:1,4:3,5:1,6:3,7:3", "bandstats=1"),
      body("version=4", "buckets=4", "params=3:4:2", "bucketVersions=0:3,1:1,2:1,3:1|4",
        "bandBuckets=8", "bandVersions=0:1|4,1:1,2:3,3:1|4,4:3,5:1,6:3|4,7:3",
        "bandstats=1", "txns2=golden:11"),
      body("version=5", "buckets=4", "params=3:4:2", "bucketVersions=0:3,1:5,2:1,3:5",
        "bandBuckets=8", "bandVersions=0:5,1:5,2:5,3:1|4,4:3,5:5,6:5,7:3", "bandstats=1",
        "txns2=golden:11")))
  }

  test("bm25: manifest bytes of id delete, content delete and upsert ticks") {
    val dir = Files.createTempDirectory("goldenbm25c").toString
    val docs = (0 until 12).map(i => (i.toLong, s"w${i % 5} topic${i % 3} shared"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 4)
    Bm25.appendToIndex(spark, dir,
      Seq((20L, "w1 w3 fresh words"), (21L, "topic2 shared")).toDF("doc_id", "text"),
      "doc_id", "text")
    // 20 is known, 999 never ingested
    Bm25.deleteByIds(spark, dir, Seq(20L, 999L).toDF("doc_id"), "doc_id")
    Bm25.deleteFromIndex(spark, dir,
      Seq((4L, "w4 topic1 shared")).toDF("doc_id", "text"), "doc_id", "text")
    Bm25.upsertIndex(spark, dir,
      Seq((7L, "w2 rewritten words"), (40L, "brand new doc")).toDF("doc_id", "text"),
      "doc_id", "text")
    check(dir, Seq(
      body("version=1", "buckets=4", "stats=1", "bucketVersions=0:1,1:1,2:1,3:1",
        "docVersions=0:1,1:1,2:1,3:1", "termstats=1"),
      body("version=2", "buckets=4", "stats=2", "bucketVersions=0:1|2,1:1|2,2:1|2,3:1|2",
        "docVersions=0:1|2,1:1,2:1,3:1|2", "termstats=1"),
      body("version=3", "buckets=4", "stats=3", "bucketVersions=0:3,1:1|2,2:3,3:3",
        "docVersions=0:3,1:1,2:1,3:1|2", "termstats=1"),
      body("version=4", "buckets=4", "stats=4", "bucketVersions=0:3,1:4,2:4,3:4",
        "docVersions=0:3,1:1,2:1,3:4", "termstats=1"),
      body("version=5", "buckets=4", "stats=5", "bucketVersions=0:5,1:5,2:5,3:5",
        "docVersions=0:3,1:5,2:5,3:4", "termstats=1")))
  }

  test("bm25: a CDC delete id matching nothing rewrites none of its partitions") {
    val dir = Files.createTempDirectory("goldenbm25cdc").toString
    val docs = (0 until 12).map(i => (i.toLong, s"w${i % 5} topic${i % 3} shared"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 4)
    // 3 is upserted; 998 and 999 were never ingested, so only the
    // dbucket doc 3's new row lands in (3) moves
    Bm25.applyChanges(spark, dir,
      Seq(("upsert", 3L, "w0 replaced text"), ("delete", 998L, null), ("delete", 999L, null))
        .toDF("op", "doc_id", "text"), "op", "doc_id", "text")
    check(dir, Seq(
      body("version=1", "buckets=4", "stats=1", "bucketVersions=0:1,1:1,2:1,3:1",
        "docVersions=0:1,1:1,2:1,3:1", "termstats=1"),
      body("version=2", "buckets=4", "stats=2", "bucketVersions=0:2,1:2,2:2,3:2",
        "docVersions=0:1,1:1,2:1,3:2", "termstats=1")))
  }

  test("ivf: manifest bytes of id delete, content delete and upsert ticks") {
    val dir = Files.createTempDirectory("goldenivfc").toString
    Ann.ivfIndexBuild((100 until 116).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir,
      (10 until 16).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"))
    // 11 is known, 999 never ingested
    Ann.ivfIndexDeleteByIds(spark, dir, Seq(11L, 999L).toDF("cid"))
    Ann.ivfIndexDelete(spark, dir, Seq((104L, vec(104))).toDF("cid", "cvec"))
    Ann.ivfIndexUpsert(spark, dir,
      Seq((107L, vec(700)), (40L, vec(41))).toDF("cid", "cvec"))
    check(dir, Seq(
      body("version=1", "cells=4", "centroids=1", "cellVersions=0:1,1:1,2:1,3:1",
        "cidVersions=0:1,1:1,2:1,3:1", "cellstats=1"),
      body("version=2", "cells=4", "centroids=1", "cellVersions=0:1|2,1:1|2,2:1|2,3:1|2",
        "cidVersions=0:1|2,1:1|2,2:1|2,3:1|2", "cellstats=1"),
      // only cid 11's cbucket (3) moves; 999's (2) is never rewritten
      body("version=3", "cells=4", "centroids=1", "cellVersions=0:1|2,1:3,2:1|2,3:1|2",
        "cidVersions=0:1|2,1:1|2,2:1|2,3:3", "cellstats=1"),
      body("version=4", "cells=4", "centroids=1", "cellVersions=0:1|2,1:4,2:1|2,3:1|2",
        "cidVersions=0:4,1:1|2,2:1|2,3:3", "cellstats=1"),
      body("version=5", "cells=4", "centroids=1", "cellVersions=0:1|2,1:5,2:5,3:1|2",
        "cidVersions=0:5,1:1|2,2:5,3:3", "cellstats=1")))
  }

  test("minhash: manifest bytes of id delete and upsert ticks") {
    val dir = Files.createTempDirectory("goldenmhc").toString
    val ref = (0 until 8).map(i =>
      (i.toLong, s"document number $i about topic ${i % 3} with enough tokens"))
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      3, 4, 2, buckets = 4, bandBuckets = 8)
    MinhashIndex.admit(spark, dir,
      Seq((100L, "an entirely novel admission about nothing seen before at all"))
        .toDF("doc_id", "text"), "doc_id", "text", 0.5)
    // 100 is known, 999 never ingested
    MinhashIndex.deleteByIds(spark, dir, Seq(100L, 999L).toDF("sid"))
    // 5 is rewritten too short to shingle: its rows leave, none replace them
    MinhashIndex.upsert(spark, dir,
      Seq((2L, "document two rewritten with a brand new long text body"),
        (5L, "too short"), (60L, "a fresh document joining the corpus by upsert"))
        .toDF("doc_id", "text"), "doc_id", "text")
    check(dir, Seq(
      body("version=1", "buckets=4", "params=3:4:2", "bucketVersions=0:1,1:1,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:1,1:1,2:1,3:1,4:1,5:1,6:1,7:1", "bandstats=1"),
      body("version=2", "buckets=4", "params=3:4:2", "bucketVersions=0:1|2,1:1,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:1,1:1,2:1|2,3:1,4:1|2,5:1,6:1|2,7:1|2",
        "bandstats=1"),
      body("version=3", "buckets=4", "params=3:4:2", "bucketVersions=0:3,1:1,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:1,1:1,2:3,3:1,4:3,5:1,6:3,7:3", "bandstats=1"),
      body("version=4", "buckets=4", "params=3:4:2", "bucketVersions=0:3,1:4,2:4,3:1",
        "bandBuckets=8", "bandVersions=0:4,1:4,2:4,3:4,4:4,5:4,6:3,7:3", "bandstats=1")))
  }

  test("minhash: a CDC delete id matching nothing rewrites none of its partitions") {
    val dir = Files.createTempDirectory("goldenmhcdc").toString
    val ref = (0 until 8).map(i =>
      (i.toLong, s"document number $i about topic ${i % 3} with enough tokens"))
    MinhashIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", dir,
      3, 4, 2, buckets = 4, bandBuckets = 8)
    // 2 is upserted; 997, 998 and 999 were never ingested, so only doc
    // 2's sid-bucket (1) and the band partitions of its old and new
    // signatures move
    MinhashIndex.applyChanges(spark, dir,
      Seq(("upsert", 2L, "document two rewritten with a brand new long text body"),
        ("delete", 997L, null), ("delete", 998L, null), ("delete", 999L, null))
        .toDF("op", "doc_id", "text"), "op", "doc_id", "text")
    check(dir, Seq(
      body("version=1", "buckets=4", "params=3:4:2", "bucketVersions=0:1,1:1,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:1,1:1,2:1,3:1,4:1,5:1,6:1,7:1", "bandstats=1"),
      body("version=2", "buckets=4", "params=3:4:2", "bucketVersions=0:1,1:2,2:1,3:1",
        "bandBuckets=8", "bandVersions=0:2,1:1,2:2,3:1,4:1,5:2,6:1,7:1", "bandstats=1")))
  }
}
