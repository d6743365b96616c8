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
  * every artifact, and the `txns2=` ledger line.
  */
class ManifestGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def manifests(dir: String): Seq[String] =
    (1 to 5).map(v => new String(
      Files.readAllBytes(Paths.get(s"$dir/manifest/v$v.txt")), "UTF-8"))

  private def body(lines: String*): String = lines.map(_ + "\n").mkString

  private def check(dir: String, golden: Seq[String]): Unit = {
    val got = manifests(dir)
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
    Bm25.appendToIndexTxn(spark, dir,
      Seq((30L, "w4 novel")).toDF("doc_id", "text"), "doc_id", "text", "golden", 7L)
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
    Ann.ivfIndexAppendTxn(spark, dir,
      (20 until 23).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"), "golden", 3L)
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
    MinhashIndex.admitTxn(spark, dir,
      Seq((101L, "yet another unrelated arrival with its own distinct words"))
        .toDF("doc_id", "text"), "doc_id", "text", 0.5, "golden", 11L)
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
}
