package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, ManifestIO, MinhashIndex}

/** THE intra-batch duplicate-id rule, uniform across every ingest-side
  * tick verb of all three index families ([[ManifestIO.dedupBatch]] /
  * the conflict check in [[ManifestIO.splitChanges]]): a row
  * re-submitted within one micro-batch counts ONCE (set semantics —
  * the txn ledger gates epochs, not rows), and two DIFFERENT payloads
  * under one id in one batch are rejected LOUDLY instead of silently
  * committing a partitioning-dependent winner.
  */
class BatchRuleSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val base = Seq(
    (1L, "apple banana cherry date"),
    (2L, "banana cherry date elderberry fig"),
    (3L, "apple grape melon"),
    (4L, "banana banana melon"))
  private val add = Seq((10L, "papaya quince apple"),
    (11L, "durian banana jackfruit"))
  private val queries = Seq((1L, "banana"), (2L, "apple"), (3L, "papaya"),
    (4L, "durian")).toDF("qid", "term")

  private def serve(d: String) =
    Bm25.serveTopK(spark, d, queries, 5).collect().map(_.toSeq).toSeq
  private def stats(d: String) =
    Bm25.readStats(spark, d).select("n", "sdl").head().toSeq

  test("bm25 append: duplicate rows ingest once (== rebuild over distinct); conflicting texts throw") {
    val dir = Files.createTempDirectory("brApp").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir, 64)
    // the SAME row twice in one batch: set semantics — rebuild over
    // base ∪ distinct(batch) is the contract
    Bm25.appendToIndex(spark, dir, (add ++ add).toDF("doc_id", "text"),
      "doc_id", "text")
    val dirR = Files.createTempDirectory("brAppR").toString
    Bm25.buildIndex((base ++ add).toDF("doc_id", "text"), "doc_id", "text",
      dirR, 64)
    assert(serve(dir) == serve(dirR) && serve(dir).nonEmpty)
    assert(stats(dir) == stats(dirR))
    // two REVISIONS of one id in one batch: no defined winner — loud
    val before = Bm25.readManifest(spark, dir).version
    val ex = intercept[IllegalArgumentException] {
      Bm25.appendToIndex(spark, dir,
        Seq((20L, "one text"), (20L, "another text")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    assert(ex.getMessage.contains("conflicting"))
    assert(Bm25.readManifest(spark, dir).version == before,
      "a rejected batch must not commit")
  }

  test("bm25 delete-with-text: conflicting texts throw before any stats roll") {
    val dir = Files.createTempDirectory("brDel").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir, 64)
    val s0 = stats(dir)
    intercept[IllegalArgumentException] {
      Bm25.deleteFromIndex(spark, dir,
        Seq((1L, "apple banana cherry date"), (1L, "apple banana"))
          .toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(stats(dir) == s0, "a rejected batch must roll nothing")
  }

  test("cdc: payload-distinct duplicate upserts reject on all three indexes; identical dups pass") {
    // BM25
    val bDir = Files.createTempDirectory("brCdcB").toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", bDir, 64)
    val conflict = Seq(("upsert", 1L, "rev one"), ("upsert", 1L, "rev two"))
      .toDF("op", "doc_id", "text")
    val exB = intercept[IllegalArgumentException] {
      Bm25.applyChanges(spark, bDir, conflict, "op", "doc_id", "text")
    }
    assert(exB.getMessage.contains("conflicting upsert payloads"))
    // the exact same row twice is NOT a conflict — it collapses
    Bm25.applyChanges(spark, bDir,
      Seq(("upsert", 1L, "same rev"), ("upsert", 1L, "same rev"),
        ("delete", 4L, null.asInstanceOf[String]))
        .toDF("op", "doc_id", "text"), "op", "doc_id", "text")
    val dirR = Files.createTempDirectory("brCdcBR").toString
    Bm25.buildIndex(
      (base.filterNot(d => d._1 == 1L || d._1 == 4L) :+ (1L, "same rev"))
        .toDF("doc_id", "text"), "doc_id", "text", dirR, 64)
    assert(serve(bDir) == serve(dirR) && stats(bDir) == stats(dirR))

    // IVF
    val vDir = Files.createTempDirectory("brCdcV").toString
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    Ann.ivfIndexBuild(Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.7f, 0.7f))).toDF("cid", "cvec"), vDir, cents)
    intercept[IllegalArgumentException] {
      Ann.ivfApplyChanges(spark, vDir,
        Seq(("upsert", 1L, Seq(0.9f, 0.1f)), ("upsert", 1L, Seq(0.1f, 0.9f)))
          .toDF("op", "cid", "cvec"), "op")
    }
    // conflicting vectors on a plain append reject too
    intercept[IllegalArgumentException] {
      Ann.ivfIndexAppend(spark, vDir,
        Seq((9L, Seq(0.9f, 0.1f)), (9L, Seq(0.1f, 0.9f)))
          .toDF("cid", "cvec"))
    }

    // minhash
    val mDir = Files.createTempDirectory("brCdcM").toString
    MinhashIndex.build(base.toDF("doc_id", "text"), "doc_id", "text", mDir,
      n = 2, bands = 4, rowsPerBand = 2)
    intercept[IllegalArgumentException] {
      MinhashIndex.applyChanges(spark, mDir,
        Seq(("upsert", 1L, "rev one rev one"), ("upsert", 1L, "rev two rev two"))
          .toDF("op", "doc_id", "text"), "op", "doc_id", "text")
    }
  }

  test("minhash admission: a doc re-submitted within one batch admits once") {
    val dir = Files.createTempDirectory("brAdm").toString
    MinhashIndex.build(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      n = 2, bands = 4, rowsPerBand = 2)
    val batch = Seq((50L, "unique words nowhere else present today"))
    val adm = MinhashIndex.admit(spark, dir,
      (batch ++ batch).toDF("doc_id", "text"), "doc_id", "text", 0.5)
    assert(adm.appended == 1L, "the duplicate row must admit exactly once")
    val rows = MinhashIndex.readRows(spark, dir)
      .filter(org.apache.spark.sql.functions.col("sid") === 50L).count()
    assert(rows == 1L, "exactly one committed signature row")
  }

  test("ivf append: duplicate rows ingest once") {
    val dir = Files.createTempDirectory("brIvfApp").toString
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    Ann.ivfIndexBuild(Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("cid", "cvec"), dir, cents)
    val row = Seq((7L, Seq(0.6f, 0.8f)))
    Ann.ivfIndexAppend(spark, dir, (row ++ row).toDF("cid", "cvec"))
    val n = Ann.readIvfCells(spark, dir)
      .filter(org.apache.spark.sql.functions.col("cid") === 7L).count()
    assert(n == 1L, "the duplicate row must ingest exactly once")
  }

  test("minhash gate: duplicate probe rows gate once; conflicting texts throw") {
    // without the rule the gate's verify join (cand ⋈ daGs) SQUARES a
    // duplicate-id probe's pair multiplicity, where the full fan-out
    // reference kernel doubles it — the round-16 ADVICE finding,
    // pinned here (the gate's equality with that reference kernel is
    // MinhashBandsSpec's)
    val refDocs = (0 until 40).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo w$i x${i % 7} y${i % 5}"))
    val probe = Seq((2000L, "alpha bravo charlie delta echo w3 x3 y3"))
    def pairsOf(dir: String, batch: Seq[(Long, String)]) =
      MinhashIndex.gate(spark, dir, batch.toDF("doc_id", "text"),
          "doc_id", "text", 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sorted
    val dir = Files.createTempDirectory("brGate").toString
    MinhashIndex.build(refDocs.toDF("doc_id", "text"), "doc_id", "text",
      dir, n = 3, bands = 6, rowsPerBand = 2, buckets = 8, bandBuckets = 16)
    val once = pairsOf(dir, probe)
    assert(once.nonEmpty, "fixture must produce pairs")
    assert(pairsOf(dir, probe ++ probe) == once,
      "a duplicated probe row must gate once (pair multiplicities included)")
    val ex = intercept[IllegalArgumentException] {
      pairsOf(dir, probe ++ Seq((2000L, "another text same id entirely")))
    }
    assert(ex.getMessage.contains("conflicting"))
  }
}
