package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, ManifestIO}

/** The commit protocol's LOST-UPDATE GUARD ([[ManifestIO.commit]]): a
  * tick that pinned its manifest before another writer committed must
  * FAIL its flip (loud exception) instead of silently replacing the
  * interloper's commit — the single-writer discipline's violation
  * detector. Crashed-tick retries (which legitimately re-commit the
  * same next version) must keep working.
  */
class ManifestCommitSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("protocol: a commit whose parent is not the committed version throws") {
    val dir = Files.createTempDirectory("commitguard").toString
    // a fresh dir accepts only version 1
    intercept[IllegalStateException] { ManifestIO.commit(spark, dir, 3L, "v=3") }
    ManifestIO.commit(spark, dir, 1L, "v=1")
    // a stale writer that pinned nothing (allocates 1 again) fails
    intercept[IllegalStateException] { ManifestIO.commit(spark, dir, 1L, "v=1b") }
    // skipping a version fails; the next version succeeds
    intercept[IllegalStateException] { ManifestIO.commit(spark, dir, 4L, "v=4") }
    ManifestIO.commit(spark, dir, 2L, "v=2")
    assert(ManifestIO.readCurrent(spark, dir, "guard spec")._1 == 2L)
  }

  test("bm25: an interleaved second writer makes the stale tick throw, its commit preserved") {
    val dir = Files.createTempDirectory("bm25interleave").toString
    val base = Seq((1L, "apple banana"), (2L, "banana cherry"))
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", dir)
    val inner = Seq((10L, "date elderberry")).toDF("doc_id", "text")
    val outer = Seq((20L, "fig grape")).toDF("doc_id", "text")
    // the outer tick pins the committed manifest, then — via the
    // injectable interleave hook — a second writer commits a full tick
    // before the outer one writes: the outer tick must fail loudly at
    // the slot guard (BEFORE clobbering the data version the inner
    // tick's live manifest now references), NOT silently unpublish or
    // damage the inner tick's append
    intercept[IllegalStateException] {
      Bm25.appendTick(spark, dir, outer, "doc_id", "text",
        crashPoint = 0,
        interleave = () => Bm25.appendToIndex(spark, dir, inner, "doc_id", "text"))
    }
    // the inner tick's commit stands untouched: its doc serves, the
    // outer's never entered, and stats count exactly base + inner
    val m = Bm25.readManifest(spark, dir)
    assert(m.version == 2L, "build(1) + inner append(2); the stale outer tick never wrote")
    assert(Bm25.readStats(spark, dir).select("n").head().getLong(0) == 3L)
    val served = Bm25.serveTopK(spark, dir,
      Seq((1L, "date"), (1L, "fig")).toDF("qid", "term"), 5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(served == Set(10L), "inner doc servable, outer doc never committed")
    // the failed tick's data dir is ordinary vacuum food, and a
    // SUBSEQUENT clean tick self-heals over the orphaned slot
    Bm25.appendToIndex(spark, dir, outer, "doc_id", "text")
    assert(Bm25.readStats(spark, dir).select("n").head().getLong(0) == 4L)
  }

  test("crashed-tick retries still commit cleanly under the guard") {
    val dir = Files.createTempDirectory("guardretry").toString
    Bm25.buildIndex(Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val batch = Seq((2L, "c d")).toDF("doc_id", "text")
    // die after data writes, then after manifest write: neither flips
    Bm25.appendTick(spark, dir, batch, "doc_id", "text", crashPoint = 1)
    Bm25.appendTick(spark, dir, batch, "doc_id", "text", crashPoint = 2)
    // the retry allocates the same version and the guard lets it flip
    Bm25.appendToIndex(spark, dir, batch, "doc_id", "text")
    assert(Bm25.readManifest(spark, dir).version == 2L)
    assert(Bm25.readStats(spark, dir).select("n").head().getLong(0) == 2L)

    // IVF side: same protocol, same guard, retry after injected death
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val vdir = Files.createTempDirectory("guardretryivf").toString
    Ann.ivfIndexBuild(Seq((1L, Seq(1f, 0.1f))).toDF("cid", "cvec"), vdir, cents)
    val vbatch = Seq((2L, Seq(0.1f, 1f))).toDF("cid", "cvec")
    Ann.ivfAppendTick(spark, vdir, vbatch, crashPoint = 2)
    Ann.ivfIndexAppend(spark, vdir, vbatch)
    assert(Ann.readIvfManifest(spark, vdir).version == 2L)
    assert(Ann.readIvfCells(spark, vdir).count() == 2L)
  }

  test("a hostile txn appId is rejected before the tick writes any data") {
    val dir = Files.createTempDirectory("hostileapp").toString
    Bm25.buildIndex(Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val before = Bm25.readManifest(spark, dir)
    for (app <- Seq("bad;app", "bad\napp")) {
      intercept[IllegalArgumentException] {
        Bm25.appendToIndex(spark, dir, Seq((2L, "c d")).toDF("doc_id", "text"),
          "doc_id", "text", Some((app, 1L)))
      }
      // an empty batch no-ops AFTER the check, so it must reject too
      intercept[IllegalArgumentException] {
        Bm25.appendToIndex(spark, dir, Seq.empty[(Long, String)].toDF("doc_id", "text"),
          "doc_id", "text", Some((app, 1L)))
      }
    }
    assert(!new java.io.File(s"$dir/data/${before.version + 1}").exists(),
      "the rejected tick must not have written its data slot")
    assert(Bm25.readManifest(spark, dir) == before)
  }
}
