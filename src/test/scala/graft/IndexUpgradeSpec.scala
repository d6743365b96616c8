package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, ManifestIO, MinhashIndex}

/** The one legacy path of the three standing indexes: a dir whose
  * manifests predate its family's reverse map, band artifact or stats
  * sidecar is refused by every verb — serve, gate, drift, occupancy,
  * profile, id-delete, append, export, time travel — with a message
  * naming the family's upgrade, until ONE `upgrade` tick brings it to
  * the current layout; from then on every answer equals the answer of
  * the same dir never stripped. Legacy dirs are made the way an older
  * writer left them: a current dir's committed manifests with the
  * newer lines removed (and, on the live one, a pre-ledger single-slot
  * `txn=` record). Table-driven over the three families. */
class IndexUpgradeSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  /** One family under test. `build` writes v1 and a v2 under the txn
    * ("stream", 5); `shapes` maps each legacy shape to the manifest
    * keys an older writer did not write; `answers` are the values
    * every upgraded dir must reproduce; `replay` re-delivers both
    * ledger entries ("stream", 5) and ("old", 3). */
  private case class Family(name: String, verb: String,
      spec: ManifestIO.IndexSpec[_], upgrade: String => Boolean,
      build: String => Unit, shapes: Seq[(String, Seq[String])],
      refusals: Seq[(String, String => Any)], answers: String => Any,
      idDelete: String => Unit, replay: String => Unit,
      timeTravel: (String, Long) => Any)

  private val bm25Docs = (0 until 24).map(i => (i.toLong, s"w${i % 5} topic${i % 3} shared t$i"))
  private def bm25Queries =
    Seq((1L, "w1"), (1L, "topic2"), (2L, "t7"), (3L, "shared"), (3L, "t20")).toDF("qid", "term")

  private def vec(seed: Int) = Seq.tabulate(8)(j =>
    (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
  private val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
  private def ivfQueries = Seq((1L, vec(3)), (2L, vec(104)), (3L, vec(12))).toDF("qid", "qvec")

  private val mhDocs = (0 until 40).map(i =>
    (i.toLong, s"alpha bravo charlie delta echo w$i x${i % 7} y${i % 5} z${i % 3}"))
  private def mhBatch = Seq(
    (2000L, "alpha bravo charlie delta echo w3 x3 y3 z0"),
    (2001L, "alpha bravo charlie delta echo w33 x5 y3 z0"),
    (2002L, "totally unrelated words nothing shared here at all")).toDF("doc_id", "text")
  private def gate(d: String) = MinhashIndex.gate(spark, d, mhBatch, "doc_id", "text", 0.4)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq

  private val families = Seq(
    Family("bm25", "Bm25.upgrade", Bm25.Spec, Bm25.upgrade(spark, _),
      d => {
        Bm25.buildIndex(bm25Docs.take(16).toDF("doc_id", "text"), "doc_id", "text", d,
          buckets = 4)
        Bm25.appendToIndex(spark, d, bm25Docs.drop(16).toDF("doc_id", "text"),
          "doc_id", "text", Some(("stream", 5L)))
      },
      Seq("docmap missing" -> Seq("docVersions"),
        "docmap present, termstats missing" -> Seq("termstats"),
        "docmap and termstats missing" -> Seq("docVersions", "termstats")),
      Seq("serve" -> (d => Bm25.serveTopK(spark, d, bm25Queries, 5).collect()),
        "profile" -> (d => Bm25.indexProfile(spark, d).collect()),
        "id-delete" -> (d => Bm25.deleteByIds(spark, d, Seq(3L).toDF("doc_id"), "doc_id")),
        "append" -> (d => Bm25.appendToIndex(spark, d,
          Seq((90L, "w1 fresh")).toDF("doc_id", "text"), "doc_id", "text")),
        "export" -> (d => Bm25.exportIndex(spark, d, d + "-clone"))),
      d => (rows(Bm25.serveTopK(spark, d, bm25Queries, 5).orderBy("qid", "rank")),
        rows(Bm25.indexProfile(spark, d)), rows(Bm25.readStats(spark, d))),
      d => Bm25.deleteByIds(spark, d, Seq(3L, 18L, 999L).toDF("doc_id"), "doc_id"),
      d => Seq("stream" -> 5L, "old" -> 3L).foreach(t => Bm25.appendToIndex(spark, d,
        Seq((91L, "replayed words")).toDF("doc_id", "text"), "doc_id", "text", Some(t))),
      (d, v) => Bm25.serveTopKVersion(spark, d, v, bm25Queries, 5).collect()),
    Family("ivf", "Ann.ivfIndexUpgrade", Ann.IvfSpec, Ann.ivfIndexUpgrade(spark, _),
      d => {
        Ann.ivfIndexBuild((100 until 116).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"),
          d, cents)
        Ann.ivfIndexAppend(spark, d,
          (10 until 20).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"), Some(("stream", 5L)))
      },
      Seq("cidmap missing" -> Seq("cidVersions"),
        "cidmap present, cellstats missing" -> Seq("cellstats"),
        "cidmap and cellstats missing" -> Seq("cidVersions", "cellstats")),
      Seq("serve" -> (d => Ann.ivfServedTopK(spark, d, ivfQueries, 5, 2).collect()),
        "drift" -> (d => Ann.ivfGeometryDrift(spark, d).collect()),
        "drift verdict" -> (d => Ann.ivfDriftVerdict(spark, d).collect()),
        "id-delete" -> (d => Ann.ivfIndexDeleteByIds(spark, d, Seq(11L).toDF("cid"))),
        "append" -> (d => Ann.ivfIndexAppend(spark, d, Seq((90L, vec(90))).toDF("cid", "cvec"))),
        "export" -> (d => Ann.ivfIndexExport(spark, d, d + "-clone"))),
      // the drift report's per-version split collapses onto the upgrade
      // version wherever the cells are rewritten (as under a
      // compaction); its totals are the answer
      d => (rows(Ann.ivfServedTopK(spark, d, ivfQueries, 5, 2).orderBy("qid", "rank")),
        rows(Ann.ivfGeometryDrift(spark, d)
          .agg(sum(col("n_vectors")), sum(col("sum_cos_fp")))),
        Ann.readIvfCidmap(spark, d).collect().map(r => (r.getLong(0), r.getInt(1))).toSet),
      d => Ann.ivfIndexDeleteByIds(spark, d, Seq(11L, 104L, 999L).toDF("cid")),
      d => Seq("stream" -> 5L, "old" -> 3L).foreach(t => Ann.ivfIndexAppend(spark, d,
        Seq((91L, vec(91))).toDF("cid", "cvec"), Some(t))),
      (d, v) => Ann.ivfServedTopKVersion(spark, d, v, ivfQueries, 5, 2).collect()),
    Family("minhash", "MinhashIndex.upgrade", MinhashIndex.Spec, MinhashIndex.upgrade(spark, _),
      d => {
        MinhashIndex.build(mhDocs.take(30).toDF("doc_id", "text"), "doc_id", "text", d,
          3, 6, 2, buckets = 8)
        MinhashIndex.admit(spark, d, mhDocs.drop(30).toDF("doc_id", "text"),
          "doc_id", "text", 0.9, txn = Some(("stream", 5L)))
      },
      Seq("bands present, bandstats missing" -> Seq("bandstats"),
        "bands and bandstats missing" -> Seq("bandBuckets", "bandVersions", "bandstats")),
      Seq("gate" -> (d => gate(d)),
        "occupancy" -> (d => MinhashIndex.occupancyVerdict(spark, d).collect()),
        "profile" -> (d => MinhashIndex.indexProfile(spark, d).collect()),
        "id-delete" -> (d => MinhashIndex.deleteByIds(spark, d, Seq(3L).toDF("sid"))),
        "admit" -> (d => MinhashIndex.admit(spark, d,
          Seq((90L, "a fresh arrival with words of its own")).toDF("doc_id", "text"),
          "doc_id", "text", 0.9)),
        "export" -> (d => MinhashIndex.exportIndex(spark, d, d + "-clone"))),
      // the band partitions an upgrade rewrites collapse onto its
      // version, so their fragmentation count is not an answer
      d => (gate(d), rows(MinhashIndex.indexProfile(spark, d)
          .drop("version", "fragmented_band_partitions")),
        rows(MinhashIndex.occupancyVerdict(spark, d).select(col("latest_occupancy_fp")))),
      d => MinhashIndex.deleteByIds(spark, d, Seq(3L, 33L, 999L).toDF("sid")),
      d => Seq("stream" -> 5L, "old" -> 3L).foreach(t => MinhashIndex.admit(spark, d,
        Seq((91L, "replayed words long enough to shingle")).toDF("doc_id", "text"),
        "doc_id", "text", 0.9, txn = Some(t))),
      (d, v) => MinhashIndex.gateVersion(spark, d, v, mhBatch, "doc_id", "text", 0.4)
        .collect()))

  private val templates = scala.collection.mutable.Map.empty[String, String]

  /** A fresh copy of the family's current-layout fixture. */
  private def fresh(f: Family): String = {
    val src = templates.getOrElseUpdate(f.name, {
      val d = Files.createTempDirectory(s"upg_${f.name}").toString + "/idx"
      f.build(d)
      d
    })
    val dst = Files.createTempDirectory(s"upg_${f.name}").toString + "/idx"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), new java.io.File(dst))
    dst
  }

  /** A fresh copy stripped to a legacy shape: every committed manifest
    * loses `keys`, the live one gains a pre-ledger `txn=` record.
    * Returns the dir and its live legacy body. */
  private def legacy(f: Family, keys: Seq[String]): (String, String) = {
    val d = fresh(f)
    val fs = ManifestIO.fs(spark, d)
    val (cur, _) = ManifestIO.readCurrent(spark, d, f.name)
    (1L to cur).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(s"$d/manifest/v$v.txt")
      val kept = ManifestIO.readText(fs, p).linesIterator
        .filterNot(l => keys.exists(k => l.startsWith(k + "="))).map(_ + "\n").mkString
      ManifestIO.writeText(fs, p, if (v == cur) kept + "txn=old:3\n" else kept)
    }
    (d, ManifestIO.readCurrent(spark, d, f.name)._2)
  }

  private def assertRefuses(f: Family, what: String)(op: => Any): Unit = {
    val ex = intercept[IllegalArgumentException](op)
    assert(ex.getMessage.contains(f.verb), s"${f.name} $what must name ${f.verb}: ${ex.getMessage}")
  }

  families.foreach { f =>
    test(s"${f.name}: every legacy shape refuses each verb naming upgrade; " +
        "one upgrade tick then answers like the never-stripped dir") {
      val reference = fresh(f)
      val expected = f.answers(reference)
      f.idDelete(reference)
      val expectedAfterDelete = f.answers(reference)
      f.shapes.foreach { case (shape, keys) =>
        val (d, _) = legacy(f, keys)
        f.refusals.foreach { case (what, op) => assertRefuses(f, s"$shape: $what")(op(d)) }
        val v0 = ManifestIO.readCurrent(spark, d, f.name)._1
        assert(f.upgrade(d), s"$shape: the upgrade must tick")
        assert(ManifestIO.readCurrent(spark, d, f.name)._1 == v0 + 1)
        assert(f.spec.missing(ManifestIO.readCurrent(spark, d, f.name)._2).isEmpty)
        assert(!f.upgrade(d), s"$shape: a second upgrade is no tick")
        assert(ManifestIO.readCurrent(spark, d, f.name)._1 == v0 + 1)
        assert(f.answers(d) == expected, s"$shape: answers after the upgrade")
        f.idDelete(d)
        assert(f.answers(d) == expectedAfterDelete, s"$shape: answers after an id delete")
      }
    }

    test(s"${f.name}: a crashed upgrade leaves the legacy CURRENT and a retry upgrades; " +
        "the txn ledger carries through; pre-upgrade time travel refuses") {
      val (d, legacyBody) = legacy(f, f.shapes.last._2)
      val v0 = ManifestIO.readCurrent(spark, d, f.name)._1
      Seq(1, 2).foreach { cp =>
        assert(!ManifestIO.upgrade(spark, d, f.spec, crashPoint = cp))
        assert(ManifestIO.readCurrent(spark, d, f.name) == ((v0, legacyBody)),
          s"crash point $cp must leave the legacy CURRENT")
        assertRefuses(f, s"after crash point $cp")(f.refusals.head._2(d))
      }
      assert(f.upgrade(d), "the retry upgrades")
      val (v1, body) = ManifestIO.readCurrent(spark, d, f.name)
      assert(v1 == v0 + 1)
      // the ledger: the same entries, the legacy single-slot record among
      // them, rendered under the escaped ledger key
      val ledger = ManifestIO.parseTxns(ManifestIO.parseKv(legacyBody))
      assert(ledger == Map("stream" -> 5L, "old" -> 3L))
      assert(ManifestIO.parseTxns(ManifestIO.parseKv(body)) == ledger)
      assert(body.linesIterator.filter(_.startsWith("txn")).toSeq ==
        Seq(ManifestIO.renderTxns(ledger).trim))
      f.replay(d)
      assert(ManifestIO.readCurrent(spark, d, f.name) == ((v1, body)),
        "re-delivered epochs of both ledger entries are no-ops")
      // versions committed before the upgrade are not servable
      (1L to v0).foreach(v => assertRefuses(f, s"time travel to v$v")(f.timeTravel(d, v)))
      f.timeTravel(d, v1)
      // vacuum still reads the legacy manifests and keeps serving
      val expected = f.answers(d)
      ManifestIO.vacuum(spark, d, f.spec, graceVersions = 0L, graceMillis = 0L)
      assert(f.answers(d) == expected)
    }
  }
}
