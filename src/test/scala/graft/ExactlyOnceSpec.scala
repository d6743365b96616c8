package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25, MinhashIndex}

/** Exactly-once under re-delivery for every txn-capable write verb of
  * the three standing indexes: a tick carrying (appId, epoch) commits
  * once, the same pair re-delivered is a no-op, a lower epoch is a
  * no-op, and each retry leaves every manifest byte-identical and
  * CURRENT where the first delivery put it.
  */
class ExactlyOnceSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val docs = (0 until 10).map(i =>
    (i.toLong, s"document number $i about topic ${i % 3} with enough tokens"))
  private def vec(seed: Int) = Seq.tabulate(8)(j =>
    (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
  private val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)

  private def bm25(dir: String): Unit =
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 4)
  private def ivf(dir: String): Unit =
    Ann.ivfIndexBuild((0 until 10).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"),
      dir, cents)
  private def minhash(dir: String): Unit =
    MinhashIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      3, 4, 2, buckets = 4, bandBuckets = 8)

  private def text(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
  private def vecs(rows: (Long, Seq[Float])*): DataFrame = rows.toDF("cid", "cvec")
  private def changes(rows: (String, Long, String)*): DataFrame =
    rows.toDF("op", "doc_id", "text")

  /** (verb, index build, the verb under txn (dir, appId, epoch)). */
  private val verbs: Seq[(String, String => Unit, (String, String, Long) => Unit)] = Seq(
    ("bm25 appendToIndex", bm25, (d, app, e) =>
      Bm25.appendToIndex(spark, d, text((50L, "fresh arrival words")),
        "doc_id", "text", Some((app, e)))),
    ("bm25 deleteFromIndex", bm25, (d, app, e) =>
      Bm25.deleteFromIndex(spark, d, text(docs(2)), "doc_id", "text", Some((app, e)))),
    ("bm25 deleteByIds", bm25, (d, app, e) =>
      Bm25.deleteByIds(spark, d, Seq(3L, 999L).toDF("doc_id"), "doc_id", Some((app, e)))),
    ("bm25 upsertIndex", bm25, (d, app, e) =>
      Bm25.upsertIndex(spark, d, text((4L, "rewritten words"), (51L, "new doc")),
        "doc_id", "text", Some((app, e)))),
    ("bm25 applyChanges", bm25, (d, app, e) =>
      Bm25.applyChanges(spark, d,
        changes(("upsert", 5L, "changed body"), ("delete", 6L, null)),
        "op", "doc_id", "text", Some((app, e)))),
    ("ivf ivfIndexAppend", ivf, (d, app, e) =>
      Ann.ivfIndexAppend(spark, d, vecs((50L, vec(50))), Some((app, e)))),
    ("ivf ivfIndexDelete", ivf, (d, app, e) =>
      Ann.ivfIndexDelete(spark, d, vecs((2L, vec(2))), Some((app, e)))),
    ("ivf ivfIndexDeleteByIds", ivf, (d, app, e) =>
      Ann.ivfIndexDeleteByIds(spark, d, Seq(3L, 999L).toDF("cid"), Some((app, e)))),
    ("ivf ivfIndexUpsert", ivf, (d, app, e) =>
      Ann.ivfIndexUpsert(spark, d, vecs((4L, vec(400)), (51L, vec(51))), Some((app, e)))),
    ("ivf ivfApplyChanges", ivf, (d, app, e) =>
      Ann.ivfApplyChanges(spark, d,
        Seq(("upsert", 5L, vec(500)), ("delete", 6L, vec(6))).toDF("op", "cid", "cvec"),
        "op", Some((app, e)))),
    ("minhash admit", minhash, (d, app, e) =>
      MinhashIndex.admit(spark, d,
        text((50L, "an entirely novel admission about nothing seen before")),
        "doc_id", "text", 0.5, txn = Some((app, e)))),
    ("minhash deleteByIds", minhash, (d, app, e) =>
      MinhashIndex.deleteByIds(spark, d, Seq(3L, 999L).toDF("sid"), Some((app, e)))),
    ("minhash upsert", minhash, (d, app, e) =>
      MinhashIndex.upsert(spark, d,
        text((4L, "document four rewritten with a brand new long text body")),
        "doc_id", "text", Some((app, e)))),
    ("minhash applyChanges", minhash, (d, app, e) =>
      MinhashIndex.applyChanges(spark, d,
        changes(("upsert", 5L, "document five rewritten with other long words"),
          ("delete", 6L, null)), "op", "doc_id", "text", Some((app, e)))))

  /** CURRENT plus every manifest file's bytes. */
  private def snapshot(dir: String): (String, Map[String, Seq[Byte]]) = {
    val mdir = Path.of(dir, "manifest")
    val files = Files.list(mdir).toArray.map(_.asInstanceOf[Path]).toSeq
    (Files.readString(Path.of(dir, "CURRENT")).trim,
      files.map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap)
  }

  test("14 txn-capable verbs: one commit per (appId, epoch); retries leave the manifest bytes") {
    assert(verbs.size == 14)
    verbs.foreach { case (name, build, verb) =>
      val dir = Files.createTempDirectory("exactlyonce").toString
      build(dir)
      verb(dir, "stream", 5L)
      val first = snapshot(dir)
      assert(first._1 == "2", s"$name: the first delivery must commit version 2")
      assert(new String(first._2("v2.txt").toArray, "UTF-8").contains("txns2=stream:5\n"),
        s"$name: the commit must record the epoch in the ledger")
      verb(dir, "stream", 5L)
      assert(snapshot(dir) == first, s"$name: a re-delivered epoch must not commit")
      verb(dir, "stream", 4L)
      assert(snapshot(dir) == first, s"$name: a lower epoch must not commit")
    }
  }
}
