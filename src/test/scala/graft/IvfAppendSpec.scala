package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** Committed IVF index lifecycle ([[Ann.ivfIndexBuild]] /
  * [[Ann.ivfIndexAppend]] / [[Ann.ivfServedTopK]]): append parity with
  * a one-shot union build, crash-atomicity of the versioned manifest
  * commit (mirroring Bm25AppendSpec), rebuild-over-live isolation, and
  * the serve path's literal cell pruning.
  */
class IvfAppendSpec extends AnyFunSuite {

  private val dim = 8
  private def vec(seed: Int) = Seq.tabulate(dim)(j =>
    (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
  private val initial = (100 until 160).map(i => (i.toLong, vec(i)))
  private val appended = (10 until 40).map(i => (i.toLong, vec(i)))
  private val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)

  private def queries(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    (0 until 5).map(i => (i.toLong, vec(i + 500))).toDF("qid", "qvec")
  }

  test("build+append == build-over-union, cell by cell and serve by serve") {
    val spark = SparkTest.spark
    import spark.implicits._

    val dirA = Files.createTempDirectory("ivfappA").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dirA, cents)
    Ann.ivfIndexAppend(spark, dirA, appended.toDF("cid", "cvec"))

    val dirB = Files.createTempDirectory("ivfappB").toString
    Ann.ivfIndexBuild((initial ++ appended).toDF("cid", "cvec"), dirB, cents)

    def cells(dir: String) = Ann.readIvfCells(spark, dir)
      .select(col("cid"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(dirA) == cells(dirB) && cells(dirA).size == 90)
    // the committed centroid artifact round-trips the trained floats
    assert(Ann.readIvfCentroids(spark, dirA).map(_.toSeq).toSeq ==
      cents.map(_.toSeq).toSeq)

    def serve(dir: String) = Ann.ivfServedTopK(spark, dir,
        queries(spark), k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val served = serve(dirA)
    assert(served == serve(dirB) && served.nonEmpty)
    // the appended batch is actually retrievable: some appended id
    // surfaces (topK's schema is qid, rank, cid, cosine)
    assert(served.exists(r => { val id = r(2).asInstanceOf[Long]; id >= 10L && id < 40L }))
  }

  test("writer death between data write and commit: readers stay on the old index, retry completes") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfcrash").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dir, cents)
    def serveNow() = Ann.ivfServedTopK(spark, dir, queries(spark), k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val beforeServe = serveNow()
    val beforeManifest = Ann.readIvfManifest(spark, dir)

    for (crashPoint <- Seq(1, 2)) {
      Ann.ivfAppendTick(spark, dir, appended.toDF("cid", "cvec"), crashPoint = crashPoint)
      assert(Ann.readIvfManifest(spark, dir) == beforeManifest,
        s"crashPoint=$crashPoint moved the committed manifest")
      assert(serveNow() == beforeServe,
        s"crashPoint=$crashPoint changed serving")
    }

    // the RETRY commits; serving equals the one-shot union build
    Ann.ivfIndexAppend(spark, dir, appended.toDF("cid", "cvec"))
    val dirU = Files.createTempDirectory("ivfcrashU").toString
    Ann.ivfIndexBuild((initial ++ appended).toDF("cid", "cvec"), dirU, cents)
    assert(serveNow() == Ann.ivfServedTopK(spark, dirU, queries(spark), k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq)
  }

  test("empty append batch is a clean no-op; rebuild over live allocates next version, v1 untouched") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfreb").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dir, cents)
    val m1 = Ann.readIvfManifest(spark, dir)
    assert(m1.version == 1L && m1.centroidsVersion == 1L)

    Ann.ivfIndexAppend(spark, dir,
      Seq.empty[(Long, Seq[Float])].toDF("cid", "cvec"))
    assert(Ann.readIvfManifest(spark, dir) == m1, "empty append must be a no-op")

    def v1Files: Map[String, Long] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/data/1"))
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
    val before = v1Files
    // rebuild with different corpus AND geometry into the live dir
    val cents2 = Array.tabulate(3)(c => vec(c * 11 + 5).toArray)
    Ann.ivfIndexBuild((initial ++ appended).toDF("cid", "cvec"), dir, cents2)
    val m2 = Ann.readIvfManifest(spark, dir)
    assert(m2.version == 2L && m2.centroidsVersion == 2L && m2.cells == 3)
    assert(m2.cellVersions.values.forall(_ == Seq(2L)),
      "a rebuild must re-own every cell in the new version")
    assert(v1Files == before, "rebuild touched committed version-1 files")
    assert(Ann.readIvfCentroids(spark, dir).map(_.toSeq).toSeq ==
      cents2.map(_.toSeq).toSeq)
  }

  test("admission tick: near-dups rejected, novel admitted, replay refused, index == build-over-admitted") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfadmit").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dir, cents)

    def jitter(v: Seq[Float], eps: Float) = v.updated(0, v.head + eps)
    // the vec() family repeats mod 13, so "novel" vectors must come
    // from OUTSIDE it: near-basis vectors are ≥ 0.08 away in cosine
    // from every grid-patterned committed vector (7 nonzero components
    // of magnitude ≥ 1/3 bound the alignment)
    def basis(axis: Int) = Seq.tabulate(dim)(j => if (j == axis) 1f else 0f)
    val batch = Seq(
      (500L, jitter(vec(100), 0.001f)), // near-dup of committed 100 → reject
      (501L, jitter(vec(110), 0.002f)), // near-dup of committed 110 → reject
      (502L, basis(0)), // novel → admit
      (503L, basis(3)), // novel → admit
      (120L, vec(120))) // REPLAYED committed cid → refuse, never re-append
    val adm = Ann.ivfIndexAdmit(spark, dir, batch.toDF("cid", "cvec"),
      threshold = 0.999, nprobe = 2)
    val verdicts = adm.decisions.collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(!verdicts(500L)._1 && verdicts(500L)._2 >= 1L, s"near-dup must be rejected: $verdicts")
    assert(!verdicts(501L)._1, s"near-dup must be rejected: $verdicts")
    assert(verdicts(502L)._1 && verdicts(502L)._2 == 0L, s"novel must be admitted: $verdicts")
    assert(verdicts(503L)._1, s"novel must be admitted: $verdicts")
    // replayed cid: admitted=false even though the same-cid guard keeps
    // its SELF match out (its exact-dup siblings in the vec() family may
    // still count as genuine near-dups — that is correct)
    assert(!verdicts(120L)._1, s"replayed cid must not be admitted: $verdicts")
    assert(adm.appended == 2L)

    // the updated index holds exactly initial ∪ admitted, once each
    val ids = Ann.readIvfCells(spark, dir).select("cid")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == (initial.map(_._1) ++ Seq(502L, 503L)).sorted)

    // txn idempotence composes: re-delivering the tick is a no-op (the
    // replay anti-join would also catch it — belt and suspenders)
    val m1 = Ann.readIvfManifest(spark, dir)
    Ann.ivfIndexAdmit(spark, dir,
      Seq((504L, basis(6))).toDF("cid", "cvec"),
      threshold = 0.999, nprobe = 2, txn = Some(("admit-spec", 7L)))
    val m2 = Ann.readIvfManifest(spark, dir)
    assert(m2.version == m1.version + 1 && m2.txns.get("admit-spec").contains(7L))
    Ann.ivfIndexAdmit(spark, dir,
      Seq((504L, basis(6))).toDF("cid", "cvec"),
      threshold = 0.999, nprobe = 2, txn = Some(("admit-spec", 7L)))
    assert(Ann.readIvfManifest(spark, dir) == m2,
      "re-delivered admission epoch must not append twice")
  }

  test("serve lists only probed cells' committed files") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfprune").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir, appended.toDF("cid", "cvec"))
    val q = queries(spark)
    val df = Ann.ivfServedTopK(spark, dir, q, k = 5, nprobe = 2)
    // recompute the probed cells the serve was allowed to read
    val served = Ann.readIvfCentroids(spark, dir)
    val allowed = q.collect().map(_.getSeq[Float](1).toArray)
      .flatMap(v => Ann.nearestCells(served, v, 2)).toSet
    val read = df.inputFiles.filter(_.contains("/cells/"))
      .map(f => f.split("cell=").last.split("/").head.toInt).toSet
    assert(read.nonEmpty && read.subsetOf(allowed),
      s"serve read cells $read beyond the probed $allowed")
  }

  test("centroid cache holds one live geometry per dir across rebuilds") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfcache").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dir, cents)
    Ann.ivfServedTopK(spark, dir, queries(spark), k = 3, nprobe = 2).count()
    val v1 = Ann.readIvfManifest(spark, dir).centroidsVersion
    assert(Ann.cachedCentroidVersions(dir) == Set(v1))
    // rebuild N times with fresh geometry: without eviction the JVM
    // would retain every superseded cells×dim copy forever
    (1 to 3).foreach { r =>
      val cents2 = Array.tabulate(4)(c => vec(c * 11 + r).toArray)
      Ann.ivfIndexBuild((initial ++ appended).toDF("cid", "cvec"), dir, cents2)
      Ann.ivfServedTopK(spark, dir, queries(spark), k = 3, nprobe = 2).count()
    }
    val vN = Ann.readIvfManifest(spark, dir).centroidsVersion
    assert(vN > v1 && Ann.cachedCentroidVersions(dir) == Set(vN),
      s"cache must hold only the latest version, saw ${Ann.cachedCentroidVersions(dir)}")
  }
}
