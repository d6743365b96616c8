package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** [[Ann.ivfGeometryDrift]]: the rebuild-alarm report is computable
  * from the COMMITTED ARTIFACTS ALONE — every file it reads lives
  * under the index dir (no source corpus, no retrain), and its
  * per-version (n, mean fixed-point cosine-to-assigned-centroid) rows
  * match a driver-side replay of the frozen-geometry assignment.
  */
class IvfDriftSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val dim = 8
  private def vec(seed: Int) = Seq.tabulate(dim)(j =>
    (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
  private val initial = (100 until 160).map(i => (i.toLong, vec(i)))
  private val appended = (10 until 40).map(i => (i.toLong, vec(i)))
  private val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)

  test("drift report reads only committed artifacts and replays frozen-geometry assignment") {
    val dir = Files.createTempDirectory("ivfdriftspec").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir, appended.toDF("cid", "cvec"))

    val report = Ann.ivfGeometryDrift(spark, dir)
    // artifacts-only: every input file lives under the index dir
    val files = report.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(dir)),
      s"drift must read only the index dir, saw ${files.filterNot(_.contains(dir)).toSeq}")

    // driver replay: version 1 = the build batch, 2 = the append
    def expect(batch: Seq[(Long, Seq[Float])]): (Long, Long, Long) = {
      val fps = batch.map { case (_, v) =>
        val a = v.toArray
        math.floor(Ann.cosineD(a,
          cents(Ann.nearestCell(cents, a))) * 1000000.0).toLong
      }
      val sum = fps.sum
      (batch.size.toLong, sum, sum / batch.size) // all non-negative here
    }
    val rows = report.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set(1L, 2L))
    assert(rows(1L) == expect(initial), s"build version drift row: ${rows(1L)}")
    assert(rows(2L) == expect(appended), s"appended version drift row: ${rows(2L)}")

    // a fully-deleted index has nothing to drift — empty, not a crash
    Ann.ivfIndexDelete(spark, dir, (initial ++ appended).toDF("cid", "cvec"))
    assert(Ann.ivfGeometryDrift(spark, dir).collect().isEmpty)
  }

  test("drift verdict: a drifted append flips rebuild_due at the configured threshold") {
    // controlled geometry: build mass sits EXACTLY on the centroids
    // (mean_cos_fp = 10^6), the appended mass at 45° between them
    // (cos = 1/√2 → mean ≈ 707106, a ~29% drop)
    val cents2 = Array(Array(1f, 0f), Array(0f, 1f))
    val onCent = (0 until 20).map(i =>
      (100L + i, if (i % 2 == 0) Seq(1f, 0f) else Seq(0f, 1f)))
    val drifted = (0 until 20).map(i => (200L + i, Seq(0.7071f, 0.7071f)))
    val dir = Files.createTempDirectory("ivfverdict").toString
    Ann.ivfIndexBuild(onCent.toDF("cid", "cvec"), dir, cents2)
    // a single-version index is its own reference: never due
    assert(!Ann.ivfDriftVerdict(spark, dir)
      .select("rebuild_due").head().getBoolean(0))
    Ann.ivfIndexAppend(spark, dir, drifted.toDF("cid", "cvec"))
    val v = Ann.ivfDriftVerdict(spark, dir, rebuildDropPct = 25).head()
    assert(v.getAs[Long]("ref_version") == 1L &&
      v.getAs[Long]("latest_version") == 2L)
    assert(v.getAs[Long]("ref_mean_cos_fp") == 1000000L)
    assert(v.getAs[Boolean]("rebuild_due"),
      "a ~29% drop must flip at the 25% threshold")
    assert(!Ann.ivfDriftVerdict(spark, dir, rebuildDropPct = 40)
      .head().getAs[Boolean]("rebuild_due"),
      "the same drop must NOT flip at a 40% threshold")

    // reference fallback: deleting the whole build batch consolidates
    // the trained version away — the oldest surviving version stands
    // in, and with ref == latest the verdict cannot fire
    Ann.ivfIndexDelete(spark, dir, onCent.toDF("cid", "cvec"))
    val fb = Ann.ivfDriftVerdict(spark, dir, rebuildDropPct = 25).head()
    assert(fb.getAs[Long]("ref_version") == fb.getAs[Long]("latest_version") &&
      !fb.getAs[Boolean]("rebuild_due"))
    // fully deleted: empty verdict, not a crash
    Ann.ivfIndexDeleteByIds(spark, dir,
      drifted.map(_._1).toDF("cid"))
    assert(Ann.ivfDriftVerdict(spark, dir).collect().isEmpty)
  }

  test("drift verdict rides the maintenance stream's alarm cadence") {
    import graft.streaming.IndexMaintain
    val cents2 = Array(Array(1f, 0f), Array(0f, 1f))
    val onCent = (0 until 20).map(i =>
      (100L + i, if (i % 2 == 0) Seq(1f, 0f) else Seq(0f, 1f)))
    val drifted = (0 until 20).map(i => (200L + i, Seq(0.7071f, 0.7071f)))
    val dir = Files.createTempDirectory("ivfverdictstream").toString
    Ann.ivfIndexBuild(onCent.toDF("cid", "cvec"), dir, cents2)
    val dropDir = Files.createTempDirectory("ivfverdictdrop").toString
    drifted.toDF("cid", "cvec").coalesce(1).write.mode("append").parquet(dropDir)
    val alarm = Files.createTempDirectory("ivfverdictalarm").toString
    val ckpt = Files.createTempDirectory("ivfverdictckpt").toString
    val qy = IndexMaintain.maintainIvf(
      spark.readStream.schema("cid LONG, cvec ARRAY<FLOAT>").parquet(dropDir),
      dir, "drift-verdict-spec", ckpt,
      driftEvery = 1, alarmDir = alarm, rebuildDropPct = 25)
    try assert(StreamSync.drain(qy) {
      new java.io.File(s"$alarm/epoch=0/_SUCCESS").exists()
    }) finally qy.stop()
    // the drifted-distribution append stream flips rebuild_due in the
    // alarm a monitoring job tails
    assert(spark.read.parquet(s"$alarm/epoch=0")
      .select("rebuild_due").head().getBoolean(0))
  }

  test("drift reads the cellstats sidecar, not the committed vectors (FS audit)") {
    // round 17 (the minhash-occupancy discipline applied to the IVF
    // alarm): ivfGeometryDrift / ivfDriftVerdict must derive from the
    // per-(version, cell) drift-stats deltas — cells-COUNT-sized — so
    // the driftEvery cadence never scans a committed vector.
    // FILESYSTEM-level: every cells partition of every version is
    // physically REMOVED and the answers are unchanged. A consolidation
    // first (deleteByIds) pins that partially superseded versions
    // report exactly their still-referenced mass.
    val dir = Files.createTempDirectory("ivfdriftIo").toString
    Ann.ivfIndexBuild(initial.toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir, appended.toDF("cid", "cvec"))
    Ann.ivfIndexDeleteByIds(spark, dir,
      Seq(100L, 12L).toDF("cid")) // consolidates two touched cells into v3
    val report = Ann.ivfGeometryDrift(spark, dir)
      .collect().map(_.toSeq).toSeq
    val verdict = Ann.ivfDriftVerdict(spark, dir, rebuildDropPct = 25)
      .collect().map(_.toSeq).toSeq
    assert(report.nonEmpty)
    val m = Ann.readIvfManifest(spark, dir)
    assert(graft.operators.ManifestIO.readCurrent(spark, dir, "IVF index")._2
      .linesIterator.contains("cellstats=1"), "new indexes must carry the drift-stats sidecar")
    val f = graft.operators.ManifestIO.fs(spark, dir)
    m.cellVersions.values.flatten.toSet[Long].foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$v/cells"), true)
    }
    assert(Ann.ivfGeometryDrift(spark, dir)
      .collect().map(_.toSeq).toSeq == report,
      "the drift report must come from the sidecar alone")
    assert(Ann.ivfDriftVerdict(spark, dir, rebuildDropPct = 25)
      .collect().map(_.toSeq).toSeq == verdict,
      "the drift verdict must come from the sidecar alone")
  }
}
