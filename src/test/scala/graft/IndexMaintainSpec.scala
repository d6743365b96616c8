package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25}
import graft.streaming.IndexMaintain

/** Streaming index maintenance ([[IndexMaintain]]): drop-dir arrivals
  * fold into the standing indexes one committed tick per micro-batch,
  * and the manifest's writer-transaction record makes re-delivered
  * epochs no-ops — the exactly-once contract under foreachBatch's
  * at-least-once delivery. No processing-time semantics, so
  * [[StreamSync.drain]] is a deterministic wait.
  */
class IndexMaintainSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val initial = Seq(
    (1L, "apple banana cherry date"),
    (2L, "banana cherry date elderberry fig"),
    (3L, "apple grape melon"))
  private val drops = Seq(
    Seq((10L, "banana grape kiwi kiwi")),
    Seq((11L, "melon date apple apple apple"), (12L, "kiwi fig banana")))

  test("bm25: re-delivered epoch is a no-op; crashed-tick retry applies once") {
    val dir = Files.createTempDirectory("bm25txn").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    val batch = drops.head.toDF("doc_id", "text")

    Bm25.appendToIndexTxn(spark, dir, batch, "doc_id", "text", "appA", 0L)
    val after1 = Bm25.readManifest(spark, dir)
    assert(after1.txns.get("appA").contains(0L))
    // the at-least-once retry: same app, same epoch → nothing moves
    Bm25.appendToIndexTxn(spark, dir, batch, "doc_id", "text", "appA", 0L)
    assert(Bm25.readManifest(spark, dir) == after1,
      "re-delivered epoch must be a no-op")
    // a different app is NOT gated (independent writers are the
    // caller's single-writer discipline, not the txn's concern)
    val stats1 = Bm25.readStats(spark, dir).select("n").head().getLong(0)

    // crashed tick: txn carried but never committed → retry applies
    val batch2 = drops(1).toDF("doc_id", "text")
    Bm25.appendToIndexHooked(spark, dir, batch2, "doc_id", "text",
      crashPoint = 1, txn = Some(("appA", 1L)))
    assert(Bm25.readManifest(spark, dir) == after1, "crashed tick must not commit")
    Bm25.appendToIndexTxn(spark, dir, batch2, "doc_id", "text", "appA", 1L)
    val after2 = Bm25.readManifest(spark, dir)
    assert(after2.txns.get("appA").contains(1L) && after2.version == after1.version + 1)
    assert(Bm25.readStats(spark, dir).select("n").head().getLong(0) ==
      stats1 + batch2.count())
  }

  test("bm25: drop-dir maintenance stream == one-shot rebuild over the totality") {
    val dir = Files.createTempDirectory("bm25maint").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)

    val dropDir = Files.createTempDirectory("bm25maintdrop").toString
    drops.foreach(_.toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dropDir)
    val ckpt = Files.createTempDirectory("bm25maintckpt").toString
    val qy = IndexMaintain.maintainBm25(stream, dir, "doc_id", "text",
      appId = "bm25-maint-spec", checkpoint = ckpt)
    try {
      assert(StreamSync.drain(qy) {
        Bm25.readManifest(spark, dir).txns.values.exists(_ >= 1L)
      })
    } finally qy.stop()

    val dirU = Files.createTempDirectory("bm25maintU").toString
    Bm25.buildIndex((initial ++ drops.flatten).toDF("doc_id", "text"),
      "doc_id", "text", dirU)
    val q = Seq((1L, "kiwi"), (1L, "banana"), (2L, "apple")).toDF("qid", "term")
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq ==
      Bm25.serveTopK(spark, dirU, q, 5).collect().map(_.toSeq).toSeq)
    assert(Bm25.readStats(spark, dir).select("n", "sdl").head().toSeq ==
      Bm25.readStats(spark, dirU).select("n", "sdl").head().toSeq)
    // each drop file committed as its own recorded epoch
    assert(Bm25.readManifest(spark, dir).txns.get("bm25-maint-spec").contains(1L))
  }

  test("bm25: maintenance stream RESTART from its checkpoint continues epochs exactly once") {
    val dir = Files.createTempDirectory("bm25restart").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    val dropDir = Files.createTempDirectory("bm25restartdrop").toString
    val ckpt = Files.createTempDirectory("bm25restartckpt").toString
    def startStream() = IndexMaintain.maintainBm25(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      dir, "doc_id", "text", appId = "bm25-restart-spec", checkpoint = ckpt)

    // first life: one drop file, epoch 0 committed
    drops.head.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dropDir)
    val q1 = startStream()
    try assert(StreamSync.drain(q1) {
      Bm25.readManifest(spark, dir).txns.get("bm25-restart-spec").contains(0L)
    }) finally q1.stop()
    val afterFirst = Bm25.readManifest(spark, dir)

    // second life, SAME checkpoint + appId: the engine resumes the
    // batchId sequence; the already-committed epoch is never re-applied
    // (txn gate) and the new drop lands as the next epoch
    drops(1).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dropDir)
    val q2 = startStream()
    try assert(StreamSync.drain(q2) {
      Bm25.readManifest(spark, dir).txns.get("bm25-restart-spec").exists(_ >= 1L)
    }) finally q2.stop()
    val afterSecond = Bm25.readManifest(spark, dir)
    assert(afterSecond.version == afterFirst.version + 1,
      "exactly one more committed tick after the restart")

    // the maintained index equals the one-shot rebuild over everything
    val dirU = Files.createTempDirectory("bm25restartU").toString
    Bm25.buildIndex((initial ++ drops.flatten).toDF("doc_id", "text"),
      "doc_id", "text", dirU)
    val q = Seq((1L, "kiwi"), (1L, "banana"), (2L, "apple")).toDF("qid", "term")
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq ==
      Bm25.serveTopK(spark, dirU, q, 5).collect().map(_.toSeq).toSeq)
    assert(Bm25.readStats(spark, dir).select("n", "sdl").head().toSeq ==
      Bm25.readStats(spark, dirU).select("n", "sdl").head().toSeq)
  }

  private def vec(seed: Int) = Seq.tabulate(8)(j =>
    (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)

  test("ivf: maintenance stream appends exactly once; serve == one-shot union build") {
    val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
    val base = (100 until 130).map(i => (i.toLong, vec(i)))
    val vdrops = Seq(
      (10 until 20).map(i => (i.toLong, vec(i))),
      (20 until 35).map(i => (i.toLong, vec(i))))

    val dir = Files.createTempDirectory("ivfmaint").toString
    Ann.ivfIndexBuild(base.toDF("cid", "cvec"), dir, cents)
    // unit-level idempotence first
    Ann.ivfIndexAppendTxn(spark, dir, vdrops.head.toDF("cid", "cvec"), "appV", 0L)
    val m1 = Ann.readIvfManifest(spark, dir)
    Ann.ivfIndexAppendTxn(spark, dir, vdrops.head.toDF("cid", "cvec"), "appV", 0L)
    assert(Ann.readIvfManifest(spark, dir) == m1,
      "re-delivered vector epoch must be a no-op")

    // stream the second drop through the maintenance sink
    val dropDir = Files.createTempDirectory("ivfmaintdrop").toString
    vdrops(1).toDF("cid", "cvec").coalesce(1).write.mode("append").parquet(dropDir)
    val stream = spark.readStream.schema("cid LONG, cvec ARRAY<FLOAT>")
      .parquet(dropDir)
    val ckpt = Files.createTempDirectory("ivfmaintckpt").toString
    val qy = IndexMaintain.maintainIvf(stream, dir, "ivf-maint-spec", ckpt)
    try {
      assert(StreamSync.drain(qy) {
        Ann.readIvfManifest(spark, dir).txns.contains("ivf-maint-spec")
      })
    } finally qy.stop()

    val dirU = Files.createTempDirectory("ivfmaintU").toString
    Ann.ivfIndexBuild((base ++ vdrops.flatten).toDF("cid", "cvec"), dirU, cents)
    val q = (0 until 4).map(i => (i.toLong, vec(i + 500))).toDF("qid", "qvec")
    def serve(d: String) = Ann.ivfServedTopK(spark, d, q, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    assert(serve(dir) == serve(dirU) && serve(dir).nonEmpty)
  }

  private def dataVersions(dir: String): Set[Long] = {
    val root = new java.io.File(s"$dir/data")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName.toLong).toSet
  }

  test("bm25: auto-vacuum keeps a 10-epoch maintenance stream's history bounded, serving intact") {
    val grace = 1L
    val dir = Files.createTempDirectory("bm25autovac").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    val tenDrops = (0 until 10).map(i =>
      Seq((100L + i, s"plum pear quince word$i word$i")))
    val dropDir = Files.createTempDirectory("bm25autovacdrop").toString
    tenDrops.foreach(_.toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val ckpt = Files.createTempDirectory("bm25autovacckpt").toString
    val qy = IndexMaintain.maintainBm25(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      dir, "doc_id", "text", appId = "bm25-autovac-spec", checkpoint = ckpt,
      vacuumEvery = 3, graceVersions = grace)
    try assert(StreamSync.drain(qy) {
      Bm25.readManifest(spark, dir).txns.get("bm25-autovac-spec").exists(_ >= 9L)
    }) finally qy.stop()

    // every tick superseded bucket files; without the cadence all 11
    // data versions would sit on disk. What remains must be referenced
    // or inside the last vacuum's grace window.
    // a version can become unreferenced BETWEEN cadence fires (the
    // last epoch's tick rewrites a dbucket the last vacuum still saw
    // referenced) — that residue is the NEXT vacuum's food, so bound
    // the history as of one trailing tick, exactly what the next
    // cadence fire would run
    Bm25.vacuumIndex(spark, dir, grace)
    val m = Bm25.readManifest(spark, dir)
    // the keep-set includes every IN-WINDOW manifest's references (the
    // vacuum's pinned-reader/time-travel contract), not just CURRENT's
    val window = graft.operators.ManifestIO.history(spark, dir)
      .collect { case (v, true, false) if v > m.version - 1 - grace => v }
      .map(v => Bm25.readManifestVersion(spark, dir, v))
    val all = m +: window
    val referenced = all.flatMap(x => x.bucketVersions.values.flatten.toSet ++
      x.docVersions.values.flatten.toSet + x.statsVersion).toSet + m.version
    val onDisk = dataVersions(dir)
    assert(referenced.subsetOf(onDisk), "vacuum must never touch referenced versions")
    // epochs 0..9 + build = versions 1..11; anything older than the
    // cutoff survives only by being referenced (docmap dbuckets
    // included — their rows are live reverse-index data for docs later
    // batches' dbuckets never rewrote)
    assert(onDisk.forall(v => referenced(v) || v > m.version - 1 - grace),
      s"unbounded history: $onDisk vs referenced $referenced (current ${m.version})")
    // and the MASS is bounded by the artifact pass: postings subtrees
    // exist only for versions a term bucket (or stats) still references
    // or inside the vacuum window
    val postRefs = all.flatMap(x =>
      x.bucketVersions.values.flatten.toSet + x.statsVersion).toSet
    onDisk.foreach { v =>
      if (!postRefs(v) && v <= m.version - 1 - grace)
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/data/$v/postings")),
          s"superseded postings of v$v must not outlive the vacuum")
    }

    // serving is bit-identical to the one-shot rebuild over everything
    val dirU = Files.createTempDirectory("bm25autovacU").toString
    Bm25.buildIndex((initial ++ tenDrops.flatten).toDF("doc_id", "text"),
      "doc_id", "text", dirU)
    val q = Seq((1L, "plum"), (1L, "banana"), (2L, "word7")).toDF("qid", "term")
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq ==
      Bm25.serveTopK(spark, dirU, q, 5).collect().map(_.toSeq).toSeq)
  }

  test("bm25: the maintenance cadence compacts, bounding every bucket's version list; serving == rebuild") {
    val k = 3
    def maxVersions(d: String): Int = {
      val m = Bm25.readManifest(spark, d)
      (m.bucketVersions.values ++ m.docVersions.values).map(_.size).max
    }
    val dir = Files.createTempDirectory("bm25compactcad").toString
    val plain = Files.createTempDirectory("bm25compactoff").toString
    Seq(dir, plain).foreach(d =>
      Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", d))
    val sink = IndexMaintain.bm25Sink(dir, "doc_id", "text", "bm25-compact-spec",
      vacuumEvery = k)
    val noCadence = IndexMaintain.bm25Sink(plain, "doc_id", "text", "bm25-compact-off")
    // the same words every epoch: the same buckets accrete each tick
    val batches = (0 until 7).map(i => Seq((200L + i, s"plum pear quince word$i")))
    for ((b, epoch) <- batches.zipWithIndex) {
      val batch = b.toDF("doc_id", "text")
      sink(batch, epoch.toLong)
      noCadence(batch, epoch.toLong)
      assert(maxVersions(dir) <= k, s"epoch $epoch: a bucket lists more than $k versions")
      if (epoch == 2 * k - 1) {
        // re-delivery of a cadence epoch: the append no-ops through the
        // ledger and the compaction finds nothing left to rewrite
        val before = Bm25.readManifest(spark, dir)
        sink(batch, epoch.toLong)
        assert(Bm25.readManifest(spark, dir) == before, "re-delivered epoch must be a no-op")
      }
    }
    // the default keeps accreting: the bound above is the cadence's doing
    assert(maxVersions(plain) > k)

    val dirU = Files.createTempDirectory("bm25compactU").toString
    Bm25.buildIndex((initial ++ batches.flatten).toDF("doc_id", "text"),
      "doc_id", "text", dirU)
    val q = Seq((1L, "plum"), (1L, "banana"), (2L, "word5"), (3L, "apple quince"))
      .toDF("qid", "term")
    for (d <- Seq(dir, plain))
      assert(Bm25.serveTopK(spark, d, q, 5).collect().map(_.toSeq).toSeq ==
        Bm25.serveTopK(spark, dirU, q, 5).collect().map(_.toSeq).toSeq)
  }

  test("ivf: auto-vacuum retires a replaced rebuild's history under streaming ingest") {
    val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
    val dir = Files.createTempDirectory("ivfautovac").toString
    Ann.ivfIndexBuild((100 until 120).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    // a rebuild leaves v1 as unreferenced history
    Ann.ivfIndexBuild((100 until 125).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    assert(dataVersions(dir).contains(1L))
    val dropDir = Files.createTempDirectory("ivfautovacdrop").toString
    (0 until 3).foreach(i => Seq((10L + i, vec(10 + i))).toDF("cid", "cvec")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val ckpt = Files.createTempDirectory("ivfautovacckpt").toString
    val qy = IndexMaintain.maintainIvf(
      spark.readStream.schema("cid LONG, cvec ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      dir, "ivf-autovac-spec", ckpt, vacuumEvery = 1, graceVersions = 0L)
    try assert(StreamSync.drain(qy) {
      Ann.readIvfManifest(spark, dir).txns.get("ivf-autovac-spec").exists(_ >= 2L)
    }) finally qy.stop()
    val m = Ann.readIvfManifest(spark, dir)
    val referenced = m.cellVersions.values.flatten.toSet + m.centroidsVersion + m.version
    assert(!dataVersions(dir).contains(1L), "replaced rebuild history must be vacuumed")
    assert(dataVersions(dir) == referenced,
      s"grace 0 leaves exactly the referenced versions: ${dataVersions(dir)} vs $referenced")
    // the maintained index serves like the one-shot union build
    val dirU = Files.createTempDirectory("ivfautovacU").toString
    Ann.ivfIndexBuild(((100 until 125) ++ (10 until 13)).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dirU, cents)
    val q = (0 until 4).map(i => (i.toLong, vec(i + 500))).toDF("qid", "qvec")
    def serve(d: String) = Ann.ivfServedTopK(spark, d, q, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    assert(serve(dir) == serve(dirU) && serve(dir).nonEmpty)
  }

  test("monitoring cadence without an alarm dir fails fast at sink construction") {
    intercept[IllegalArgumentException] {
      IndexMaintain.ivfSink("/tmp/nowhere", "app", driftEvery = 1)
    }
    intercept[IllegalArgumentException] {
      IndexMaintain.bm25Sink("/tmp/nowhere", "doc_id", "text", "app",
        profileEvery = 2)
    }
    // the third family too (round-16 ADVICE low: without the guard the
    // verdict silently wrote to a relative path literally named "null")
    intercept[IllegalArgumentException] {
      IndexMaintain.minhashSink("/tmp/nowhere", "doc_id", "text", 0.5,
        "app", "/tmp/nowhere-dec", driftEvery = 1)
    }
  }

  test("monitoring cadence: maintenance streams emit the drift/profile alarms per epoch dir") {
    val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
    val dir = Files.createTempDirectory("ivfalarm").toString
    Ann.ivfIndexBuild((100 until 120).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    val dropDir = Files.createTempDirectory("ivfalarmdrop").toString
    (0 until 2).foreach(i => Seq((10L + i, vec(10 + i))).toDF("cid", "cvec")
      .coalesce(1).write.mode("append").parquet(dropDir))
    val alarmDir = Files.createTempDirectory("ivfalarmout").toString
    val ckpt = Files.createTempDirectory("ivfalarmckpt").toString
    val qy = IndexMaintain.maintainIvf(
      spark.readStream.schema("cid LONG, cvec ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      dir, "ivf-alarm-spec", ckpt, driftEvery = 1, alarmDir = alarmDir)
    try assert(StreamSync.drain(qy) {
      new java.io.File(s"$alarmDir/epoch=1/_SUCCESS").exists()
    }) finally qy.stop()
    // the last alarm is the drift VERDICT of the index as of that
    // epoch — one row a monitoring job tails for rebuild_due — which,
    // with no writer since, equals the verdict computed now
    val lastAlarm = spark.read.parquet(s"$alarmDir/epoch=1")
      .collect().map(_.toSeq).toSeq
    val nowVerdict = Ann.ivfDriftVerdict(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(lastAlarm == nowVerdict && lastAlarm.size == 1,
      "ONE verdict row: trained reference vs latest appended epoch")
    assert(spark.read.parquet(s"$alarmDir/epoch=1").columns.contains("rebuild_due"))
    // (the flip-at-threshold behavior is pinned with controlled
    // geometry in IvfDriftSpec — this fixture's single-vector epochs
    // make the boolean's value noise)
    // the per-version time series stays available for the deep dive
    assert(Ann.ivfGeometryDrift(spark, dir).count() == 3L,
      "one row per contributing version: build + two appended epochs")

    // BM25 sibling: profile alarms on the same cadence machinery
    val bdir = Files.createTempDirectory("bm25alarm").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", bdir)
    val bdrop = Files.createTempDirectory("bm25alarmdrop").toString
    drops.head.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(bdrop)
    val balarm = Files.createTempDirectory("bm25alarmout").toString
    val bckpt = Files.createTempDirectory("bm25alarmckpt").toString
    val qb = IndexMaintain.maintainBm25(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(bdrop),
      bdir, "doc_id", "text", "bm25-alarm-spec", bckpt,
      profileEvery = 1, alarmDir = balarm)
    try assert(StreamSync.drain(qb) {
      new java.io.File(s"$balarm/epoch=0/_SUCCESS").exists()
    }) finally qb.stop()
    assert(spark.read.parquet(s"$balarm/epoch=0").collect().map(_.toSeq).toSeq ==
      Bm25.indexProfile(spark, bdir).collect().map(_.toSeq).toSeq)
  }

  test("bm25: a manual txn-free tick cannot erase the stream's exactly-once record") {
    val dir = Files.createTempDirectory("bm25ledger").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    // maintenance stream commits epoch 7
    val epoch7 = drops.head.toDF("doc_id", "text")
    Bm25.appendToIndexTxn(spark, dir, epoch7, "doc_id", "text", "streamA", 7L)
    // an operator interleaves a MANUAL tick (txn = None) — legal under
    // the single-writer discipline (writers are sequential, not
    // single-purpose); before the ledger this erased streamA's record
    Bm25.appendToIndex(spark, dir,
      Seq((40L, "papaya papaya")).toDF("doc_id", "text"), "doc_id", "text")
    val m = Bm25.readManifest(spark, dir)
    assert(m.txns.get("streamA").contains(7L),
      "the manual tick must carry the ledger forward")
    // stream crashed post-sink pre-commit: epoch 7 re-delivered → no-op
    val before = Bm25.readManifest(spark, dir)
    Bm25.appendToIndexTxn(spark, dir, epoch7, "doc_id", "text", "streamA", 7L)
    assert(Bm25.readManifest(spark, dir) == before,
      "re-delivered epoch must no-op across an interleaved manual tick")
    // two independent streams keep independent ledger entries
    Bm25.appendToIndexTxn(spark, dir, drops(1).toDF("doc_id", "text"),
      "doc_id", "text", "streamB", 2L)
    val m2 = Bm25.readManifest(spark, dir)
    assert(m2.txns.get("streamA").contains(7L) && m2.txns.get("streamB").contains(2L))
    // and a REBUILD over the union corpus keeps the whole ledger: a
    // late re-delivery of any committed epoch still no-ops
    Bm25.buildIndex((initial ++ drops.flatten :+ ((40L, "papaya papaya")))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    val m3 = Bm25.readManifest(spark, dir)
    assert(m3.txns == m2.txns, "rebuild must carry the txn ledger forward")
    val afterRebuild = Bm25.readManifest(spark, dir)
    Bm25.appendToIndexTxn(spark, dir, epoch7, "doc_id", "text", "streamA", 7L)
    assert(Bm25.readManifest(spark, dir) == afterRebuild)
  }

  test("ivf: a manual txn-free tick cannot erase the stream's exactly-once record") {
    val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
    val dir = Files.createTempDirectory("ivfledger").toString
    Ann.ivfIndexBuild((100 until 120).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    val epoch3 = (10 until 15).map(i => (i.toLong, vec(i))).toDF("cid", "cvec")
    Ann.ivfIndexAppendTxn(spark, dir, epoch3, "streamV", 3L)
    // interleaved manual tick (txn = None)
    Ann.ivfIndexAppend(spark, dir,
      Seq((50L, vec(50))).toDF("cid", "cvec"))
    assert(Ann.readIvfManifest(spark, dir).txns.get("streamV").contains(3L),
      "the manual tick must carry the ledger forward")
    val before = Ann.readIvfManifest(spark, dir)
    Ann.ivfIndexAppendTxn(spark, dir, epoch3, "streamV", 3L)
    assert(Ann.readIvfManifest(spark, dir) == before,
      "re-delivered epoch must no-op across an interleaved manual tick")
  }
}
