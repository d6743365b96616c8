package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bm25}

/** Index vacuum ([[Bm25.vacuumIndex]] / [[Ann.ivfVacuum]]): the
  * committed manifest's unreferenced data versions — superseded bucket
  * rewrites, crashed ticks, replaced rebuilds — are deleted; serving
  * is bit-identical before and after; the grace window and referenced
  * versions are never touched; a second vacuum is a no-op.
  */
class VacuumSpec extends AnyFunSuite {

  private def dataVersions(dir: String): Set[Long] = {
    val p = java.nio.file.Paths.get(s"$dir/data")
    val s = java.nio.file.Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(_.getFileName.toString.toLong).toSet
    finally s.close()
  }

  test("bm25: vacuum deletes superseded versions; serve unchanged; orphan slots recycle") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25vac").toString
    val docs = (0 until 30).map(i => (i.toLong, s"w${i % 9} common shared"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir)
    // an append ACCRETES (round-16 model): every touched bucket's list
    // gains v2 while v1 stays referenced — nothing is superseded yet
    val broad = Seq((100L, (0 until 9).map(i => s"w$i").mkString(" ") + " common shared"))
    Bm25.appendToIndex(spark, dir, broad.toDF("doc_id", "text"), "doc_id", "text")
    val m = Bm25.readManifest(spark, dir)
    assert(m.version == 2L &&
      m.bucketVersions.values.toSet == Set(Seq(1L, 2L)),
      "an append must accrete onto the touched buckets' version lists")
    val q = Seq((1L, "w0"), (1L, "w4"), (2L, "common")).toDF("qid", "term")
    val before = Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq
    // an accreted history's POSTINGS are fully referenced — the only
    // vacuum food is the superseded v1 stats row (the append rolled
    // stats forward to v2)
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L) == Seq(1L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/1/postings")),
      "accreted postings are referenced — vacuum must not touch them")
    // COMPACTION consolidates the fragmented buckets into v3 — NOW the
    // v1/v2 postings are superseded
    assert(Bm25.compactIndex(spark, dir).nonEmpty)
    val m3 = Bm25.readManifest(spark, dir)
    assert(m3.version == 3L && m3.bucketVersions.values.toSet == Set(Seq(3L)))
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq == before,
      "compaction is a pure physical rewrite")

    // full grace: nothing deletable
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 10L).isEmpty)
    // zero grace: the ARTIFACT pass reclaims the superseded postings
    // mass (v1 and v2) — and the receipt reports it — while the LIVE
    // docmap dbuckets (v1 rows for docs 0..29, v2 rows for the batch)
    // and the current stats (v2 — compaction carries statsVersion
    // forward) keep both version dirs alive
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L) == Seq(1L, 2L))
    assert(dataVersions(dir) == Set(1L, 2L, 3L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/1/postings")),
      "v1's superseded postings must reclaim even while its docmap lives")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/2/postings")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/1/stats")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/2/stats")),
      "the current stats row (v2, carried by compaction) is load-bearing")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/1/docmap")),
      "live docmap rows are data, not garbage")
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq == before,
      "vacuum must not change serving")
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L).isEmpty,
      "second vacuum must be a no-op")
    // the committed manifest file survives
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/manifest/v${m3.version}.txt")))
    // deleting the original docs consolidates their docmap rows out of
    // v1 — NOW the version is fully unreferenced and the whole dir goes
    Bm25.deleteFromIndex(spark, dir, docs.toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L).contains(1L))
    assert(!dataVersions(dir).contains(1L))

    // a crashed tick's orphan lives at current+1 — NEWER than current,
    // so vacuum's grace rule never touches it; the next successful
    // tick overwrites the same slot (orphans self-heal, they cannot
    // accumulate)
    val cur = Bm25.readManifest(spark, dir).version
    Bm25.appendTick(spark, dir,
      Seq((102L, "w4 orphan")).toDF("doc_id", "text"), "doc_id", "text",
      crashPoint = 1)
    assert(dataVersions(dir).contains(cur + 1))
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L).isEmpty,
      "an orphan newer than CURRENT must survive vacuum")
    Bm25.appendToIndex(spark, dir,
      Seq((103L, "w4 healed")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25.readManifest(spark, dir).version == cur + 1,
      "the next tick recycles the orphan's version slot")
    val served = Bm25.serveTopK(spark, dir, Seq((1L, "healed")).toDF("qid", "term"), 3)
      .collect()
    assert(served.map(_.getLong(1)).toSeq == Seq(103L))
  }

  test("graceMillis: in-window-by-TIME versions survive vacuum at graceVersions=0") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25vacT").toString
    val docs = (0 until 30).map(i => (i.toLong, s"w${i % 9} common shared"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir)
    // re-own every bucket so v1 is fully superseded, then remove the
    // original docs so even its docmap rows die — at graceVersions=0
    // with NO time floor v1's dir would vacuum away entirely
    val broad = Seq((100L, (0 until 9).map(i => s"w$i").mkString(" ") + " common shared"))
    Bm25.appendToIndex(spark, dir, broad.toDF("doc_id", "text"), "doc_id", "text")
    Bm25.deleteFromIndex(spark, dir, docs.toDF("doc_id", "text"), "doc_id", "text")
    // everything was JUST written: a one-hour time floor protects every
    // version no matter how many generations a hot stream burned —
    // the wall-clock-stable pinned-reader guarantee
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L,
      graceMillis = 3600L * 1000L).isEmpty,
      "versions inside the wall-clock window must survive a grace-0 vacuum")
    assert(dataVersions(dir) == Set(1L, 2L, 3L))
    // the old versions are still TIME-TRAVEL servable through the
    // window (windowManifests honors the time floor for the keep-set)
    val q = Seq((1L, "w0"), (2L, "common")).toDF("qid", "term")
    assert(Bm25.serveTopKVersion(spark, dir, 1L, q, 5).count() > 0)
    // age the superseded generations past the floor (manipulated
    // mtimes — the spec contract from the round-15 verdict): a
    // version's AGE is its COMMIT time (the manifest mtime), so aging
    // v1 alone would not reclaim it while fresh v2's manifest — still
    // inside the time window, hence still servable — references v1's
    // live docmap rows; once BOTH superseded manifests age out, the
    // keep-set collapses to CURRENT and the history reclaims
    val f = graft.operators.ManifestIO.fs(spark, dir)
    val old = System.currentTimeMillis() - 7200L * 1000L
    Seq(s"$dir/manifest/v1.txt", s"$dir/manifest/v2.txt",
      s"$dir/data/1", s"$dir/data/2").foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      if (f.exists(hp)) f.setTimes(hp, old, old)
    }
    val reclaimed = Bm25.vacuumIndex(spark, dir, graceVersions = 0L,
      graceMillis = 3600L * 1000L)
    assert(reclaimed.contains(1L), s"aged v1 must reclaim, got $reclaimed")
    assert(!dataVersions(dir).contains(1L))
    // the current version is untouchable at any age
    assert(dataVersions(dir).contains(3L))
  }

  test("bm25: a reader pinned before an append serves the OLD index; grace protects it from vacuum") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25pin").toString
    val docs = (0 until 20).map(i => (i.toLong, s"a${i % 6} base"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir)
    val q = Seq((1L, "a0"), (2L, "base")).toDF("qid", "term")

    // PIN a serve plan against the committed v1 manifest (explicit v1
    // file paths are baked into the plan), and take its answer now
    val pinned = Bm25.serveTopK(spark, dir, q, 5)
    val v1Answer = pinned.collect().map(_.toSeq).toSeq

    // a broad append accretes v2 onto every bucket; new readers see
    // the union (v1 ∪ v2 files), the pinned plan still only v1's
    val broad = Seq((100L, (0 until 6).map(i => s"a$i").mkString(" ") + " base"))
    Bm25.appendToIndex(spark, dir, broad.toDF("doc_id", "text"), "doc_id", "text")
    val v2Answer = Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq
    assert(v2Answer != v1Answer, "the append must actually change scoring")

    // the pinned reader re-executes against IMMUTABLE v1 files: it
    // serves the old index — never a mix — exactly the snapshot the
    // commit protocol promises
    assert(pinned.collect().map(_.toSeq).toSeq == v1Answer)

    // vacuum with grace keeps everything for that reader...
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 1L).isEmpty)
    assert(pinned.collect().map(_.toSeq).toSeq == v1Answer)
    // ...zero grace is the documented razor's first cut: the
    // superseded v1 STATS row goes (the append rolled stats to v2) —
    // the accreted postings, still referenced, stay put
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L) == Seq(1L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/1/postings")),
      "accreted postings are referenced — vacuum must not touch them")
    // compaction (v3) supersedes the accreted postings; the next
    // zero-grace vacuum reclaims their mass (the artifact pass,
    // reported in the receipt — the pinned plan's files vanish even
    // though live docmap rows keep the dirs), new serves unaffected
    assert(Bm25.compactIndex(spark, dir).nonEmpty)
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq == v2Answer)
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L) == Seq(1L, 2L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/1/postings")))
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq == v2Answer)
  }

  test("bm25: a rebuild's entire old history vacuums away once past grace") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25vacreb").toString
    val docs = (0 until 20).map(i => (i.toLong, s"a$i b${i % 3}"))
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir)
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir) // rebuild → v2
    assert(dataVersions(dir) == Set(1L, 2L))
    assert(Bm25.vacuumIndex(spark, dir, graceVersions = 0L) == Seq(1L))
    assert(dataVersions(dir) == Set(2L))
    val q = Seq((1L, "b0")).toDF("qid", "term")
    assert(Bm25.serveTopK(spark, dir, q, 3).collect().nonEmpty)
  }

  test("ivf: append-only history is fully referenced; rebuild retires it; serve unchanged") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dim = 8
    def vec(seed: Int) = Seq.tabulate(dim)(j =>
      (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
    val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
    val dir = Files.createTempDirectory("ivfvac").toString
    Ann.ivfIndexBuild((100 until 130).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    Ann.ivfIndexAppend(spark, dir,
      (10 until 20).map(i => (i.toLong, vec(i))).toDF("cid", "cvec"))
    // pure appends supersede NO CELLS: both versions' member files stay;
    // only reverse-map cbuckets the append re-owned may retire through
    // the artifact pass
    assert(Ann.ivfVacuum(spark, dir, graceVersions = 0L).forall(_ == 1L))
    assert(dataVersions(dir) == Set(1L, 2L))
    assert(new java.io.File(s"$dir/data/1/cells").exists &&
      new java.io.File(s"$dir/data/2/cells").exists,
      "append-only cell history is fully referenced")

    // a rebuild retires the whole append history
    Ann.ivfIndexBuild((100 until 140).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    val q = (0 until 3).map(i => (i.toLong, vec(i + 500))).toDF("qid", "qvec")
    val before = Ann.ivfServedTopK(spark, dir, q, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    assert(Ann.ivfVacuum(spark, dir, graceVersions = 0L) == Seq(1L, 2L))
    assert(dataVersions(dir) == Set(3L))
    assert(Ann.ivfServedTopK(spark, dir, q, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq == before)
  }

  test("ivf: the artifact pass reclaims superseded cidmap cbuckets while the cells stay live") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dim = 8
    def vec(seed: Int) = Seq.tabulate(dim)(j =>
      (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
    val cents = Array.tabulate(4)(c => vec(c * 7 + 1).toArray)
    val dir = Files.createTempDirectory("ivfartvac").toString
    Ann.ivfIndexBuild((100 until 140).map(i => (i.toLong, vec(i)))
      .toDF("cid", "cvec"), dir, cents)
    // appends ACCRETE the cidmap (round 17), so a live-cells-dead-cidmap
    // version now arises from CONSOLIDATION: append two vectors whose
    // cids share ONE cbucket but land in DIFFERENT cells (found under
    // the index's own hash/assignment, precondition asserted), then
    // id-only-delete one of them — its cbucket (v2's ONLY cidmap
    // partition) consolidates into v3 while the other vector's cell
    // keeps v2's cells subtree live.
    val cand = graft.operators.Ann
      .assignCells((200L until 300L).map(i => (i, vec(i.toInt)))
        .toDF("cid", "cvec"), cents)
      .select(col("cid"), col("cell"),
        pmod(xxhash64(col("cid")), lit(4)).cast("int").as("cb"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val pair = cand.flatMap(a => cand.map(a -> _)).find { case (a, b) =>
      a._1 < b._1 && a._3 == b._3 && a._2 != b._2 }.map(p => (p._1._1, p._2._1))
    assert(pair.nonEmpty, "precondition: need two cids sharing a cbucket, different cells")
    val (keep, drop) = pair.get
    Ann.ivfIndexAppend(spark, dir,
      Seq((keep, vec(keep.toInt)), (drop, vec(drop.toInt))).toDF("cid", "cvec"))
    val m = Ann.readIvfManifest(spark, dir)
    assert(m.cidVersions.count { case (_, vs) => vs.contains(2L) } == 1,
      s"precondition: the append must accrete exactly one cbucket, got ${m.cidVersions}")
    Ann.ivfIndexDeleteByIds(spark, dir, Seq(drop).toDF("cid"))
    val m3 = Ann.readIvfManifest(spark, dir)
    assert(!m3.cidVersions.values.flatten.toSet.contains(2L),
      s"precondition: the consolidation must supersede v2's cidmap, got ${m3.cidVersions}")
    assert(m3.cellVersions.values.flatten.toSet.contains(2L),
      s"precondition: the kept vector's cell must keep v2's cells live")
    val q = (0 until 3).map(i => (i.toLong, vec(i + 500))).toDF("qid", "qvec")
    def serve() = Ann.ivfServedTopK(spark, dir, q, k = 5, nprobe = 2)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val before = serve()
    // v2's cells are live member data; v2's cidmap is fully superseded —
    // without the artifact pass one live version dir would pin the dead
    // reverse-map mass forever
    assert(Ann.ivfVacuum(spark, dir, graceVersions = 0L).contains(2L))
    assert(new java.io.File(s"$dir/data/2/cells").exists,
      "live member files must survive the artifact pass")
    assert(!new java.io.File(s"$dir/data/2/cidmap").exists,
      "the superseded reverse-map subtree must be reclaimed")
    assert(serve() == before)
    // the reverse map still locates: an id-only takedown off the
    // vacuumed index equals the rebuild over the remainder
    Ann.ivfIndexDeleteByIds(spark, dir, Seq(100L, keep).toDF("cid"))
    val dirU = Files.createTempDirectory("ivfartvacU").toString
    Ann.ivfIndexBuild((101 until 140)
      .map(i => (i.toLong, vec(i))).toDF("cid", "cvec"), dirU, cents)
    def cellsOf(d: String) = Ann.readIvfCells(spark, d)
      .select(col("cid"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellsOf(dir) == cellsOf(dirU))
  }

  test("minhash: the artifact pass reclaims superseded rows buckets while the band partitions stay live") {
    val spark = SparkTest.spark
    import spark.implicits._
    val (n, bands, rpb, buckets, bandBuckets, tau) = (3, 4, 2, 2, 16, 0.5)
    val dir = Files.createTempDirectory("mhartvac").toString
    graft.operators.MinhashIndex.build((0 until 10).map(i =>
        (i.toLong, s"document number $i about topic ${i % 4} with enough tokens"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, n, bands, rpb,
      buckets = buckets, bandBuckets = bandBuckets)
    // a live-bands-dead-rows version arises from CONSOLIDATION: admit
    // two docs whose sids share ONE rows bucket but whose band rows
    // reach a partition the other's do not (found under the index's
    // own hashes, precondition asserted), then id-delete one — its rows
    // bucket (v2's ONLY rows partition) consolidates into v3 while the
    // kept doc's band partitions keep v2's bands subtree live
    val texts = (300 until 340).map(i =>
      (i.toLong, s"arrival $i brings words q${i * 7} r${i * 13} s${i * 3} t${i}"))
    val sig = graft.operators.Dedup.minhashDocIndex(texts.toDF("doc_id", "text"),
        "doc_id", "text", n, bands, rpb)
      .select(col("sid"), posexplode(col("bhs")).as(Seq("band", "bucket")))
      .select(col("sid"), pmod(xxhash64(col("sid")), lit(buckets)).cast("int").as("b"),
        pmod(xxhash64(col("band"), col("bucket")), lit(bandBuckets)).cast("int").as("bb"))
      .collect().groupBy(_.getLong(0)).map { case (sid, rs) =>
        sid -> (rs.head.getInt(1), rs.map(_.getInt(2)).toSet) }
    val pair = sig.toSeq.sortBy(_._1).flatMap(a => sig.toSeq.sortBy(_._1).map(a -> _))
      .find { case (a, b) => a._1 != b._1 && a._2._1 == b._2._1 &&
        (b._2._2 -- a._2._2).nonEmpty }
      .map { case (a, b) => (a._1, b._1) }
    assert(pair.nonEmpty, "precondition: need two sids sharing a rows bucket, not all bands")
    val (drop, keep) = pair.get
    val textOf = texts.toMap
    val adm = graft.operators.MinhashIndex.admit(spark, dir,
      Seq((drop, textOf(drop)), (keep, textOf(keep))).toDF("doc_id", "text"),
      "doc_id", "text", tau)
    assert(adm.appended == 2L, "precondition: both arrivals must be admitted")
    graft.operators.MinhashIndex.deleteByIds(spark, dir, Seq(drop).toDF("sid"))
    val m3 = graft.operators.MinhashIndex.readManifest(spark, dir)
    assert(m3.version == 3L)
    assert(!m3.bucketVersions.values.flatten.toSet.contains(2L),
      s"precondition: the consolidation must supersede v2's rows, got ${m3.bucketVersions}")
    assert(m3.bandVersions.values.flatten.toSet.contains(2L),
      s"precondition: the kept doc's bands must keep v2's bands live, got ${m3.bandVersions}")
    def gate() = graft.operators.MinhashIndex.gate(spark, dir,
        Seq((900L, textOf(keep)), (901L, textOf(drop))).toDF("doc_id", "text"),
        "doc_id", "text", tau)
      .orderBy(col("da"), col("db")).collect().map(_.toSeq).toSeq
    val before = gate()
    assert(before.map(r => (r(0), r(1))) == Seq((900L, keep)),
      "precondition: the gate finds the kept doc and not the deleted one")
    // v2's bands are live gate data; v2's rows are fully superseded —
    // the artifact pass reclaims the dead subtree under a live version
    assert(graft.operators.MinhashIndex.vacuum(spark, dir, graceVersions = 0L).contains(2L))
    assert(new java.io.File(s"$dir/data/2/bands").exists,
      "live band files must survive the artifact pass")
    assert(!new java.io.File(s"$dir/data/2/rows").exists,
      "the superseded rows subtree must be reclaimed")
    assert(gate() == before)
  }
}
