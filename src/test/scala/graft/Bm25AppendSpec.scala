package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bm25

/** BM25 index append tick ([[Bm25.appendToIndex]]) — ACCRETIVE since
  * round 16: the tick writes only batch-derived rows and the touched
  * buckets' manifest entries grow a version list (df is a read-time
  * aggregate, so nothing stored goes stale). Pins: serve parity with a
  * one-shot rebuild, the bucket-granularity claim (a batch touching
  * one term bucket writes only that bucket into the new data
  * version), crash-atomicity of the versioned manifest commit, and
  * the build-time bucket-count parameter.
  */
class Bm25AppendSpec extends AnyFunSuite {

  private val initial = Seq(
    (1L, "apple banana cherry date"),
    (2L, "banana cherry date elderberry fig"),
    (3L, "apple grape melon"))
  private val batch = Seq(
    (10L, "banana grape kiwi kiwi"),
    (11L, "melon date apple apple apple"))

  test("build+append == build-over-union: postings rows and stats identical") {
    val spark = SparkTest.spark
    import spark.implicits._

    val dirA = Files.createTempDirectory("bm25appA").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dirA)
    Bm25.appendToIndex(spark, dirA, batch.toDF("doc_id", "text"), "doc_id", "text")

    val dirB = Files.createTempDirectory("bm25appB").toString
    Bm25.buildIndex((initial ++ batch).toDF("doc_id", "text"), "doc_id", "text", dirB)

    def postings(dir: String) = Bm25.readPostings(spark, dir)
      .select("t", "doc_id", "tf", "dl", "bucket")
      .collect().map(_.toSeq).toSet
    assert(postings(dirA) == postings(dirB) && postings(dirA).nonEmpty)
    // df is a read-time aggregate now — recompute it both ways too
    def dfOf(dir: String) = Bm25.readPostings(spark, dir)
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfOf(dirA) == dfOf(dirB))
    def stats(dir: String) = Bm25.readStats(spark, dir)
      .select("n", "sdl").head().toSeq
    assert(stats(dirA) == stats(dirB))

    // and serving from the appended index retrieves an appended doc
    val q = Seq((1L, "kiwi")).toDF("qid", "term")
    val served = Bm25.serveTopK(spark, dirA, q, 3).collect()
    assert(served.map(_.getLong(1)).contains(10L))
  }

  test("a single-term batch rewrites only that term's bucket") {
    val spark = SparkTest.spark
    import spark.implicits._
    val corpus = (0 until 40).map(i => (i.toLong, s"w$i common$i filler$i"))
    val dir = Files.createTempDirectory("bm25appC").toString
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val before = Bm25.readManifest(spark, dir)

    Bm25.appendToIndex(spark, dir,
      Seq((100L, "solo solo solo")).toDF("doc_id", "text"), "doc_id", "text")
    val after = Bm25.readManifest(spark, dir)

    val soloBucket = spark.range(1).select(
      pmod(xxhash64(lit("solo")), lit(before.buckets)).cast("int"))
      .head().getInt(0)
    // the new data version ACCRETES onto exactly the solo bucket's
    // list; every other bucket's list is untouched (and physically is
    // the version-1 files)
    assert(after.version == before.version + 1)
    val moved = after.bucketVersions.filter(_._2.contains(after.version)).keySet
    assert(moved == Set(soloBucket), s"only the solo bucket may move, got $moved")
    assert((after.bucketVersions - soloBucket) ==
      (before.bucketVersions - soloBucket))
    assert(after.bucketVersions(soloBucket) ==
      before.bucketVersions.getOrElse(soloBucket, Seq.empty) :+ after.version,
      "the touched bucket's version list must accrete, not rewrite")
    val v2Buckets = java.nio.file.Files
      .list(java.nio.file.Paths.get(s"$dir/data/${after.version}/postings"))
      .toArray.toSeq.map(_.toString).filter(_.contains("bucket="))
      .map(_.split("bucket=").last.toInt).toSet
    assert(v2Buckets == Set(soloBucket),
      s"new version dir may contain only the solo bucket, got $v2Buckets")
    // the appended term is served with correct df=1 scoring
    val served = Bm25.serveTopK(spark, dir,
      Seq((1L, "solo")).toDF("qid", "term"), 3).collect()
    assert(served.map(_.getLong(1)).toSeq == Seq(100L))
  }

  test("writer death between data write and commit: readers stay on the old index, retry completes") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25crash").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    val q = Seq((1L, "banana"), (1L, "kiwi"), (2L, "apple")).toDF("qid", "term")
    val beforeServe = Bm25.serveTopK(spark, dir, q, 5)
      .collect().map(_.toSeq).toSeq
    val beforeStats = Bm25.readStats(spark, dir).select("n", "sdl").head().toSeq

    // death AFTER the new data version is fully written, BEFORE the
    // manifest — the in-place tick's hazard window (new postings
    // visible with stale stats); here: absolutely nothing changes
    for (crashPoint <- Seq(1, 2)) {
      Bm25.appendTick(spark, dir, batch.toDF("doc_id", "text"),
        "doc_id", "text", crashPoint = crashPoint)
      assert(Bm25.readStats(spark, dir).select("n", "sdl").head().toSeq == beforeStats,
        s"crashPoint=$crashPoint leaked stats")
      assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq == beforeServe,
        s"crashPoint=$crashPoint changed serving")
    }

    // the RETRY of the tick commits; serving now equals a one-shot
    // rebuild over the union — never a mix of old and new
    Bm25.appendToIndex(spark, dir, batch.toDF("doc_id", "text"), "doc_id", "text")
    val dirU = Files.createTempDirectory("bm25crashU").toString
    Bm25.buildIndex((initial ++ batch).toDF("doc_id", "text"), "doc_id", "text", dirU)
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq ==
      Bm25.serveTopK(spark, dirU, q, 5).collect().map(_.toSeq).toSeq)
    assert(Bm25.readStats(spark, dir).select("n", "sdl").head().toSeq ==
      Bm25.readStats(spark, dirU).select("n", "sdl").head().toSeq)
  }

  test("rebuild over a live index allocates the next version; committed files untouched") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25rebuild").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(Bm25.readManifest(spark, dir).version == 1L)
    def v1Files: Map[String, Long] = {
      val base = java.nio.file.Paths.get(s"$dir/data/1")
      val s = java.nio.file.Files.walk(base)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
    val before = v1Files

    // rebuild with a DIFFERENT corpus into the same dir: the committed
    // version-1 files a concurrent reader may be mid-scan on must stay
    // byte-identical; the new index lands wholly in version 2
    Bm25.buildIndex((initial ++ batch).toDF("doc_id", "text"), "doc_id", "text", dir)
    val m = Bm25.readManifest(spark, dir)
    assert(m.version == 2L && m.statsVersion == 2L)
    assert(m.bucketVersions.values.toSet == Set(Seq(2L)),
      "a rebuild must re-own every bucket in the new version")
    assert(v1Files == before, "rebuild touched committed version-1 files")

    // and the rebuilt index serves exactly like a fresh build elsewhere
    val q = Seq((1L, "kiwi"), (2L, "apple")).toDF("qid", "term")
    val dirFresh = Files.createTempDirectory("bm25rebuildF").toString
    Bm25.buildIndex((initial ++ batch).toDF("doc_id", "text"), "doc_id", "text", dirFresh)
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq ==
      Bm25.serveTopK(spark, dirFresh, q, 5).collect().map(_.toSeq).toSeq)
  }

  test("nonempty zero-token batch rolls stats forward without rewriting postings") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25zerotok").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    val before = Bm25.readManifest(spark, dir)
    val zeroTok = Seq((50L, null: String), (51L, null: String))

    Bm25.appendToIndex(spark, dir, zeroTok.toDF("doc_id", "text"), "doc_id", "text")
    val after = Bm25.readManifest(spark, dir)
    assert(after.version == before.version + 1)
    assert(after.bucketVersions == before.bucketVersions,
      "zero-token docs must not move any bucket")
    assert(after.statsVersion == after.version)

    // append == rebuild parity holds on the stats row too
    val dirU = Files.createTempDirectory("bm25zerotokU").toString
    Bm25.buildIndex((initial ++ zeroTok).toDF("doc_id", "text"), "doc_id", "text", dirU)
    assert(Bm25.readStats(spark, dir).select("n", "sdl").head().toSeq ==
      Bm25.readStats(spark, dirU).select("n", "sdl").head().toSeq)
    // and serving (avgdl shifted by the new docs) matches the rebuild
    val q = Seq((1L, "banana"), (2L, "apple")).toDF("qid", "term")
    assert(Bm25.serveTopK(spark, dir, q, 5).collect().map(_.toSeq).toSeq ==
      Bm25.serveTopK(spark, dirU, q, 5).collect().map(_.toSeq).toSeq)
  }

  test("empty append batch is a clean no-op (no NPE, index untouched)") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25empty").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir)
    val before = Bm25.readManifest(spark, dir)
    Bm25.appendToIndex(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25.readManifest(spark, dir) == before)
  }

  test("bucket count is a build parameter carried by the manifest: build/serve/append at 64") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25b64").toString
    Bm25.buildIndex(initial.toDF("doc_id", "text"), "doc_id", "text", dir, buckets = 64)
    assert(Bm25.readManifest(spark, dir).buckets == 64)
    Bm25.appendToIndex(spark, dir, batch.toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25.readManifest(spark, dir).buckets == 64)
    // serve from the 64-bucket index == batchTopK over the union corpus
    val q = Seq((1L, "banana"), (1L, "kiwi"), (2L, "apple"), (2L, "melon"))
      .toDF("qid", "term")
    val served = Bm25.serveTopK(spark, dir, q, 5)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val direct = Bm25.batchTopK((initial ++ batch).toDF("doc_id", "text"),
        "doc_id", "text", q, 5)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(served == direct && served.nonEmpty)
    // 64 buckets over a tiny vocabulary leaves most buckets empty —
    // the manifest must only own materialized buckets
    assert(Bm25.readManifest(spark, dir).bucketVersions.nonEmpty)
  }

  test("append payload is batch-bounded: the new version holds ONLY batch-derived rows") {
    val spark = SparkTest.spark
    import spark.implicits._
    // 2000-doc corpus vs a 200-doc batch: the ACCRETIVE tick's write is
    // sized by the BATCH — the corpus-sized committed postings are
    // neither read nor rewritten at any bucket count (the round-15
    // write-amplification asymmetry, closed; consolidation-payload
    // scaling with the bucket count is the DELETE/UPSERT ticks' claim,
    // pinned in tools/Bm25BucketScale)
    val corpus = (0 until 2000).map(i =>
      (i.toLong, (0 until 10).map(j => s"w${(i * 31 + j * 7) % 500}").mkString(" ")))
    val batch = (0 until 200).map(i =>
      (100000L + i, (0 until 10).map(j => s"narrow${(i + j) % 4}").mkString(" ")))
    val batchRows = batch.toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .distinct().count()
    def appended(buckets: Int): (Long, Int) = {
      val dir = Files.createTempDirectory(s"bm25inv$buckets").toString
      Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", dir, buckets)
      Bm25.appendToIndex(spark, dir, batch.toDF("doc_id", "text"), "doc_id", "text")
      val m = Bm25.readManifest(spark, dir)
      val rows = spark.read
        .parquet(s"$dir/data/${m.version}/postings").count()
      (rows, m.bucketVersions.count(_._2.contains(m.version)))
    }
    val (rows16, touched16) = appended(16)
    val (rows64, touched64) = appended(64)
    assert(touched16 <= 4 && touched64 <= 4,
      s"skewed batch must touch <= 4 buckets, got $touched16/$touched64")
    assert(rows16 == batchRows && rows64 == batchRows,
      s"the new version must hold exactly the batch's postings rows " +
        s"($batchRows), got $rows16/$rows64")
  }

  test("big-batch serve (distributed term join, no term collect) == small-batch serve") {
    val spark = SparkTest.spark
    import spark.implicits._
    val corpus = (0 until 50).map(i =>
      (i.toLong, s"alpha$i beta${i % 7} gamma${i % 3} shared"))
    val dir = Files.createTempDirectory("bm25join").toString
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val q = (0 until 20).flatMap(qi =>
      Seq((qi.toLong, s"beta${qi % 7}"), (qi.toLong, s"gamma${qi % 3}")))
      .toDF("qid", "term")
    val viaCollect = Bm25.serveTopK(spark, dir, q, 5)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    // force the distributed regime on the same small frame
    val viaJoin = Bm25.serveTopKBounded(spark, dir, q, 5, maxCollectedTerms = 1)
    val got = viaJoin.orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(got == viaCollect && got.nonEmpty)
    // the path-pruned read must only touch the queried terms' buckets
    val wantedBuckets = q.select(
        pmod(xxhash64(col("term")), lit(Bm25.IndexBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val touchedDirs = viaJoin.inputFiles.filter(_.contains("/postings/"))
      .map(f => f.split("bucket=").last.split("/").head.toInt).toSet
    assert(touchedDirs.subsetOf(wantedBuckets),
      s"read buckets $touchedDirs beyond the query's $wantedBuckets")
  }
}
