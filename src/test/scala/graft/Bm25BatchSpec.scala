package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bm25

/** Batch + served BM25 beyond the t40/t41 oracles: exact parity with a
  * naive driver-side scorer (same arithmetic, same fold order) over
  * seeded random corpora, serve==batch equivalence from a persisted
  * index with real partition pruning, and the ≥80%-df stopword prune
  * firing (the skew defense for term-partitioned postings).
  */
class Bm25BatchSpec extends AnyFunSuite {

  /** Driver-side reference: textbook loops, the operator's exact
    * arithmetic (rational idf, fixed literal order, floor into the 10⁶
    * fixed-point domain), integer sum, (score desc, doc_id) ranking. */
  private def naiveTopK(docs: Seq[(Long, String)], queries: Seq[(Long, Seq[String])],
      k: Int): Seq[(Long, Long, Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }.toMap
    val n = docs.size.toLong
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
    val df = toks.values.flatMap(_.distinct).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    queries.flatMap { case (qid, terms0) =>
      val terms = terms0.distinct.filter(t =>
        df.get(t).exists(d => d * Bm25.PruneDfDen < n * Bm25.PruneDfNum))
      val scores = toks.toSeq.flatMap { case (docId, w) =>
        val perTerm = terms.filter(w.contains).map { t =>
          val tf = w.count(_ == t).toLong
          val d = df(t)
          math.floor((((n - d + 0.5) / (d + 0.5)) * (tf * Bm25.K1Plus1) /
            (tf + Bm25.K1 * (Bm25.OneMinusB + Bm25.B * (w.size.toLong.toDouble / avgdl))))
            * 1000000.0).toLong
        }
        if (perTerm.isEmpty) None
        else Some(docId -> perTerm.sum)
      }
      scores.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((docId, s), i) => (qid, docId, s, (i + 1).toLong) }
    }
  }

  private def runBatch(docs: Seq[(Long, String)], queries: Seq[(Long, Seq[String])],
      k: Int): Seq[(Long, Long, Long, Long)] = {
    val spark = SparkTest.spark
    import spark.implicits._
    val d = docs.toDF("doc_id", "text")
    val q = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    Bm25.batchTopK(d, "doc_id", "text", q, k)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
  }

  test("batchTopK matches the naive scorer bit-exactly on seeded random corpora") {
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen", "ibis", "jay")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 40L).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val queries = (0L until 5L).map { qid =>
        qid -> Seq.fill(3)(vocab(rnd.nextInt(vocab.size)))
      }
      assert(runBatch(docs, queries, 4) === naiveTopK(docs, queries, 4),
        s"seed $seed diverged from the naive reference")
    }
  }

  test("serveTopK from a persisted index equals batchTopK and prunes partitions") {
    val spark = SparkTest.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
    val docs = (0L until 60L).map { id =>
      id -> Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val queries = Seq(0L -> Seq("ant", "cat"), 1L -> Seq("fox", "hen", "bee"))
    val d = docs.toDF("doc_id", "text")
    val q = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")

    val dir = java.nio.file.Files.createTempDirectory("bm25_index").toString
    Bm25.buildIndex(d, "doc_id", "text", dir)
    val served = Bm25.serveTopK(spark, dir, q, k = 5)

    val batch = Bm25.batchTopK(d, "doc_id", "text", q, k = 5)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(served.orderBy("qid", "rank").collect().map(_.toSeq).toSeq === batch)

    // bucket pruning is literal path selection through the manifest:
    // the scan's file set may only contain the queried terms' buckets
    val wantedBuckets = q.select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("term")),
          org.apache.spark.sql.functions.lit(Bm25.IndexBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val touched = served.inputFiles.filter(_.contains("/postings/"))
      .map(f => f.split("bucket=").last.split("/").head.toInt).toSet
    assert(touched.nonEmpty && touched.subsetOf(wantedBuckets),
      s"scan read buckets $touched beyond the query's $wantedBuckets")
  }

  test("a >=80%-df term is pruned from scoring (stopword/skew rule fires)") {
    val spark = SparkTest.spark
    import spark.implicits._
    // "stop" in 9 of 10 docs (90% >= 80% -> pruned); "rare" in 2
    val docs = (0L until 10L).map { id =>
      val rare = if (id < 2) " rare" else ""
      val stop = if (id < 9) "stop " else ""
      id -> s"${stop}filler one two$rare"
    }
    val d = docs.toDF("doc_id", "text")
    val q = Seq((0L, "stop"), (1L, "stop"), (1L, "rare")).toDF("qid", "term")
    val out = Bm25.batchTopK(d, "doc_id", "text", q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // qid 0 queried ONLY the pruned term: no rows at all
    assert(!out.exists(_._1 == 0L), s"pruned-term query still retrieved: $out")
    // qid 1 retrieves exactly the docs containing "rare"
    assert(out.filter(_._1 == 1L).map(_._2).sorted === Seq(0L, 1L))
  }

  test("serve resolves df from the term-stats sidecar; a stripped legacy dir serves identically once upgraded") {
    val spark = SparkTest.spark
    import spark.implicits._
    val docs = (0L until 40L).map(id => id -> s"w${id % 7} shared common")
    val d = docs.toDF("doc_id", "text")
    val q = Seq((1L, "w0"), (1L, "w3"), (2L, "shared")).toDF("qid", "term")
    val dir = java.nio.file.Files.createTempDirectory("bm25ts").toString
    Bm25.buildIndex(d, "doc_id", "text", dir)
    // accrete an append so a bucket has TWO termstats deltas to sum
    Bm25.appendToIndex(spark, dir,
      Seq((100L, "w0 w3 shared fresh")).toDF("doc_id", "text"),
      "doc_id", "text")
    val served = Bm25.serveTopK(spark, dir, q, 5)
    val expected = Bm25.batchTopK(
        (docs :+ (100L -> "w0 w3 shared fresh")).toDF("doc_id", "text"),
        "doc_id", "text", q, 5)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(served.orderBy("qid", "rank").collect().map(_.toSeq).toSeq == expected)
    // the df branch reads the vocabulary-sized sidecar (in the serve's
    // one bounded stats collect), so the pruned POSTINGS are scanned
    // exactly once (by the scoring branch): with the sidecar removed
    // and the manifest still naming it, the serve fails
    val m = Bm25.readManifest(spark, dir)
    val f = graft.operators.ManifestIO.fs(spark, dir)
    (1L to m.version).foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$v/termstats"), true)
    }
    intercept[java.io.FileNotFoundException] { Bm25.serveTopK(spark, dir, q, 5).collect() }
    // strip the manifest flag too — a dir written before the sidecar
    // existed: the serve refuses it, naming the upgrade (there is no
    // df-from-postings fallback any more)
    val mp = new org.apache.hadoop.fs.Path(s"$dir/manifest/v${m.version}.txt")
    val body = graft.operators.ManifestIO.readText(f, mp)
      .linesIterator.filterNot(_.startsWith("termstats=")).mkString("\n") + "\n"
    graft.operators.ManifestIO.writeText(f, mp, body)
    val ex = intercept[IllegalArgumentException] { Bm25.serveTopK(spark, dir, q, 5) }
    assert(ex.getMessage.contains("Bm25.upgrade"), ex.getMessage)
    // the upgrade rewrites every bucket with its termstats: same answers
    assert(Bm25.upgrade(spark, dir))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/data/${m.version + 1}/termstats")))
    val upgraded = Bm25.serveTopK(spark, dir, q, 5)
    assert(upgraded.orderBy("qid", "rank").collect().map(_.toSeq).toSeq == expected)
  }
}
