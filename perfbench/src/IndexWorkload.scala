package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Bm25, MinhashIndex}

/** Seeded corpus for the standing indexes: Zipf-skewed terms (so some
  * term buckets are hot) and clustered 64-d vectors. */
final class Corpus(seed: Long, val docs: Int, val vecs: Int) {
  private val rng = new java.util.SplittableRandom(seed)
  val vocab = 20000
  private val cdf: Array[Double] = {
    val w = (1 to vocab).map(r => 1.0 / math.pow(r, 1.05))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def word(rank: Int): String = s"w$rank"
  private def zipf(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    (if (i >= 0) i else -i - 1).min(vocab - 1)
  }
  def text(): String = Seq.fill(30 + rng.nextInt(50))(word(zipf())).mkString(" ")

  val docRows: Seq[(Long, String)] = (1 to docs).map(i => (i.toLong, text()))

  val dim = 64
  val clusters = 32
  private val centers = Array.fill(clusters, dim)((rng.nextDouble() * 2 - 1).toFloat)
  private def near(c: Int, noise: Double): Array[Float] =
    centers(c).map(x => (x + rng.nextGaussian() * noise).toFloat)
  val vecRows: Seq[(Long, Array[Float])] = (1 to vecs).map(i => (1000000L + i, near(rng.nextInt(clusters), 0.25)))

  /** BM25 query batches: 3 mid-frequency terms per query. */
  def termBatches(n: Int, size: Int): Seq[Seq[(Long, String)]] = Seq.fill(n) {
    (1 to size).flatMap(q => Seq.fill(3)((q.toLong, word(20 + rng.nextInt(2000)))))
  }
  def vecBatches(n: Int, size: Int): Seq[Seq[(Long, Array[Float])]] =
    Seq.fill(n)((1 to size).map(q => (q.toLong, near(rng.nextInt(clusters), 0.25))))
  /** MinHash gate batches: near-copies of corpus docs plus fresh docs. */
  def gateBatches(n: Int, size: Int): Seq[Seq[(Long, String)]] = Seq.fill(n) {
    (1 to size).map { q =>
      if (q % 2 == 0) {
        val toks = docRows(rng.nextInt(docRows.size))._2.split(" ")
        toks(rng.nextInt(toks.length)) = word(zipf())
        (5000000L + q, toks.mkString(" "))
      } else (5000000L + q, text())
    }
  }
  /** Maintenance batches: fixed-length docs, so every seed appends the
    * same number of tokens. */
  def batchDocs(tick: Int, size: Int): Seq[(Long, String)] =
    (1 to size).map(j => (2000000L + tick.toLong * 10000 + j, Seq.fill(55)(word(zipf())).mkString(" ")))
}

/** Standing-index maintenance and serving, alternating: each
  * maintenance tick appends a BM25 batch, deletes the previous one,
  * compacts and vacuums; each round of the closed-loop client then
  * rotates BM25 / IVF / MinHash serves. Ticks and serves run one after
  * the other: side by side, host-level contention made the tick and the
  * slowest serves too unsteady to compare between runs. */
object IndexWorkload {
  val K = 10
  val NProbe = 8
  val BatchDocs = 100
  val Docs = 6000
  /** Timed maintenance ticks per run, one before each of the first
    * serve rounds; also the least number of serve rounds. Set-up runs one
    * more, untimed. */
  val Ticks = 2

  final case class Op(kind: String, ms: Double)
  final case class Tick(appendS: Double, deleteS: Double, compactS: Double, vacuumS: Double) {
    def seconds: Double = appendS + deleteS + compactS + vacuumS
  }

  def run(r: Run): Unit = {
    val corpus = r.timeSynth(new Corpus(r.seed, docs = Docs, vecs = Docs))
    val termQ = corpus.termBatches(4, 4)
    val vecQ = corpus.vecBatches(4, 16)
    val gateQ = corpus.gateBatches(4, 4)
    val batches = (0 to Ticks + 1).map(t => corpus.batchDocs(t, BatchDocs))
    val bm25 = r.work.resolve("bm25").toString
    val ivf = r.work.resolve("ivf").toString
    val mh = r.work.resolve("minhash").toString
    def termDf(b: Seq[(Long, String)]) = r.spark.createDataFrame(b).toDF("qid", "term")
    def vecDf(b: Seq[(Long, Array[Float])]) = r.spark.createDataFrame(b.map { case (q, v) => (q, v.toSeq) }).toDF("qid", "qvec")
    def docDf(b: Seq[(Long, String)]) = r.spark.createDataFrame(b).toDF("doc_id", "text")
    def vecCorpus = r.spark.createDataFrame(corpus.vecRows.map { case (i, v) => (i, v.toSeq) }).toDF("cid", "cvec")
    def serve(kind: String, b: Int): Array[Row] = kind match {
      case "bm25" => Bm25.serveTopK(r.spark, bm25, termDf(termQ(b)), K).collect()
      case "ivf" => Ann.ivfServedTopK(r.spark, ivf, vecDf(vecQ(b)), K, NProbe).collect()
      case _ => MinhashIndex.gate(r.spark, mh, docDf(gateQ(b)), "doc_id", "text", 0.5).collect()
    }
    val kinds = Seq("bm25", "ivf", "minhash")

    // files the ticks write into the BM25 index (traced runs list the
    // index between steps, outside the timed calls)
    val written = scala.collection.mutable.Set.empty[(String, Long)]
    def step(name: String)(f: => Unit): Double = {
      val before = if (r.trace) indexFiles(bm25) else Set.empty[(String, Long)]
      val s = r.tracer.span(s"maintain.$name")(r.attempt(s"maintain.$name")(f))._2
      if (r.trace) written ++= indexFiles(bm25) -- before
      s
    }
    // tick t: append batch t + 1, delete batch t (index size stays level),
    // compact, vacuum
    def tick(t: Int): Tick = {
      val spark = r.spark
      import spark.implicits._
      spark.sparkContext.setJobGroup(s"tick.$t", s"tick.$t")
      Tick(
        step("append")(Bm25.appendToIndex(spark, bm25, docDf(batches(t + 1)), "doc_id", "text")),
        step("delete")(Bm25.deleteByIds(spark, bm25, batches(t).map(_._1).toDF("doc_id"), "doc_id")),
        step("compact")(Bm25.compactIndex(spark, bm25)),
        step("vacuum")(Bm25.vacuumIndex(spark, bm25)))
    }

    // each index is built, then served once to warm its serve path; the
    // first maintenance batch is part of the built BM25 index, so the
    // tick both appends and deletes. The live heap is then read, and one
    // untimed tick follows: the full collections of the heap reading let
    // Spark's cleaner release the builds' shuffle and broadcast state,
    // and that work, with the JIT compiling the maintenance path, would
    // otherwise make the first timed tick 1.5-2 times as long as the second
    r.setup(r.cores) {
      val init = corpus.vecRows.iterator.grouped(corpus.vecRows.size / 64).map(_.head._2).take(64).toArray
      def build(kind: String)(f: => Unit): Double = r.tracer.span(s"setup.$kind") { f; serve(kind, 0) }._2
      val s = Par.all(3)(Seq(
        () => build("bm25")(Bm25.buildIndex(docDf(corpus.docRows ++ batches(0)), "doc_id", "text", bm25)),
        () => build("ivf")(Ann.ivfIndexBuild(vecCorpus, ivf, init)),
        () => build("minhash")(
          MinhashIndex.build(docDf(corpus.docRows), "doc_id", "text", mh, n = 3, bands = 16, rowsPerBand = 4))))
      r.log(kinds.zip(s).map { case (k, x) => f"$k=$x%.1fs" }.mkString("index builds + warm serve: ", " ", ""))
      Heap.checkpoint()
      val w = tick(0)
      r.log(f"warm tick: ${w.seconds}%.2fs")
      written.clear()
    }
    val spark = r.spark
    import spark.implicits._

    // closed-loop client: rotates the three serves over fixed batches,
    // in whole rounds, until the run's seconds are spent and at least
    // Ticks rounds are done; a tick runs before each of the first Ticks
    // rounds, so maintenance and serving alternate through the run
    val ticks = ArrayBuffer.empty[Tick]
    val ops = ArrayBuffer.empty[Op]
    var last = Map.empty[String, (Int, Array[Row])]
    val t0 = System.nanoTime()
    var i = 0
    while (i % kinds.size != 0 || i < Ticks * kinds.size || System.nanoTime() - t0 < r.seconds * 1000000000L) {
      if (i % kinds.size == 0 && ticks.size < Ticks) ticks += tick(ticks.size + 1)
      val kind = kinds(i % kinds.size)
      val batch = (i / kinds.size) % 4
      val group = s"serve.$kind.$i"
      spark.sparkContext.setJobGroup(group, group)
      val (res, s) = r.tracer.span(s"serve.$kind")(r.attempt(s"serve.$kind")(serve(kind, batch)))
      ops += Op(kind, s * 1000)
      res.foreach(rows => last += kind -> (batch, rows))
      i += 1
    }
    spark.sparkContext.clearJobGroup()
    Heap.checkpoint()

    r.log(s"serve ops ${ops.size}: " +
      ops.groupBy(_.kind).map { case (k, xs) => f"$k p50=${Stats.median(xs.map(_.ms).toSeq)}%.0fms" }.mkString(" ") +
      ticks.map(t => f"; tick append=${t.appendS}%.2f delete=${t.deleteS}%.2f compact=${t.compactS}%.2f vacuum=${t.vacuumS}%.2f").mkString)
    val ms = ops.map(_.ms).toSeq
    r.metrics.put("serve_p50_ms", Stats.median(ms), "ms")
    r.metrics.put("serve_p95_ms", Stats.quantile(ms, 0.95), "ms")
    r.metrics.put("maintain_p50_s", Stats.median(ticks.map(_.seconds).toSeq), "s")
    val appendMbS = ticks.zipWithIndex.map { case (t, n) =>
      batches(n + 2).map(_._2.length + 8L).sum / 1048576.0 / math.max(t.appendS, 1e-9)
    }
    r.metrics.put("ingest_mb_s", Stats.median(appendMbS.toSeq), "MB/s")
    r.detail.put("serve.samples", ms.size, "count")
    r.log(f"serve: ${ms.size} samples, p50 ${Stats.median(ms)}%.0f ms, p95 ${Stats.quantile(ms, 0.95)}%.0f ms")

    // checks: the last BM25 serve against an exact ranking of the live
    // corpus, the last IVF serve against exact cosine ranking
    val liveDocs = corpus.docRows ++ batches(Ticks + 1)
    def ranked(rows: Seq[Row], id: String, score: String): Map[Long, Seq[Long]] =
      rows.groupBy(x => num(x, "qid").toLong).map { case (q, rs) =>
        q -> rs.sortBy(x => (-num(x, score), num(x, id))).map(x => num(x, id).toLong)
      }
    val Seq(bm25Exact, ivfExact) = Par.all(2)(Seq(
      () => r.attempt("check.bm25.exact")(Bm25.batchTopK(docDf(liveDocs), "doc_id", "text",
        termDf(termQ(last("bm25")._1)), K).collect().toSeq).getOrElse(Nil),
      () => r.attempt("check.ivf.exact")(Ann.bruteForceTopK(vecCorpus, vecDf(vecQ(last("ivf")._1)), K)
        .collect().toSeq).getOrElse(Nil)))
    r.check(Checks.topK("bm25.topk", ranked(bm25Exact, "doc_id", "score"),
      ranked(last("bm25")._2.toSeq, "doc_id", "score")))
    val recall = Checks.recall(ranked(ivfExact, "cid", "cosine"), ranked(last("ivf")._2.toSeq, "cid", "cosine"))
    r.metrics.put("ann_recall", recall, "fraction")
    r.check(Check("ivf.recall_floor", recall >= 0.8, s"recall@$K $recall < 0.8"))
    if (r.trace) traced(r, ops.toSeq, ticks.toSeq, written.size)
  }

  private def num(r: Row, c: String): Double = r.getAs[Any](c).asInstanceOf[Number].doubleValue

  /** Regular files under an index directory, with their modification
    * times (a file rewritten in place counts as written). */
  private def indexFiles(dir: String): Set[(String, Long)] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).iterator().asScala
      .map(p => (p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    finally s.close()
  }

  private def traced(r: Run, ops: Seq[Op], ticks: Seq[Tick], filesWritten: Int): Unit = {
    val d = r.detail
    r.drain()
    for (k <- Seq("bm25", "ivf", "minhash")) {
      val xs = ops.filter(_.kind == k).map(_.ms)
      d.put(if (k == "minhash") "minhash.gate_p50_ms" else s"$k.serve_p50_ms", if (xs.isEmpty) 0 else Stats.median(xs), "ms")
    }
    // the same serves, traced: the difference from the untraced runs'
    // serve_p50_ms is the tracing overhead
    d.put("trace.serve_p50_ms", Stats.median(ops.map(_.ms)), "ms")
    val serve = r.counters.groupsWithPrefix("serve.")
    val n = math.max(1, ops.size).toDouble
    d.put("serve.jobs_per_op", serve.jobs / n, "count")
    d.put("serve.stages_per_op", serve.stages / n, "count")
    d.put("serve.scan_mb_per_op", serve.inputBytes / 1048576.0 / n, "MB")
    d.put("serve.shuffle_mb_per_op", serve.shuffleWriteBytes / 1048576.0 / n, "MB")
    // the timed ticks only (tick.0 is set-up's warm tick)
    val maint = (1 to ticks.size).map(t => r.counters.group(s"tick.$t")).foldLeft(Agg())(_ + _)
    d.put("maintain.append_s", Stats.median(ticks.map(_.appendS)), "s")
    d.put("maintain.delete_s", Stats.median(ticks.map(_.deleteS)), "s")
    d.put("maintain.compact_s", Stats.median(ticks.map(_.compactS)), "s")
    d.put("maintain.vacuum_s", Stats.median(ticks.map(_.vacuumS)), "s")
    d.put("maintain.jobs_per_tick", maint.jobs.toDouble / ticks.size, "count")
    d.put("maintain.files_written_per_tick", filesWritten.toDouble / ticks.size, "count")
    d.put("maintain.max_task_share", maint.maxTaskShare, "fraction")
    val dir = r.work.resolve("bm25").toString
    val (_, manifestS) = r.tracer.span("manifest.read")((0 until 20).foreach(_ => Bm25.readManifest(r.spark, dir)))
    d.put("manifest.read_ms", manifestS * 1000 / 20, "ms")
    d.put("index.mb", Seq("bm25", "ivf", "minhash").map(x => dirMb(r.work.resolve(x))).sum, "MB")
    d.put("index.versions", Bm25.readManifest(r.spark, dir).version, "count")
    r.engine(r.counters.total)
  }

  private def dirMb(p: java.nio.file.Path): Double = {
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum() / 1048576.0
    finally s.close()
  }
}
