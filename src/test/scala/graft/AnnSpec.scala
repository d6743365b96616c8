package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** Unit coverage for the LSH near-dup operator beyond the (sparse at
  * small SF) oracle query: constructed near-identical vectors must land
  * in one bucket and be emitted; an anti-correlated vector must not
  * pair with them.
  */
class AnnSpec extends AnyFunSuite {

  test("lshNearDupPairs: near-identical vectors pair, anti-correlated do not") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dim = 8
    val base = Array.tabulate(dim)(i => 1.0f + 0.1f * i)
    val near = base.clone(); near(0) += 0.01f
    val anti = base.map(v => -v)
    val vecs = Seq(
      (1L, base.toSeq), (2L, near.toSeq), (3L, anti.toSeq)
    ).toDF("vec_id", "embedding")
    val planes = (0 until 4).map(p => Ann.hyperplane(p, dim))
    val pairs = Ann.lshNearDupPairs(vecs, "vec_id", "embedding", planes, 0.9)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) > 0.99)
  }

  test("lshNearDupPairs refuses non-integral id columns instead of lossily casting") {
    val spark = SparkTest.spark
    import spark.implicits._
    val vecs = Seq(("doc-a", Seq(1.0f, 2.0f)), ("doc-b", Seq(1.0f, 2.1f)))
      .toDF("vec_id", "embedding")
    val planes = (0 until 4).map(p => Ann.hyperplane(p, 2))
    val e = intercept[IllegalArgumentException] {
      Ann.lshNearDupPairs(vecs, "vec_id", "embedding", planes, 0.9)
    }
    // the message must carry the remedy (hash string ids to longs first)
    assert(e.getMessage.contains("integral type"))
    assert(e.getMessage.contains("xxhash64"))
  }

  test("ivf serve split: cell-partitioned read-back search equals inline, scan prunes to probed cells") {
    val spark = SparkTest.spark
    import spark.implicits._
    // deterministic spread-out vectors; 4 cells trained from first-4 init
    val dim = 8
    val vecs = (0L until 64L).map { i =>
      (i, Array.tabulate(dim)(j => math.cos(0.37 * (i * dim + j)).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val corpus = vecs.select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val init = corpus.filter($"cid" < 4).orderBy($"cid")
      .select($"cvec").collect().map(_.getSeq[Float](0).toArray)
    val cents = Ann.kmeansCentroids(vecs.select($"embedding"), "embedding", init, iters = 3)
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))

    val inline = Ann.ivfTopK(corpus, queries, cents, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // the deployment split: write the inverted file partitioned by cell,
    // serve from the read-back
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Ann.assignCells(corpus, cents).write.partitionBy("cell")
      .mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
      .withColumn("cell", $"cell".cast("int"))
    val served = Ann.ivfTopKAssigned(index, queries, cents, k = 5, nprobe = 2)
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === inline)
    // the probed-cell filter must reach the partitioned scan: pruning,
    // not a full-corpus read
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"expected partition pruning on cell:\n$plan")
    // and the pruning must be real in BYTES: the served batch reads
    // strictly less of the index than a full-corpus scan would
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE wraps materialized stages in leaf QueryStageExec nodes whose
    // subtree lives in `.plan`, not in `.children` — a plain collect
    // never reaches the scans
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    // the 3-query batch above probes all 4 cells (3×2 probes of 4), so
    // bytes only prune on a narrower batch: one query probing 2 of the
    // 4 cells must read strictly less of the index than its full size
    val servedOne = Ann.ivfTopKAssigned(index,
      queries.filter($"qid" === 0L), cents, k = 5, nprobe = 2)
    servedOne.collect()
    val indexScans = scans(servedOne.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("ivf_index")))
    assert(indexScans.nonEmpty, "no FileSourceScanExec over the index found")
    val scannedBytes = indexScans.map(_.metrics("filesSize").value).sum
    val totalBytes = {
      val root = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }
    assert(scannedBytes > 0 && scannedBytes < totalBytes,
      s"served scan must prune bytes: scanned=$scannedBytes total=$totalBytes")
  }

  test("ivfTopK: the distributed big-frame probe path ranks identically to the serve path") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 64L).map { i =>
      (i, Array.tabulate(dim)(j => math.sin(0.23 * (i * dim + j)).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val corpus = vecs.select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val init = corpus.filter($"cid" < 4).orderBy($"cid")
      .select($"cvec").collect().map(_.getSeq[Float](0).toArray)
    val cents = Ann.kmeansCentroids(vecs.select($"embedding"), "embedding", init, iters = 3)
    val queries = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = sets(Ann.ivfTopK(corpus, queries, cents, k = 5, nprobe = 2))
    // maxDriverRows=1 forces the 5-query frame onto the distributed
    // flatMap-probe join — same cells probed, same ranking out
    val dist = sets(Ann.ivfTopKBounded(corpus, queries, cents, k = 5, nprobe = 2,
      maxDriverRows = 1))
    assert(dist === served)
  }

  test("PQ family fails loudly past the driver-batch bound (injectable)") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 16L).map { i =>
      (i, Array.tabulate(dim)(j => math.sin(0.37 * (i * dim + j)).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val corpus = vecs.select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val queries = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val init = Array.tabulate(2, 2)((mi, ci) =>
      Array.tabulate(4)(j => math.cos(0.11 * (mi * 8 + ci * 4 + j)).toFloat))
    val books = Ann.pqCodebooks(corpus.select($"cvec"), "cvec", init, iters = 2)
    val cents = Array.tabulate(2)(c =>
      Array.tabulate(dim)(j => math.sin(0.5 * (c * dim + j)).toFloat))
    // maxDriverRows=1 under a 5-row query frame: both ADC kernels must
    // refuse (the plan broadcasts the batch — silent collect would be
    // the driver-OOM cliff), naming themselves in the message
    val e1 = intercept[IllegalArgumentException] {
      Ann.adcTopKBounded(corpus, None, queries, None, books, k = 3, nprobe = 1,
        refine = 8, maxDriverRows = 1)
    }
    assert(e1.getMessage.contains("pqTopK"))
    val e2 = intercept[IllegalArgumentException] {
      Ann.adcTopKBounded(corpus, None, queries, Some(cents), books, k = 3, nprobe = 2,
        refine = 8, maxDriverRows = 1)
    }
    assert(e2.getMessage.contains("ivfPqTopK"))
    // within the bound the same calls serve normally
    assert(Ann.adcTopKBounded(corpus, None, queries, None, books, k = 3, nprobe = 1,
      refine = 8, maxDriverRows = 5).count() > 0)
    assert(Ann.adcTopKBounded(corpus, None, queries, Some(cents), books, k = 3, nprobe = 2,
      refine = 8, maxDriverRows = 5).count() > 0)
  }

  /** recall@5 of an approximate ranking vs the exact brute-force one. */
  private def recallAt5(approx: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame): Double = {
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "cid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ex = sets(exact)
    val ap = sets(approx)
    val per = ex.map { case (q, t) => (ap.getOrElse(q, Set.empty) & t).size.toDouble / t.size }
    per.sum / per.size
  }

  test("trained IVF recall@5 >= 0.9 vs exact; multi-probe LSH beats single-probe") {
    val spark = SparkTest.spark
    val d = "/root/testdata/sf0.01"
    val exact = graft.queries.Embedding.v1KnnBrute.run(spark, d)
    val ivf = graft.queries.Embedding.v7KnnIvfTrained.run(spark, d)
    val rIvf = recallAt5(ivf, exact)
    assert(rIvf >= 0.9, s"trained-IVF recall@5 = $rIvf")
    val single = graft.queries.Embedding.v2KnnLsh.run(spark, d)
    val multi = graft.queries.Embedding.v8KnnLshMultiprobe.run(spark, d)
    val (rS, rM) = (recallAt5(single, exact), recallAt5(multi, exact))
    // multi-probe candidates are a superset of single-probe → recall can
    // only improve. No absolute floor here: the synthetic embeddings are
    // near-uniform, so sign-LSH recall ≈ probed-bucket coverage (2/64 at
    // nprobe=2) by construction — the ranking itself is exact-checked by
    // the v8 SQL oracle, and the absolute ≥0.9 ANN gate is carried by
    // the trained-IVF assertion above (nprobe=12 of 16 quality-seeded
    // cells — see the v7 scaladoc for the measured isotropy economics).
    assert(rM >= rS, s"multi-probe $rM < single-probe $rS")
    // PQ+refine: the ADC scan must rank well enough that the exact
    // re-rank of its top-64 candidates recovers the true top-5
    val pq = graft.queries.Embedding.v9KnnPq.run(spark, d)
    val rPq = recallAt5(pq, exact)
    assert(rPq >= 0.9, s"PQ-refine recall@5 = $rPq")
    // full IVF-PQ: nprobe=12 cells scanned as residual codes + re-rank —
    // recall is bounded by cell coverage like v7, so the same floor
    val ivfpq = graft.queries.Embedding.v10KnnIvfPq.run(spark, d)
    val rIvfPq = recallAt5(ivfpq, exact)
    assert(rIvfPq >= 0.9, s"IVF-PQ recall@5 = $rIvfPq")
    // the encoded serve path shares v10's training and scoring math, so
    // its recall must hold the same floor (both plans are pinned bit for
    // bit against a driver-side reference on shared artifacts in
    // QuantizedExactSpec — two independent trainings here could differ
    // in the last float ulp)
    val served = graft.queries.Embedding.v12IvfPqServed.run(spark, d)
    val rServed = recallAt5(served, exact)
    assert(rServed >= 0.9, s"IVF-PQ served recall@5 = $rServed")
  }

  test("ivf-pq serve split: encoded read-back ADC equals inline, scan prunes to probed cells") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 64L).map { i =>
      (i, Array.tabulate(dim)(j => math.cos(0.41 * (i * dim + j)).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val corpus = vecs.select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val init = corpus.filter($"cid" < 4).orderBy($"cid")
      .select($"cvec").collect().map(_.getSeq[Float](0).toArray)
    val cents = Ann.kmeansCentroids(vecs.select($"embedding"), "embedding", init, iters = 3)
    val residuals = Ann.residualsOf(corpus, "cid", "cvec", cents)
    val rInit = residuals.filter($"cid" < 4).orderBy($"cid")
      .select($"cvec").collect().map(_.getSeq[Float](0).toArray)
    val books0 = Array.tabulate(2, 4)((mi, ci) =>
      java.util.Arrays.copyOfRange(rInit(ci), mi * 4, (mi + 1) * 4))
    val books = Ann.pqCodebooks(residuals, "cvec", books0, iters = 2)
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inline = sets(Ann.ivfPqTopK(corpus, queries, cents, books,
      k = 5, nprobe = 2, refine = 16))
    // SAME artifacts, only the layout differs: encode once, write
    // partitioned by cell, serve from the read-back
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_codes").toString
    Ann.ivfPqEncode(corpus, cents, books).write.partitionBy("cell")
      .mode("overwrite").parquet(dir)
    val codes = spark.read.parquet(dir).withColumn("cell", $"cell".cast("int"))
    val servedDf = Ann.ivfPqTopKEncoded(codes, corpus, queries, cents, books,
      k = 5, nprobe = 2, refine = 16)
    assert(sets(servedDf) === inline)
    // the probed-cell filter must prune the partitioned code layout in
    // BYTES (same AQE-aware scan walk as the v11 serve-split test): a
    // one-query batch probing 2 of the 4 cells reads strictly less of
    // the code file than its full size
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val servedOne = Ann.ivfPqTopKEncoded(codes, corpus,
      queries.filter($"qid" === 0L), cents, books, k = 5, nprobe = 2, refine = 16)
    servedOne.collect()
    val codeScans = scans(servedOne.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("ivfpq_codes")))
    assert(codeScans.nonEmpty, "no FileSourceScanExec over the code file found")
    val scannedBytes = codeScans.map(_.metrics("filesSize").value).sum
    val totalBytes = {
      val root = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }
    assert(scannedBytes > 0 && scannedBytes < totalBytes,
      s"served scan must prune bytes: scanned=$scannedBytes total=$totalBytes")
  }

  test("lshNearDupPairs agrees with exact pairs when buckets coincide") {
    val spark = SparkTest.spark
    import spark.implicits._
    // All vectors share the sign pattern (positive orthant scaled copies)
    // → one bucket → LSH output == exact output.
    val dim = 8
    val vecs = (1L to 5L).map { k =>
      (k, Array.tabulate(dim)(i => (1.0f + 0.05f * i) * k).toSeq)
    }.toDF("vec_id", "embedding")
    val planes = (0 until 4).map(p => Ann.hyperplane(p, dim))
    val lsh = Ann.lshNearDupPairs(vecs, "vec_id", "embedding", planes, 0.5).count()
    // scaled copies of one vector: cosine == 1 for every pair
    assert(lsh == 10L) // C(5,2)
  }
}
