package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Numeric portability: every reduction over vector elements is a
  * *sequential left fold* (`aggregate` in Spark == `list_reduce` in the
  * oracle SQL), with elements cast to double before multiplication, so
  * both engines produce bit-identical IEEE doubles and rank ties cannot
  * diverge.
  *
  * Scale design:
  *   - Brute force is the correctness baseline: broadcast the (small)
  *     query set, one pass over the corpus, per-query top-k via window —
  *     O(Q·N·d) but embarrassingly parallel, no shuffle of the corpus.
  *   - The LSH path buckets corpus + queries by signs of K fixed ±1
  *     hyperplanes (deterministic, seed-derived), joins on the bucket id,
  *     and only scores within buckets — the 100 TB path where Q·N is
  *     unpayable. Bucket skew is bounded because sign-patterns of random
  *     hyperplanes split mass ~evenly.
  */
object Ann extends Serializable {

  /** Sequential-fold dot product of two float-vector columns (double).
    * Backed by the codegen'd [[graft.functions.FloatVecDot]] — same
    * accumulation order and promotion as `aggregate(zip_with(...))`, ~10×
    * less per-row overhead. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.fvec_dot(a, b)

  /** Sequential-fold squared L2 norm. */
  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity in doubles; sqrt is correctly-rounded IEEE so the
    * result is engine-independent given identical folds. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** sqrt(‖a‖²) — the left/right factor of [[cosine]]'s denominator,
    * exposed so pairwise kernels can precompute it ONCE PER ROW before
    * the join instead of once per pair: an all-pairs scorer pays 3
    * dot products per pair through [[cosine]] (dot + both norms) and
    * exactly 1 through [[cosinePre]] (optimization guide §1.2 "per-task
    * work": v5's 2M-pair scan recomputed each side's norm 2000×). */
  def l2norm(a: Column): Column = sqrt(norm2(a))

  /** [[cosine]] from a precomputed dot and precomputed per-side norms.
    * BIT-IDENTICAL to [[cosine]]: same fold for the dot, same sqrt per
    * side, same `(la * lb)` operand order, same final division — only
    * WHERE the factors are computed moves (per row vs per pair). */
  def cosinePre(dotAb: Column, la: Column, lb: Column): Column =
    dotAb / (la * lb)

  /** Deterministic ±1 hyperplane: component j of plane p is +1 iff the
    * first hex nibble of md5("p_j") is < '8'. Same constants are inlined
    * into the oracle SQL. (±1 is exact in float; promotion to double in
    * the dot product keeps engine parity.) */
  def hyperplane(p: Int, dim: Int): Seq[Float] =
    (0 until dim).map { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${p}_$j".getBytes("UTF-8"))
      if (((md(0) >> 4) & 0xf) < 8) 1.0f else -1.0f
    }

  /** LSH bucket id: K sign bits of ±1-hyperplane projections. */
  def lshBucket(vec: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(dot(vec, typedLit(plane)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Johnson–Lindenstrauss dimensionality reduction with the same
    * deterministic ±1 Rademacher vectors the LSH family hashes with —
    * but keeping the projection VALUES instead of their sign bits:
    * out[j] = ⟨vec, hyperplane(j)⟩ (Achlioptas 2003: ±1 entries give
    * the JL guarantee; the conventional 1/√m rescale is a constant the
    * caller applies if absolute distances matter — leaving it off keeps
    * the arithmetic an exact sum of float products). Shrinking 64-dim
    * float vectors to m=16 cuts ANN candidate-scoring bytes 4× before
    * the exact re-rank on the originals.
    *
    * One narrow codegen'd pass — m sequential-fold dot products per
    * row against constant plane literals, no shuffle, no state. Output
    * is (id, dim, value) rows so the projection is engine-comparable
    * value by value. */
  def randomProjection(vecs: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int): DataFrame = {
    require(outDim >= 1 && outDim <= 62, s"outDim must be in [1,62], got $outDim")
    val planes = (0 until outDim).map(j => hyperplane(j, inDim))
    vecs.select(col(idCol), explode(array((0 until outDim).map(j =>
        struct(lit(j).as("dim"), dot(col(vecCol), typedLit(planes(j))).as("value"))): _*)).as("p"))
      .select(col(idCol), col("p.dim").as("dim"), col("p.value").as("value"))
  }

  /** Exact top-k neighbors by cosine for each query vector (brute force).
    * `queries` is broadcast; ranks are (cosine desc, neighbor id asc). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms once per row, not per (query, corpus) pair — see [[cosinePre]];
    // Q·N scoring must not ride a single-split scan stage ([[Par.spread]])
    val c = Par.spread(corpus).withColumn("_cl", l2norm(col("cvec")))
    val q = queries.withColumn("_ql", l2norm(col("qvec")))
    val scored = c.as("c")
      .join(broadcast(q.as("q")), col("q.qid") =!= col("c.cid"))
      .select(col("q.qid"), col("c.cid"),
        cosinePre(dot(col("q.qvec"), col("c.cvec")),
          col("q._ql"), col("c._cl")).as("cosine"))
    topK(scored, k)
  }

  /** Hard-negative mining for embedding-model training (the DPR/SBERT
    * contrastive step): for each query, the top-k most similar corpus
    * vectors from a DIFFERENT class — maximally confusing negatives.
    * Same broadcast-scan shape as [[bruteForceTopK]] with the label
    * inequality fused into the join; swap the scorer for an IVF/LSH
    * candidate pass at corpus scales where Q·N is unpayable. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = Par.spread(corpus).withColumn("_cl", l2norm(col("cvec")))
    val q = queries.withColumn("_ql", l2norm(col("qvec")))
    val scored = c.as("c")
      .join(broadcast(q.as("q")),
        col("q.qid") =!= col("c.cid") && col("q.qlabel") =!= col("c.clabel"))
      .select(col("q.qid"), col("c.cid"),
        cosinePre(dot(col("q.qvec"), col("c.cvec")),
          col("q._ql"), col("c._cl")).as("cosine"))
    topK(scored, k)
  }

  /** ANN via single-probe hyperplane-LSH bucket join, then exact cosine
    * rank within the bucket. May return < k neighbors per query. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, planes: Seq[Seq[Float]], k: Int): DataFrame = {
    val cb = Par.spread(corpus).select(col("cid"), col("cvec"), l2norm(col("cvec")).as("_cl"),
      lshBucket(col("cvec"), planes).as("bucket"))
    val qb = queries.select(col("qid"), col("qvec"), l2norm(col("qvec")).as("_ql"),
      lshBucket(col("qvec"), planes).as("bucket"))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosinePre(dot(col("qvec"), col("cvec")), col("_ql"), col("_cl")).as("cosine"))
    topK(scored, k)
  }

  /** OR-amplified hyperplane LSH (the E2LSH multi-table design): `L`
    * INDEPENDENT plane families hash every vector `L` times, and a
    * corpus vector becomes a candidate for a query if they share a
    * bucket in ANY table — recall 1 − (1−p)^L against a single table's
    * p, bought with L narrow hash rows per vector instead of deeper
    * probing of one table (which [[lshTopKMultiProbe]] showed is
    * coverage-bound on isotropic data: 0.28 ceiling at ALL single-bit
    * flips). Candidates are distinct (qid, cid) pairs — only ids and
    * bucket hashes shuffle; full vectors are joined back for the exact
    * cosine re-rank of the survivors. Measured on this corpus (sf0.1,
    * isotropic): recall@5 0.38 at L=8 and 0.56 at L=16 tables × 6
    * planes, vs 0.10 single-table — the serving-shaped LSH config
    * (v13), while v2/v8 stay the pedagogical single-table baselines.
    * Isotropy is the worst case: neighborhoods barely localize, so
    * collision probabilities across tables correlate and recall grows
    * slower than the independent 1−(1−p)^L estimate; clustered real
    * corpora sit well above these floors at equal L. */
  def lshTopKAmplified(corpus: DataFrame, queries: DataFrame,
      tables: Seq[Seq[Seq[Float]]], k: Int): DataFrame = {
    // L·K sign projections per row as ONE typed kernel: the expression
    // form (posexplode over L lshBucket trees = L·K inlined dot
    // expressions) generates a method far past the JIT/codegen size
    // limits, so it ran interpreted — measured ~0.8 s/task on rows
    // whose flop count is microseconds. dotD == the codegen'd fold
    // bit-for-bit (the lshNearDupPairs precedent), so bucket ids — and
    // therefore candidates and the exact re-rank — are unchanged.
    val planesArr = tables.map(_.map(_.toArray).toArray).toArray
    def buckets(df: DataFrame, id: String, vec: String) = {
      val spark = df.sparkSession
      import spark.implicits._
      // null ids/vectors carry nothing to hash (the Phrases.tag TVF
      // convention): the typed kernel's non-nullable encoder would
      // otherwise crash on them, where the old posexplode expression
      // form silently tolerated nulls (round-17 ADVICE)
      df.select(col(id).cast("long"), col(vec))
        .filter(col(id).isNotNull && col(vec).isNotNull)
        .as[(Long, Array[Float])]
        .flatMap { case (rid, v) =>
          planesArr.indices.iterator.map { t =>
            val pl = planesArr(t)
            var b = 0L
            var p = 0
            while (p < pl.length) {
              if (dotD(v, pl(p)) >= 0) b |= 1L << p
              p += 1
            }
            (t, b, rid)
          }
        }
        .toDF("t", "bucket", id)
    }
    // the corpus is hashed L·K times and re-read for the re-rank: keep
    // both passes off a single-split scan stage ([[Par.spread]])
    val corpusW = Par.spread(corpus)
    val cand = buckets(corpusW, "cid", "cvec")
      .join(broadcast(buckets(queries, "qid", "qvec")), Seq("t", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid")).distinct()
    val scored = cand
      .join(corpusW.withColumn("_cl", l2norm(col("cvec"))), Seq("cid"))
      .join(broadcast(queries.withColumn("_ql", l2norm(col("qvec")))), Seq("qid"))
      .select(col("qid"), col("cid"),
        cosinePre(dot(col("qvec"), col("cvec")), col("_ql"), col("_cl")).as("cosine"))
    topK(scored, k)
  }

  /** Embedding near-duplicate pairs via hyperplane-LSH bucketing: only
    * same-bucket pairs are scored. Fused like the MinHash pair kernel —
    * ONE narrow pass computes each vector's bucket (same sign bits as
    * [[lshBucket]], typed fold = the codegen'd fold bit-for-bit), one
    * shuffle groups buckets, and in-bucket pairs are cosine-verified in
    * place. The earlier self-join formulation scanned and shuffled the
    * vector frame TWICE to meet itself on the bucket id; this halves
    * that, and bucket population is bounded by LSH design so the
    * per-group loop stays small. Single-probe: a near-pair split
    * across buckets is missed (recall < 1), which is the documented
    * LSH trade; the exact small-N oracle stays available as the
    * brute-force query. */
  /** Embedding dup-CLUSTER resolution — the t14/m14 discipline on the
    * vector side: [[lshNearDupPairs]]' pairwise verdicts closed into
    * connected components, so an a~b~c similarity chain yields ONE
    * cluster id (= min member vec id; a vector with no near neighbor
    * clusters alone). Distinct from [[SemDedup]]'s centroid-cell
    * dominance: this is the transitive closure of the pair relation
    * itself — the cluster ids are what leakage-free splits
    * ([[Layout.leakFreeSplit]]'s rule) bucket on. The closed relation
    * is the LSH-GATED one (deterministic, oracle-replayable): a
    * same-cosine pair split across buckets is not an edge, so LSH
    * recall bounds cluster completeness exactly as it bounds the pair
    * search — amplify with more tables (the v13 config) when the
    * split-safety budget demands higher recall. Returns
    * (vec_id, cluster). Scale: the graph is edge-list-sized (near-dup
    * families only); components run O(log² n) rounds over it; the
    * final assignment is one broadcast join against the corpus ids. */
  def nearDupClusters(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Float]], threshold: Double,
      maxBucket: Int = Int.MaxValue,
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None,
      maxDriverEdges: Int = Components.MaxDriverEdges): DataFrame = {
    val pairs = lshNearDupPairs(vecs, idCol, vecCol, planes, threshold,
      maxBucket, skippedAcc)
    val comp = Components.componentsAuto(pairs, "da", "db", maxDriverEdges)
    vecs.select(col(idCol).cast("long").as("vec_id"))
      .filter(col("vec_id").isNotNull)
      .join(broadcast(comp.withColumnRenamed("node", "vec_id")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("cluster"))
  }

  def lshNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Float]], threshold: Double,
      maxBucket: Int = Int.MaxValue,
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // same skew guard as the minhash kernels (Dedup.cappedBucket): an
    // over-cap bucket — an embedding-space mega-cluster — is skipped and
    // counted, never verified quadratically inside one task
    val skipped = skippedAcc.getOrElse(
      spark.sparkContext.longAccumulator(Dedup.SkippedBucketsAcc))
    // the typed kernel keys on a long id; a lossy cast (string, decimal)
    // would silently collapse non-numeric ids to null — refuse instead
    val idType = vecs.select(col(idCol)).schema.head.dataType
    require(Seq("byte", "short", "int", "integer", "long", "bigint")
        .contains(idType.simpleString),
      s"lshNearDupPairs: id column '$idCol' must be an integral type " +
        s"(got ${idType.simpleString}) — map string ids to longs " +
        "(e.g. xxhash64) before calling")
    val planesArr = planes.map(_.toArray).toArray
    vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        var b = 0L
        var p = 0
        while (p < planesArr.length) {
          if (dotD(v, planesArr(p)) >= 0) b |= 1L << p
          p += 1
        }
        (b, id, v)
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val capped = Dedup.cappedBucket(it, maxBucket, skipped)
        if (capped == null) Iterator.empty
        else {
          val rows = capped.sortBy(_._2)
          val out = Iterator.newBuilder[(Long, Long, Double)]
          var i = 0
          while (i < rows.length) {
            var j = i + 1
            while (j < rows.length) {
              val c = cosineD(rows(i)._3, rows(j)._3)
              if (c >= threshold) out += ((rows(i)._2, rows(j)._2, c))
              j += 1
            }
            i += 1
          }
          out.result()
        }
      }
      .toDF("da", "db", "cosine")
  }

  /** Cap on a query batch the serve path may pull to the driver and
    * broadcast: 100k rows of (qid, 64-dim vec) ≈ 26 MB — comfortable;
    * anything bigger is a corpus-shaped frame that belongs on the
    * distributed probe path. */
  private[graft] val MaxDriverQueryRows = 100000

  /** Limit-guarded driver collect of a (qid, qvec) query batch — the
    * single enforcement point for every plan that broadcasts its query
    * batch to executors (IVF serve, PQ/IVF-PQ ADC tables). The `limit`
    * bounds what the guard itself can pull back; past the bound it
    * fails LOUDLY instead of OOMing the driver. */
  private def collectQueryBatch(queries: DataFrame, maxDriverRows: Int,
      caller: String): Array[(Long, Array[Float])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = queries.select(col("qid"), col("qvec")).as[(Long, Array[Float])]
      .limit(maxDriverRows + 1).collect()
    require(rows.length <= maxDriverRows,
      s"$caller: query batch exceeds $maxDriverRows rows — this plan " +
        "broadcasts the batch and builds per-query lookup state on every " +
        "executor; batch the queries, or use ivfTopK's distributed probe " +
        "path for corpus-sized query frames")
    rows
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"), col("cosine"))
  }

  /** Scala-side sequential-fold dot — the same accumulation order and
    * double promotion as [[graft.functions.FloatVecDot]], for typed-map
    * vector math (query-side probing, centroid training). */
  def dotD(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def cosineD(a: Array[Float], b: Array[Float]): Double =
    dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))

  private[graft] def nearestCell(cs: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      val sim = cosineD(v, cs(c))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` max-cosine cells for a vector, nearest first
    * (deterministic index tie-break) — the probe set shared by
    * [[ivfTopK]] and [[graft.streaming.AnnStream]]. */
  private[graft] def nearestCells(cs: Array[Array[Float]], v: Array[Float],
      nprobe: Int): Array[Int] =
    cs.indices.sortBy(c => (-cosineD(v, cs(c)), c))
      .take(math.min(nprobe, cs.length)).toArray

  /** Total clustering cost: Σ over vectors of (1 − max-cosine to any
    * center) — the objective the cosine-geometry Lloyd's rounds descend.
    * One narrow pass, a scalar per partition. */
  def kmeansCost(vecs: DataFrame, vecCol: String, cents: Array[Array[Float]]): Double = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    vecs.select(col(vecCol)).as[Array[Float]]
      .mapPartitions { it =>
        val cs = bc.value
        var s = 0.0
        it.foreach { v =>
          var best = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val sim = cosineD(v, cs(c)); if (sim > best) best = sim; c += 1
          }
          s += 1.0 - best
        }
        Iterator.single(s)
      }
      .collect().sum
  }

  /** k-means‖ initialization (Bahmani et al., VLDB 2012) in a fully
    * deterministic variant — the corpus-scale replacement for "first k
    * rows" seeding, whose quality collapses when the leading rows are
    * not representative:
    *
    *   1. seed with the minimum-id vector;
    *   2. for `rounds` passes, every vector joins the candidate set
    *      independently with probability `l·d(x)/Σd` (d = 1 − max
    *      cosine to the current candidates, l = oversample ≈ 2k); the
    *      coin is a hash of (id, round) against the broadcast cost sum,
    *      so re-runs and task retries draw identically;
    *   3. candidates are weighted by the number of corpus vectors they
    *      attract and RECLUSTERED to k at the driver (Bahmani §3.3):
    *      greedy weighted farthest-point picks the k seeds, then a
    *      deterministic weighted Lloyd's over the candidate set pulls
    *      each seed to the weighted mean of the mass it represents.
    *
    * Each round is two narrow passes (cost sum, coin flips) over the
    * corpus; only ~l candidate vectors ever reach the driver. */
  def kmeansParallelInit(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 3, oversample: Int = 0): Array[Array[Float]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val l = if (oversample > 0) oversample else 2 * k
    val ds = vecs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    def dist(v: Array[Float], cs: Array[Array[Float]]): Double = {
      var best = Double.NegativeInfinity
      var c = 0
      while (c < cs.length) { val s = cosineD(v, cs(c)); if (s > best) best = s; c += 1 }
      math.max(0.0, 1.0 - best)
    }
    // deterministic uniform coin in [0, 1) from (id, round)
    def coin(id: Long, round: Int): Double = {
      val h = XXH64.hashLong(id, 4242L + round)
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
    var cands = Array(ds.orderBy(col(idCol)).first()._2)
    for (round <- 0 until rounds) {
      val bc = spark.sparkContext.broadcast(cands)
      val sumD = ds.mapPartitions { it =>
        val cs = bc.value
        var s = 0.0
        it.foreach { case (_, v) => s += dist(v, cs) }
        Iterator.single(s)
      }.collect().sum
      if (sumD > 0) {
        val picked = ds.mapPartitions { it =>
          val cs = bc.value
          it.filter { case (id, v) => coin(id, round) < l * dist(v, cs) / sumD }
        }.collect()
        cands = cands ++ picked.map(_._2)
      }
    }
    // weight candidates by attraction, then recluster the weighted
    // candidate set into k at the driver (Bahmani §3.3): greedy
    // weighted farthest-point seeds a deterministic weighted Lloyd's.
    // Selection alone over-favors low-weight outliers — measured on the
    // isotropic test embeddings it costs IVF nprobe=4 recall@5 0.9→0.64
    // — while the recluster pulls each seed to the weighted mean of the
    // corpus mass it represents.
    val bcAll = spark.sparkContext.broadcast(cands)
    // treeAggregate (as in kmeansCentroids): one job, a cands-length
    // long array to the driver, no conf-width exchange for l·rounds rows
    val weights = ds.rdd.treeAggregate(new Array[Long](cands.length))(
      seqOp = { case (w, (_, v)) =>
        val cs = bcAll.value
        var best = 0
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          val s = cosineD(v, cs(c)); if (s > bestSim) { bestSim = s; best = c }; c += 1
        }
        w(best) += 1
        w
      },
      combOp = { (x, y) =>
        var i = 0
        while (i < x.length) { x(i) += y(i); i += 1 }
        x
      })
    val out = scala.collection.mutable.ArrayBuffer(cands(weights.indices.maxBy(i => (weights(i), -i))))
    while (out.length < math.min(k, cands.length)) {
      val next = cands.indices.maxBy { i =>
        val d = out.map(c => math.max(0.0, 1.0 - cosineD(cands(i), c))).min
        (weights(i) * d, -i) // deterministic tie-break: lowest index
      }
      out += cands(next)
    }
    // driver-side weighted Lloyd's over the candidates (all arrays are
    // oversample-sized — no distributed work): empty cells keep their
    // seed, ties break to the lowest cell index via strict >
    var cs = out.toArray.map(_.clone())
    val dim = if (cs.nonEmpty) cs(0).length else 0
    for (_ <- 0 until 25) {
      val acc = Array.fill(cs.length)(new Array[Double](dim))
      val wsum = new Array[Double](cs.length)
      var ci = 0
      while (ci < cands.length) {
        val v = cands(ci)
        val w = weights(ci).toDouble
        if (w > 0) {
          var best = 0
          var bestSim = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val s = cosineD(v, cs(c)); if (s > bestSim) { bestSim = s; best = c }; c += 1
          }
          val a = acc(best)
          var i = 0
          val n = math.min(dim, v.length)
          while (i < n) { a(i) += w * v(i); i += 1 }
          wsum(best) += w
        }
        ci += 1
      }
      cs = Array.tabulate(cs.length)(c =>
        if (wsum(c) > 0) Array.tabulate(dim)(i => (acc(c)(i) / wsum(c)).toFloat) else cs(c))
    }
    cs
  }

  /** Distributed Lloyd's k-means in cosine geometry (assignment by max
    * cosine, update by cell mean), `iters` rounds from a caller-supplied
    * deterministic init. One treeAggregate job per round: per-partition
    * k×dim accumulators merge up a √partitions tree and the driver
    * receives a single k×dim array — nothing conf-width ever runs for
    * k rows of data (the MLlib Lloyd's layout; round 6 replaced the
    * groupByKey exchange). [[kmeansParallelInit]] supplies the
    * distributed, quality-seeded init when first-k rows won't do. Empty
    * cells keep their previous centroid. */
  def kmeansCentroids(vecs: DataFrame, vecCol: String,
      init: Array[Array[Float]], iters: Int): Array[Array[Float]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // pin the vectors ONCE for the iteration loop: without it every
    // Lloyd's round re-plans and re-scans the source (iters × scan +
    // deserialize — guide §5 "reused AND recomputing is more expensive").
    // Unpersisted in the finally — no CacheManager entry outlives the
    // call (the pplBuckets TVF discipline).
    val ds = vecs.select(col(vecCol)).as[Array[Float]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // one planned RDD for every round (per-round .rdd would re-plan)
    val rdd = ds.rdd
    var cents = init
    val dim = if (init.nonEmpty) init(0).length else 0
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      // treeAggregate, not groupByKey: the per-partition result is a
      // k×dim accumulator, so a round is ONE job whose tree combine
      // merges ≤ √partitions arrays — no conf-width exchange stage for
      // k rows of data (the MLlib Lloyd's layout). The driver receives
      // a single k×dim×8B array per round — the documented bound on k.
      val (acc, cnt) = rdd.treeAggregate(
        (Array.fill(cents.length)(new Array[Double](dim)), new Array[Long](cents.length)))(
        seqOp = { case (z, v) =>
          val best = nearestCell(bc.value, v)
          val a = z._1(best)
          var i = 0
          val n = math.min(dim, v.length)
          while (i < n) { a(i) += v(i); i += 1 }
          z._2(best) += 1
          z
        },
        combOp = { case (x, y) =>
          var c = 0
          while (c < x._1.length) {
            val xa = x._1(c); val ya = y._1(c)
            var i = 0
            while (i < xa.length) { xa(i) += ya(i); i += 1 }
            x._2(c) += y._2(c)
            c += 1
          }
          x
        })
      cents = Array.tabulate(cents.length) { c =>
        if (cnt(c) > 0) Array.tabulate(dim)(i => (acc(c)(i) / cnt(c)).toFloat)
        else cents(c)
      }
    }
    cents
    } finally ds.unpersist()
  }

  /** IVF search against trained centroids: corpus vectors live in their
    * max-cosine cell (inverted file), queries probe their `nprobe`
    * nearest cells, exact cosine rank within the probed cells. Probing
    * >1 cell is what makes IVF an honest ANN — single-probe recall
    * collapses whenever a query sits near a cell boundary. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      cents: Array[Array[Float]], k: Int, nprobe: Int): DataFrame =
    ivfTopKBounded(corpus, queries, cents, k, nprobe, MaxDriverQueryRows)

  /** [[ivfTopK]] with an injectable driver-batch bound (specs force the
    * distributed path on small frames through it). */
  private[graft] def ivfTopKBounded(corpus: DataFrame, queries: DataFrame,
      cents: Array[Array[Float]], k: Int, nprobe: Int, maxDriverRows: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // ivfTopKAssigned's broadcast-probe plan needs the query batch on
    // the driver; a large distributed query frame must NOT silently
    // ride into that collect (driver-memory cliff). Probe the size with
    // a limit-guarded count and keep the distributed probe path for the
    // big-frame regime: each query flatMaps to its nprobe (cell, qvec)
    // probes and the inverted file is joined on cell — a shuffle both
    // sides, which is the right plan when the query side is itself
    // corpus-sized.
    val small =
      queries.select(col("qid")).limit(maxDriverRows + 1).count() <= maxDriverRows
    if (small) ivfTopKAssigned(assignCells(corpus, cents), queries, cents, k, nprobe)
    else {
      val bc = spark.sparkContext.broadcast(cents)
      val probes = queries.select(col("qid"), col("qvec")).as[(Long, Array[Float])]
        .flatMap { case (qid, v) =>
          nearestCells(bc.value, v, nprobe).map(c => (qid, v, c))
        }
        .toDF("qid", "qvec", "cell")
      val scored = assignCells(corpus, cents)
        .withColumn("_cl", l2norm(col("cvec")))
        .join(probes.withColumn("_ql", l2norm(col("qvec"))), Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          cosinePre(dot(col("qvec"), col("cvec")), col("_ql"), col("_cl")).as("cosine"))
      topK(scored, k)
    }
  }

  /** The inverted file itself: (cid, cvec, cell), cell = max-cosine
    * centroid. The TRAIN-ONCE half of the deployment split — write
    * this `partitionBy("cell")` to parquet and every later
    * [[ivfTopKAssigned]] batch reads ONLY its probed cells via
    * partition pruning. A plain immutable layout is the right storage
    * for a FROZEN index (nothing ever changes after the write); an
    * index that must GROW belongs on the committed lifecycle instead
    * ([[ivfIndexBuild]]/[[ivfIndexAppend]]/[[ivfServedTopK]]) so
    * readers can never observe a half-appended tick. */
  def assignCells(corpus: DataFrame, cents: Array[Array[Float]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    corpus.select(col("cid"), col("cvec")).as[(Long, Array[Float])]
      .map { case (cid, v) => (cid, v, nearestCell(bc.value, v)) }
      .toDF("cid", "cvec", "cell")
  }

  // ---------------------------------------------------------------
  // Committed standing IVF index ([[ManifestIO]]'s versioned-manifest
  // model):
  //   data/<v>/cells/cell=<c>/…     (cid, cvec) rows assigned by tick v
  //   data/<v>/cellstats/           per-cell drift stats of tick v
  //   data/<v>/cidmap/cbucket=<b>/… (cid, cell) reverse map rows — the
  //                                 [[Bm25]] docmap's IVF sibling; see
  //                                 [[readIvfCidmapAt]]
  //   data/<v>/centroids/           (cell, cvec) — the trained geometry
  //
  // An IVF cell only ever GAINS rows on append, so the manifest maps
  // each cell to the LIST of data versions contributing files. Because
  // the centroid artifact travels INSIDE the commit, a serve can never
  // pair one tick's probe geometry with another's cell contents.
  // Centroids are deliberately NOT retrained per tick: geometry drift
  // is a periodic offline rebuild (the standard IVF maintenance
  // split); [[ivfIndexBuild]] over a live dir allocates the next
  // version and replaces the index wholesale without touching the
  // files the committed manifest references.
  // ---------------------------------------------------------------

  /** One committed IVF index state. `cells` is the trained centroid
    * count; `cellVersions` lists, per materialized cell, every data
    * version holding rows for it (append order); `txns` is the
    * writer-transaction LEDGER (appId → last committed epoch, carried
    * forward on every commit — [[ManifestIO.txnAlreadyApplied]], the
    * exactly-once gate for streaming maintenance); `cidVersions` lists,
    * per materialized cid-bucket of the cid→cell REVERSE MAP, every
    * data version contributing rows (ACCRETIVE since round 17, like
    * `cellVersions` and the BM25 docmap's dbuckets — an append writes
    * only its batch's rows; delete/upsert consolidate, compact
    * collapses; empty for a pre-cidmap legacy dir, whose id-only
    * takedowns fall back to the full cells scan). `cellstats` marks
    * the per-(version, cell) DRIFT-STATS sidecar (member count + the
    * BIGINT fixed-point cosine sum vs the committed centroids — the
    * termstats/bandstats discipline applied to the drift alarm):
    * present on every dir this code builds; a pre-sidecar dir
    * recomputes drift from the full cells scan, the documented legacy
    * price until a rebuild. */
  final case class IvfManifest(version: Long, cells: Int, centroidsVersion: Long,
      cellVersions: Map[Int, Seq[Long]], txns: Map[String, Long] = Map.empty,
      cidVersions: Map[Int, Seq[Long]] = Map.empty,
      cellstats: Boolean = false)

  /** The IVF layout for the shared lifecycle verbs. The drift-stats
    * sidecar is one directory per version: the drift read filters it
    * to the referenced (version, cell) pairs. */
  private[graft] object IvfSpec extends ManifestIO.IndexSpec[IvfManifest] {
    val what = "IVF index"

    def render(m: IvfManifest): String =
      s"version=${m.version}\ncells=${m.cells}\ncentroids=${m.centroidsVersion}\n" +
        s"cellVersions=${ManifestIO.renderVersions(m.cellVersions)}\n" +
        (if (m.cidVersions.isEmpty) ""
         else s"cidVersions=${ManifestIO.renderVersions(m.cidVersions)}\n") +
        (if (m.cellstats) "cellstats=1\n" else "") + ManifestIO.renderTxns(m.txns)

    // cidVersions and cellstats are OPTIONAL: a pre-cidmap manifest
    // parses to an empty reverse map, a pre-sidecar one to false (drift
    // falls back to the full cells scan)
    def parse(text: String): IvfManifest = {
      val kv = ManifestIO.parseKv(text)
      IvfManifest(kv("version").toLong, kv("cells").toInt, kv("centroids").toLong,
        ManifestIO.parseVersions(kv("cellVersions")), ManifestIO.parseTxns(kv),
        kv.get("cidVersions").map(ManifestIO.parseVersions).getOrElse(Map.empty),
        kv.get("cellstats").contains("1"))
    }

    def accreting(m: IvfManifest): Seq[ManifestIO.Accreting] = Seq(
      ManifestIO.Accreting("cells", "cell", m.cellVersions,
        Some(ManifestIO.Sidecar("cellstats", perPartition = false, m.cellstats))),
      ManifestIO.Accreting("cidmap", "cbucket", m.cidVersions))

    override def single(m: IvfManifest): Seq[(String, Long)] =
      Seq("centroids" -> m.centroidsVersion)

    def read(spark: SparkSession, dir: String, m: IvfManifest, name: String,
        parts: Set[Int]): DataFrame =
      if (name == "cells") readIvfCellsAt(spark, dir, m, Some(parts))
      else readIvfCidmapAt(spark, dir, m, Some(parts))

    def writeSidecar(spark: SparkSession, dir: String, m: IvfManifest,
        ver: Long): Unit =
      writeCellstats(spark, dir, ver, readIvfCentroidsAt(spark, dir, m))

    def updated(m: IvfManifest, version: Long,
        versions: Map[String, Map[Int, Seq[Long]]]): IvfManifest =
      m.copy(version = version, cellVersions = versions("cells"),
        cidVersions = versions("cidmap"))

    def txns(m: IvfManifest): Map[String, Long] = m.txns

    def withTxns(m: IvfManifest, txns: Map[String, Long]): IvfManifest =
      m.copy(txns = txns)
  }

  /** The committed manifest — every reader's one CURRENT read. */
  def readIvfManifest(spark: SparkSession, dir: String): IvfManifest =
    IvfSpec.current(spark, dir)

  /** The committed centroid geometry, indexed by cell id. */
  def readIvfCentroids(spark: SparkSession, dir: String): Array[Array[Float]] =
    readIvfCentroidsAt(spark, dir, readIvfManifest(spark, dir))

  /** Per-JVM cache of committed centroid artifacts, keyed by
    * (dir, centroidsVersion): a committed data version's files are
    * IMMUTABLE (ticks only write new versions; vacuum only deletes
    * unreferenced ones), so the cached geometry can never go stale —
    * a rebuild commits a new centroidsVersion and misses the cache by
    * key. BOUNDED: a miss that inserts a version evicts the dir's
    * OLDER versions, so a long-lived serving JVM that rebuilds an
    * index N times holds one cells×dim copy per version still being
    * served, not N (a reader still pinned to an evicted version just
    * re-reads its parquet — correctness never depended on the cache). */
  private val ivfCentroidCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), Array[Array[Float]]]

  /** The dir's cached centroid versions — the cache-bound spec's
    * observation hook. */
  private[graft] def cachedCentroidVersions(dir: String): Set[Long] =
    ivfCentroidCache.keys.collect { case (d, v) if d == dir => v }.toSet

  /** [[readIvfCentroids]] against an already-read manifest — serve and
    * append read CURRENT once and thread the manifest through every
    * artifact read (the [[Bm25.readPostingsAt]] discipline). Cache
    * hits (the steady state) never scan the key set; the eviction of
    * the dir's superseded versions runs only when a NEWER version's
    * miss inserts, so a reader pinned inside the vacuum grace window
    * keeps its geometry cached until a rebuild actually lands. */
  def readIvfCentroidsAt(spark: SparkSession, dir: String,
      m: IvfManifest): Array[Array[Float]] =
    ivfCentroidCache.get((dir, m.centroidsVersion)) match {
      case Some(v) => v
      case None =>
        val rows = spark.read.parquet(s"$dir/data/${m.centroidsVersion}/centroids")
          .select(col("cell"), col("cvec")).collect()
          .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
        require(rows.size == m.cells,
          s"IVF centroid artifact holds ${rows.size} cells, manifest says ${m.cells}")
        val loaded = Array.tabulate(m.cells)(rows(_))
        ivfCentroidCache.putIfAbsent((dir, m.centroidsVersion), loaded)
        ivfCentroidCache.keys
          .filter { case (d, v) => d == dir && v < m.centroidsVersion }
          .foreach(ivfCentroidCache.remove)
        loaded
    }

  /** The committed inverted file (cid, cvec, cell): each wanted cell
    * read from the explicit data-version paths its manifest entry
    * lists — uncommitted ticks' files are invisible, and with
    * `onlyCells` the unprobed cells are never even listed (the serve
    * path's partition pruning, made literal). */
  def readIvfCells(spark: SparkSession, dir: String,
      onlyCells: Option[Set[Int]] = None): DataFrame =
    readIvfCellsAt(spark, dir, readIvfManifest(spark, dir), onlyCells)

  /** [[readIvfCells]] against an already-read manifest. */
  def readIvfCellsAt(spark: SparkSession, dir: String, m: IvfManifest,
      onlyCells: Option[Set[Int]] = None): DataFrame = {
    val wanted = onlyCells match {
      case Some(cs) => m.cellVersions.filter { case (c, _) => cs(c) }
      case None => m.cellVersions
    }
    ManifestIO.readVersionedArtifact(spark, dir, "cells", "cell",
      "cid BIGINT, cvec ARRAY<FLOAT>, cell INT",
      wanted.toSeq.flatMap { case (c, vs) => vs.map(v => (v, c)) })
  }

  /** [[readIvfCidmapAt]] with its own CURRENT read — the monitoring /
    * TVF surface; composed readers must thread one manifest instead. */
  def readIvfCidmap(spark: SparkSession, dir: String): DataFrame =
    readIvfCidmapAt(spark, dir, readIvfManifest(spark, dir))

  /** The cid-bucket a vector id's reverse-map row lives in — a PURE
    * FUNCTION of the id (the [[Bm25]] docmap's dbucket rule), so an
    * id-only takedown finds its rows by reading ≤ |ids| cbucket dirs
    * instead of scanning the inverted file. Bucket count = the trained
    * cell count: the reverse map partitions at the same granularity as
    * the data it points into. */
  private def cidCbucket(cid: Column, cells: Int): Column =
    pmod(xxhash64(cid), lit(cells)).cast("int")

  /** The committed cid→cell REVERSE MAP (cid, cell, cbucket): one row
    * per materialized index member — a cid ingested twice under
    * different vectors (update-by-append) lists BOTH its cells, which
    * is exactly what makes [[ivfIndexDeleteByIds]]' every-copy contract
    * scan-free. cbuckets are ACCRETIVE (an append writes only its
    * batch's rows and appends its version to the touched cbuckets'
    * lists; delete/upsert consolidate a cbucket back to one version,
    * [[ivfIndexCompact]] collapses long lists — round 17, closing the
    * round-16 verdict's weak flag: the previous rewrite-on-append paid
    * ~N/B existing rows per touched cbucket, index-bound IO per tick),
    * so superseded versions retire through the ordinary vacuum.
    * cbucket is a pure function of cid, so the accreted partitions
    * read FUSED (one scan stage across contributing versions — the
    * [[ManifestIO.readVersionedArtifactFused]] rationale). Empty for
    * a pre-cidmap legacy dir. */
  def readIvfCidmapAt(spark: SparkSession, dir: String, m: IvfManifest,
      onlyCbuckets: Option[Set[Int]] = None): DataFrame = {
    val wanted = onlyCbuckets match {
      case Some(ks) => m.cidVersions.filter { case (k, _) => ks(k) }
      case None => m.cidVersions
    }
    ManifestIO.readVersionedArtifactFused(spark, dir, "cidmap", "cbucket",
      "cid BIGINT, cell INT, cbucket INT",
      wanted.toSeq.flatMap { case (k, vs) => vs.map(v => (v, k)) },
      cidCbucket(col("cid"), m.cells))
  }

  /** Write the reverse-map rows of the members just written under
    * `data/<ver>/cells` (read back from the committed-to-be artifact —
    * no second corpus assignment) and return the materialized cbucket
    * ids. Batch rows ONLY — the accretive model's write shape; the
    * caller accretes (append) or replaces (build) the manifest
    * entries. */
  private def writeCidmap(spark: SparkSession, dir: String,
      ver: Long, cells: Int): Seq[Int] = {
    ManifestIO.writePartitioned(spark.read.parquet(s"$dir/data/$ver/cells")
      .select(col("cid"), col("cell").cast("int").as("cell"))
      .distinct()
      .withColumn("cbucket", cidCbucket(col("cid"), cells)),
      dir, ver, "cidmap", "cbucket")
  }

  /** Derive one tick's DRIFT-STATS sidecar from its JUST-WRITTEN cells
    * (read-back, the termstats/bandstats discipline): one
    * (cell, n, sum_cos_fp) row per cell the version wrote — the member
    * count and the order-independent BIGINT sum of floor(cos·10⁶) vs
    * the manifest's committed centroids, exactly the per-row quantity
    * [[ivfGeometryDrift]] folds. Per-CELL granularity (not one row per
    * version) because a later delete can supersede SOME of a version's
    * cells: the drift read aggregates only the (version, cell) pairs
    * the manifest still references, so partially superseded versions
    * report exactly their live mass. With the sidecar, the
    * `driftEvery` alarm cadence ([[graft.streaming.IndexMaintain
    * .ivfSink]]) pays a cells-COUNT-sized read per tick instead of
    * scanning every committed vector. No-op when the version wrote no
    * cells. */
  private def writeCellstats(spark: SparkSession, dir: String, ver: Long,
      cents: Array[Array[Float]]): Unit = {
    import spark.implicits._
    val cellsDir = s"$dir/data/$ver/cells"
    if (ManifestIO.partitionIds(spark, cellsDir, "cell=").nonEmpty) {
      // centroid norms once on the 16-row broadcast side, member norm
      // once per row — not 3 dots per (member, centroid) pair; the
      // Scala-side sqrt(dotD) equals the codegen'd sqrt(fvec_dot)
      // bit-for-bit (same fold, same promotion, IEEE sqrt)
      val centDf = cents.toSeq.zipWithIndex
        .map { case (cv, c) => (c, cv.toSeq, math.sqrt(dotD(cv, cv))) }
        .toDF("cell", "centvec", "_centl2")
      spark.read.parquet(cellsDir)
        .select(col("cell").cast("int").as("cell"), col("cvec"))
        .join(broadcast(centDf), "cell")
        .select(col("cell"),
          floor(cosinePre(dot(col("cvec"), col("centvec")),
            l2norm(col("cvec")), col("_centl2")) * lit(1000000.0)).cast("long")
            .as("cos_fp"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("cos_fp")).as("sum_cos_fp"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/data/$ver/cellstats")
    }
  }

  /** BUILD (or offline rebuild) of the committed IVF index: assign the
    * corpus under `cents`, write the cell-partitioned inverted file and
    * the centroid artifact under a fresh data version, commit both with
    * one CURRENT rename. Over a dir already holding a committed index
    * this allocates version committed+1 — the live manifest's files are
    * never touched, so a crash mid-rebuild is invisible to readers and
    * the flip replaces the index wholesale (the periodic retrain +
    * re-encode tick of real IVF maintenance). */
  def ivfIndexBuild(corpus: DataFrame, dir: String,
      cents: Array[Array[Float]]): Unit = {
    require(cents.nonEmpty, "IVF index needs at least one centroid")
    val spark = corpus.sparkSession
    import spark.implicits._
    // a REBUILD carries the txn ledger forward (ManifestIO.buildSlot's
    // rebuild-over-union contract), same as [[Bm25.buildIndex]]
    val (ver, priorTxns) = ManifestIO.buildSlot(spark, dir)
    ManifestIO.guardSlot(spark, dir, ver)
    val present = ManifestIO.writePartitioned(assignCells(corpus, cents),
      dir, ver, "cells", "cell").map(_ -> Seq(ver)).toMap
    cents.toSeq.zipWithIndex.map { case (v, c) => (c, v.toSeq) }
      .toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data/$ver/centroids")
    // the cid→cell reverse map, fresh with the build
    val cidVers =
      if (present.isEmpty) Map.empty[Int, Seq[Long]]
      else writeCidmap(spark, dir, ver, cents.length)
        .map(_ -> Seq(ver)).toMap
    // the drift-stats sidecar rides every build (see [[writeCellstats]])
    writeCellstats(spark, dir, ver, cents)
    ManifestIO.commit(spark, dir, ver,
      IvfSpec.render(IvfManifest(ver, cents.length, ver, present, priorTxns, cidVers,
        cellstats = true)))
  }

  /** APPEND tick of the committed served-IVF lifecycle
    * ([[ivfIndexBuild]] builds, [[ivfServedTopK]] serves, this grows):
    * assign a new vector batch under the index's OWN committed
    * centroids (read from the manifest — the caller cannot hand the
    * tick a geometry the serve side won't use) and write the rows as
    * new files under a fresh data version. Nothing is rewritten — an
    * IVF append is pure accretion — but the commit still matters: an
    * uncommitted tick's files are invisible to every reader, so a
    * writer crash can never leave a half-appended batch in serve
    * results. An empty batch is a no-op. One [[ManifestIO.tick]]. */
  def ivfIndexAppend(spark: SparkSession, dir: String, corpus: DataFrame,
      txn: Option[(String, Long)] = None): Unit =
    ivfAppendTick(spark, dir, corpus, txn)

  /** The ACCRETING kernel behind [[ivfIndexAppend]]; `crashPoint` as in
    * [[ManifestIO.tick]]. */
  private[graft] def ivfAppendTick(spark: SparkSession, dir: String,
      corpus: DataFrame, txn: Option[(String, Long)] = None, crashPoint: Int = 0): Unit =
    ManifestIO.tick(spark, dir, IvfSpec, txn, crashPoint) { m =>
      // ONE pinned, cid-distinct materialization of the batch
      // (ManifestIO.dedupBatch — the uniform intra-batch rule): the
      // no-op gate and the cell write see the same rows for
      // non-deterministic frames, a vector re-submitted within one
      // micro-batch ingests once, and two DIFFERENT vectors under one
      // cid in one batch reject loudly
      val batch = ManifestIO.dedupBatch(corpus, "cid", Seq("cvec"), "IVF append")
      if (batch.isEmpty) None
      else Some { newVer =>
        val cents = readIvfCentroidsAt(spark, dir, m)
        val touched = ManifestIO.writePartitioned(assignCells(batch, cents),
          dir, newVer, "cells", "cell")
        // reverse-map maintenance — ACCRETIVE, like the cells: the
        // batch's (cid, cell) rows only, the version appended onto the
        // touched cbuckets' lists (O(batch) at any index size).
        // delete/upsert consolidate; [[ivfIndexCompact]] collapses long
        // lists. Maintained iff the index HAS a cidmap (or is being
        // born) — starting one mid-life on a pre-cidmap legacy dir would
        // leave a map that silently misses every pre-existing member.
        val newCidVers =
          if (m.cidVersions.isEmpty && m.cellVersions.nonEmpty) m.cidVersions
          else ManifestIO.accrete(m.cidVersions, writeCidmap(spark, dir, newVer, m.cells),
            newVer)
        // the drift-stats sidecar rides the same write (batch-sized)
        if (m.cellstats) writeCellstats(spark, dir, newVer, cents)
        m.copy(version = newVer,
          cellVersions = ManifestIO.accrete(m.cellVersions, touched, newVer),
          cidVersions = newCidVers)
      }
    }

  /** What a consolidating IVF tick takes out, located against the
    * tick's pinned manifest: the cids leaving (distinct), the
    * materialized cells holding the copies to remove, and the
    * materialized cbuckets of the cid→cell reverse map to rewrite. */
  private[graft] final case class IvfRemoval(ids: DataFrame, cells: Seq[Int],
      cbuckets: Seq[Int])

  /** An IVF removal locator: None = nothing to do, no commit. */
  private[graft] type IvfLocate = (SparkSession, String, IvfManifest) => Option[IvfRemoval]

  /** The CONSOLIDATING kernel behind every IVF delete, upsert and CDC
    * verb: each touched cell — the located removal's plus, for an
    * upsert, the new assignments' — is rewritten ONCE as
    * (committed − removed cids) ∪ new rows, consolidating its manifest
    * entry to the new version (a cell emptied by the rewrite leaves the
    * manifest); a reverse-map row leaves with exactly the (cid, cell)
    * copy it points at, so the map mirrors the cells; the rewritten
    * cells' drift stats ride along. `upserts` are pinned, cid-distinct
    * (cid, cvec) rows. Contract: tick == build over
    * (corpus − removed) ∪ upserts. */
  private[graft] def ivfChangeTick(spark: SparkSession, dir: String,
      upserts: Option[DataFrame], locate: IvfLocate,
      txn: Option[(String, Long)] = None, crashPoint: Int = 0): Unit =
    ManifestIO.tick(spark, dir, IvfSpec, txn, crashPoint) { m =>
      locate(spark, dir, m).map { rm => newVer =>
        val cents = readIvfCentroidsAt(spark, dir, m)
        val assigned = upserts.map(assignCells(_, cents)
          .select(col("cid"), col("cvec"), col("cell")).localCheckpoint(true))
        val touched = (rm.cells ++ assigned.toSeq.flatMap(_.select(col("cell"))
          .distinct().collect().map(_.getInt(0)))).distinct // ≤ cell count values
        val kept = readIvfCellsAt(spark, dir, m, Some(touched.toSet))
          .join(rm.ids, Seq("cid"), "left_anti")
          .select(col("cid"), col("cvec"), col("cell"))
        val present =
          if (touched.isEmpty) Seq.empty[Int]
          else ManifestIO.writePartitioned(assigned.fold(kept)(a => kept.unionByName(a)),
            dir, newVer, "cells", "cell")
        val maintainCidmap =
          m.cidVersions.nonEmpty || (upserts.isDefined && m.cellVersions.isEmpty)
        val newCidVers =
          if (!maintainCidmap ||
              (upserts.isEmpty && (rm.cells.isEmpty || rm.cbuckets.isEmpty))) m.cidVersions
          else {
            // a cid's old and new reverse rows share one cbucket (a pure
            // function of the id); a copy in an untouched cell keeps its
            // row — the assignment-local gap of [[ivfIndexDelete]]
            val keptC = readIvfCidmapAt(spark, dir, m, Some(rm.cbuckets.toSet))
              .join(rm.ids.withColumn("_del", lit(true)), Seq("cid"), "left")
              .filter(col("_del").isNull || !col("cell").isin(rm.cells: _*))
              .select(col("cid"), col("cell"), col("cbucket"))
            ManifestIO.consolidate(m.cidVersions, rm.cbuckets, ManifestIO.writePartitioned(
              assigned.fold(keptC)(a => keptC.unionByName(a.select(col("cid"), col("cell"))
                .withColumn("cbucket", cidCbucket(col("cid"), m.cells))).distinct()),
              dir, newVer, "cidmap", "cbucket"), newVer)
          }
        if (m.cellstats && touched.nonEmpty) writeCellstats(spark, dir, newVer, cents)
        m.copy(version = newVer,
          cellVersions = ManifestIO.consolidate(m.cellVersions, touched, present, newVer),
          cidVersions = newCidVers)
      }
    }

  /** The materialized reverse-map cbuckets of `ids` (cid) — a pure
    * function of the ids; empty on a pre-cidmap dir. */
  private def cbucketsOf(ids: DataFrame, m: IvfManifest): Seq[Int] =
    if (m.cidVersions.isEmpty) Seq.empty
    else ids.select(cidCbucket(col("cid"), m.cells))
      .distinct().collect().map(_.getInt(0)).toSeq // ≤ cell count values
      .filter(m.cidVersions.contains)

  /** Locate a vector-carrying takedown batch ([[ivfIndexDelete]]) by
    * ASSIGNMENT under the committed centroids: one pinned copy, the
    * cells its vectors assign to (broadcast geometry, no index scan).
    * None for an empty batch; a batch assigning only to unmaterialized
    * cells still ticks (nothing to rewrite). */
  private[graft] def byVector(batch: DataFrame): IvfLocate = (spark, dir, m) => {
    val pinned = batch.select(col("cid").cast("long").as("cid"), col("cvec"))
      .localCheckpoint(true)
    if (pinned.isEmpty) None
    else {
      val assigned = assignCells(pinned, readIvfCentroidsAt(spark, dir, m))
      val cells = assigned.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq // ≤ cell count values
        .filter(m.cellVersions.contains)
      val ids = assigned.select(col("cid")).distinct()
      Some(IvfRemoval(ids, cells, if (cells.isEmpty) Seq.empty else cbucketsOf(ids, m)))
    }
  }

  /** Locate by cid ([[ivfIndexDeleteByIds]], [[ivfIndexUpsert]],
    * [[ivfApplyChanges]]) — EVERY copy of a cid, including a stale
    * update-by-append vector in another cell: the cid→cell reverse map
    * is read from the ids' cbuckets only (≤ |ids| dirs, no cells scan);
    * a pre-cidmap legacy dir pays ONE full cells scan instead. A pure
    * delete whose ids match nothing is no tick. */
  private[graft] def ivfByIds(ids0: DataFrame, upserting: Boolean): IvfLocate =
    (spark, dir, m) => {
      val ids = ids0.select(col("cid")).distinct().localCheckpoint(true)
      if (ids.isEmpty) None
      else {
        val cbuckets = cbucketsOf(ids, m)
        val cells = (if (m.cidVersions.nonEmpty)
            readIvfCidmapAt(spark, dir, m, Some(cbuckets.toSet))
          else readIvfCellsAt(spark, dir, m))
          .join(ids, Seq("cid"), "left_semi").select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSeq // ≤ cell count values
          .filter(m.cellVersions.contains)
        if (cells.isEmpty && !upserting) None
        else Some(IvfRemoval(ids, cells, cbuckets))
      }
    }

  /** DELETE tick of the committed-IVF lifecycle — the takedown /
    * opt-out verb, inverse of [[ivfIndexAppend]]: `batch` carries the
    * (cid, cvec) rows to remove WITH their vectors, so the affected
    * cells are known by ASSIGNMENT under the index's own committed
    * centroids ([[byVector]] — the same locality argument as BM25's
    * term buckets); only those cells are read and consolidated. Serving
    * afterwards equals an index built over the corpus minus the batch.
    * Contract: the batch must be previously ingested (cid, cvec) rows;
    * re-deliveries are the txn ledger's job. LIMITATION, stated for the
    * legal-takedown use: if a cid was ever ingested with a DIFFERENT
    * vector (update-by-append), that stale copy sits in another cell
    * and survives this tick silently. An id-level takedown that must
    * catch every copy belongs on [[ivfIndexDeleteByIds]]. One
    * [[ManifestIO.tick]]. */
  def ivfIndexDelete(spark: SparkSession, dir: String, batch: DataFrame,
      txn: Option[(String, Long)] = None): Unit =
    ivfChangeTick(spark, dir, None, byVector(batch), txn)

  /** ID-ONLY (strict) takedown of the committed IVF index — the
    * [[Bm25.deleteByIds]] sibling: `ids` carries bare cids (the real
    * opt-out feed shape, no vectors), and the tick removes a cid's
    * EVERY copy ([[ivfByIds]] — no cells scan on any index this
    * lifecycle built). The rewrite stays local: only cells that held a
    * matched cid consolidate. Ids never ingested (or already deleted)
    * match nothing and commit nothing. One [[ManifestIO.tick]]. */
  def ivfIndexDeleteByIds(spark: SparkSession, dir: String,
      ids: DataFrame, txn: Option[(String, Long)] = None): Unit =
    ivfChangeTick(spark, dir, None,
      ivfByIds(ids.select(col("cid").cast("long").as("cid")), upserting = false), txn)

  /** UPSERT tick of the committed-IVF lifecycle — the REFRESH verb
    * (the [[Bm25.upsertIndex]] sibling): `batch` carries (cid, cvec)
    * rows that REPLACE every committed copy of the same cid — stale
    * update-by-append copies in other cells included — and
    * plain-append cids the index has never seen, in ONE crash-atomic
    * commit. Two revisions of one cid reject loudly
    * ([[ManifestIO.dedupBatch]]). Serving afterwards equals an index
    * built over (corpus − batch cids) ∪ batch. */
  def ivfIndexUpsert(spark: SparkSession, dir: String,
      batch: DataFrame, txn: Option[(String, Long)] = None): Unit = {
    val up = ManifestIO.dedupBatch(
      batch.select(col("cid").cast("long").as("cid"), col("cvec")),
      "cid", Seq("cvec"), "IVF upsert")
    ivfChangeTick(spark, dir, Some(up), ivfByIds(up, upserting = true), txn)
  }

  /** MIGRATION tick — the [[Bm25.buildDocmap]] sibling: retrofit the
    * cid→cell reverse map onto a pre-cidmap legacy dir with ONE full
    * cells scan, so every later strict id-only takedown/upsert locates
    * by the pure id→cbucket function. (Appends refuse to start a
    * partial map; this builds the complete one in one committed
    * version.) A dir that already has a cidmap is a no-op (returns
    * false). One [[ManifestIO.tick]]. */
  def ivfBuildCidmap(spark: SparkSession, dir: String): Boolean =
    ManifestIO.tick(spark, dir, IvfSpec, None) { m =>
      // already maintained, or empty (the next append starts one): no tick
      if (m.cidVersions.nonEmpty || m.cellVersions.isEmpty) None
      else Some { newVer =>
        // ONE full cells scan — the price the map exists to retire
        val presentD = ManifestIO.writePartitioned(readIvfCellsAt(spark, dir, m)
          .select(col("cid"), col("cell")).distinct()
          .withColumn("cbucket", cidCbucket(col("cid"), m.cells)),
          dir, newVer, "cidmap", "cbucket")
        m.copy(version = newVer, cidVersions = presentD.map(_ -> Seq(newVer)).toMap)
      }
    }

  /** CHANGE-APPLY tick — the CDC verb (the [[Bm25.applyChanges]]
    * sibling): ONE mixed micro-batch of upserts and deletes folds into
    * the committed IVF index in ONE crash-atomic commit. `changes`
    * carries (op, cid, cvec) rows, op `'upsert'`
    * ([[ivfIndexUpsert]] semantics — cvec required) or `'delete'`
    * (the strict [[ivfIndexDeleteByIds]] semantics — cvec ignored).
    * An id carrying both ops in one batch is rejected. Contract:
    * apply == build over (corpus − all change cids) ∪ upsert rows. */
  def ivfApplyChanges(spark: SparkSession, dir: String, changes: DataFrame,
      opCol: String, txn: Option[(String, Long)] = None): Unit = {
    val (ups, dels) = ManifestIO.splitChanges(
      changes.select(col(opCol), col("cid").cast("long").as("cid"), col("cvec")),
      opCol, "cid", Seq("cvec"))
    ivfChangeTick(spark, dir, Some(ups),
      ivfByIds(ups.select(col("cid")).unionByName(dels), upserting = true), txn)
  }

  /** COMPACT tick of the committed-IVF lifecycle
    * ([[ManifestIO.compact]]): every cell with ≥ `minVersions` distinct
    * contributing versions is rewritten into ONE new data version with
    * its drift stats (a pure physical rewrite — membership, vectors and
    * scores are bit-identical, so the recount equals the superseded
    * versions' sums); the cid→cell reverse map's fragmented cbuckets
    * (it accretes on append too) collapse in the same tick. Single-
    * writer maintenance, like vacuum — run it from the index's one
    * writer (the [[graft.streaming.IndexMaintain.ivfSink]] cadence
    * does). Returns the compacted cell ids. */
  def ivfIndexCompact(spark: SparkSession, dir: String,
      minVersions: Int = 2): Seq[Int] =
    ManifestIO.compact(spark, dir, IvfSpec, minVersions, crashPoint = 0)

  /** EXPORT (deep clone) of the committed IVF index AS OF `version`
    * (default CURRENT, -1) into the FRESH dir `destDir`: the referenced
    * per-(version, cell) partitions, cid→cell reverse-map partitions,
    * drift-stats dirs and the trained centroids
    * ([[ManifestIO.exportIndex]]). Returns the exported version. */
  def ivfIndexExport(spark: SparkSession, srcDir: String, destDir: String,
      version: Long = -1L): Long =
    ManifestIO.exportIndex(spark, srcDir, destDir, version, IvfSpec)

  /** VACUUM tick of the committed-IVF lifecycle ([[ManifestIO.vacuum]]):
    * retires replaced rebuilds and crashed ticks' orphans. Appends never
    * supersede data — cells AND cidmap cbuckets both accrete — so a
    * healthy append-only index deletes nothing here until a rebuild,
    * delete/upsert consolidation or compaction retires history; the
    * artifacts supersede INDEPENDENTLY (cells by rebuild/delete/compact,
    * centroids by rebuild only, cidmap cbuckets by every delete/upsert),
    * which the artifact pass reclaims even while another artifact keeps
    * the version dir. Returns the data versions that lost their dir or
    * any artifact subtree. */
  def ivfVacuum(spark: SparkSession, dir: String,
      graceVersions: Long = 2L, graceMillis: Long = 0L): Seq[Long] =
    ManifestIO.vacuum(spark, dir, IvfSpec, graceVersions, graceMillis)

  /** Geometry-drift report of the committed IVF index, computed from
    * the COMMITTED ARTIFACTS ALONE — one CURRENT read pins manifest,
    * centroid artifact and cell files; no source corpus, no retrain.
    * One row per contributing data version: the member count and the
    * fixed-point mean cosine of that version's vectors to their
    * assigned (frozen) centroids.
    *
    * Why it exists: the committed lifecycle deliberately freezes
    * centroids ([[ivfIndexBuild]]'s maintenance split) — appended
    * batches land in trained geometry. As the appended distribution
    * drifts, members sit farther from their centroids, cell pruning
    * loses recall, and a REBUILD is due. This report is the alarm a
    * standing deployment monitors: per-version mean-cos falling below
    * the build version's is drift made visible, from artifacts a
    * monitoring job can read without touching the corpus.
    *
    * Determinism: each member contributes floor(cos·10⁶) as BIGINT —
    * an order-independent integer sum (double sums through groupBy are
    * accumulation-order-dependent); `mean_cos_fp` is BIGINT integral
    * division. Scale shape (round 17): on a sidecar'd index the whole
    * report derives from the cells-COUNT-sized drift-stats artifact
    * ([[writeCellstats]] — per-(version, cell) partial sums written by
    * every cells-writing tick), so the `driftEvery` alarm cadence
    * never scans a committed vector; a pre-sidecar legacy dir pays one
    * cells scan shuffling only (version, cos_fp) aggregates, centroids
    * broadcast — the documented legacy price until a rebuild. */
  def ivfGeometryDrift(spark: SparkSession, dir: String): DataFrame =
    ivfGeometryDriftAt(spark, dir, readIvfManifest(spark, dir))

  /** [[ivfGeometryDrift]] against an already-read manifest (the
    * multi-artifact-reader pin discipline — [[ivfDriftVerdict]] needs
    * the report and the manifest's centroidsVersion from ONE commit
    * point). */
  private def ivfGeometryDriftAt(spark: SparkSession, dir: String,
      m: IvfManifest): DataFrame = {
    import spark.implicits._
    val byVer = m.cellVersions.toSeq
      .flatMap { case (c, vs) => vs.map(v => (v, c)) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    if (byVer.isEmpty) {
      // an index with no materialized cells (empty build, or fully
      // deleted) has nothing to drift
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "version BIGINT, n_vectors BIGINT, sum_cos_fp BIGINT, mean_cos_fp BIGINT"))
    }
    // per-version (n, Σcos_fp): from the cells-COUNT-sized drift-stats
    // sidecar when the index carries one (each version's per-cell
    // partial sums, restricted to the cells the manifest still
    // references — a later consolidation that superseded SOME of a
    // version's cells drops exactly their rows); a pre-sidecar legacy
    // dir recomputes them from the full committed cells, the
    // documented legacy price. Identical integers either way: BIGINT
    // partial sums are order-independent and additive.
    val agg =
      if (m.cellstats)
        byVer.map { case (v, cs) =>
          spark.read.parquet(s"$dir/data/$v/cellstats")
            .filter(col("cell").isin(cs.map(_._2).map(Int.box): _*))
            .select(lit(v).as("version"), col("n"), col("sum_cos_fp"))
        }.reduce(_ unionByName _)
          .groupBy(col("version"))
          .agg(sum(col("n")).as("n_vectors"),
            sum(col("sum_cos_fp")).as("sum_cos_fp"))
      else {
        val cents = readIvfCentroidsAt(spark, dir, m)
        val members = byVer.map { case (v, cs) =>
          spark.read.option("basePath", s"$dir/data/$v/cells")
            .parquet(cs.map(_._2).sorted.map(c => s"$dir/data/$v/cells/cell=$c"): _*)
            .select(lit(v).as("version"), col("cvec"),
              col("cell").cast("int").as("cell"))
        }.reduce(_ unionByName _)
        val centDf = cents.toSeq.zipWithIndex
          .map { case (cv, c) => (c, cv.toSeq) }.toDF("cell", "centvec")
        members.join(broadcast(centDf), "cell")
          .select(col("version"),
            floor(cosine(col("cvec"), col("centvec")) * lit(1000000.0)).cast("long")
              .as("cos_fp"))
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n_vectors"), sum(col("cos_fp")).as("sum_cos_fp"))
      }
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{EvalMode, IntegralDivide}
    agg.select(col("version"), col("n_vectors"), col("sum_cos_fp"),
        GraftBridge.column(IntegralDivide(
          GraftBridge.expression(col("sum_cos_fp")),
          GraftBridge.expression(col("n_vectors")),
          evalMode = EvalMode.LEGACY)).as("mean_cos_fp"))
      .orderBy(col("version"))
  }

  /** The drift alarm as a VERDICT, not a time series: one row saying
    * whether a rebuild is due, so a monitoring job tails a boolean
    * instead of re-deriving the comparison from
    * [[ivfGeometryDrift]]'s per-version rows every poll. The REFERENCE
    * is the version that trained the committed geometry
    * (centroidsVersion — its own members are the trained
    * distribution); if a delete consolidated that version away, the
    * oldest surviving version stands in (closest to trained). The
    * LATEST version is the most recent appended mass. `rebuild_due`
    * fires when the latest version's mean cosine has fallen more than
    * `rebuildDropPct` percent below the reference's — the threshold
    * the IvfDriftScale receipt calibrated (recall@5 bled 0.97→0.75
    * while mean_cos_fp fell 57%; ~25% is the alarm point). All-BIGINT
    * comparison (`latest·100 < ref·(100-pct)`), assuming a positive
    * reference mean (normalized-embedding corpora; a non-positive
    * reference reports rebuild_due = false — geometry that bad needs a
    * human, not a threshold). A single-version index (nothing appended
    * yet) is its own reference: rebuild_due = false. Empty index →
    * empty frame. Reads the drift-stats sidecar like the report (a
    * legacy dir pays the one cells scan). */
  def ivfDriftVerdict(spark: SparkSession, dir: String,
      rebuildDropPct: Int = 25): DataFrame = {
    require(rebuildDropPct >= 0 && rebuildDropPct < 100,
      s"rebuildDropPct must be in [0, 100), got $rebuildDropPct")
    val m = readIvfManifest(spark, dir)
    // the report is ≤ |versions| rows — pin it so the ref/latest
    // selections below don't re-run the cells scan per branch
    val drift = ivfGeometryDriftAt(spark, dir, m).localCheckpoint(true)
    val hasBuildRow = !drift.filter(col("version") === m.centroidsVersion).isEmpty
    val ref0 =
      if (hasBuildRow) drift.filter(col("version") === m.centroidsVersion)
      else drift.orderBy(col("version")).limit(1)
    val ref = ref0.select(col("version").as("ref_version"),
      col("mean_cos_fp").as("ref_mean_cos_fp"))
    val latest = drift.orderBy(col("version").desc).limit(1)
      .select(col("version").as("latest_version"),
        col("mean_cos_fp").as("latest_mean_cos_fp"))
    ref.crossJoin(latest)
      .select(col("ref_version"), col("ref_mean_cos_fp"),
        col("latest_version"), col("latest_mean_cos_fp"),
        (col("ref_mean_cos_fp") > 0L &&
          col("latest_mean_cos_fp") * lit(100L) <
            col("ref_mean_cos_fp") * lit(100L - rebuildDropPct))
          .as("rebuild_due"))
  }

  /** Result of one IVF admission tick: per-batch-vector verdicts
    * (cid, admitted, n_ref_matches) and whether anything was appended. */
  final case class IvfAdmission(decisions: DataFrame, appended: Long)

  /** ADMISSION tick of the committed-IVF lifecycle — the embedding
    * sibling of [[Dedup.minhashIndexAdmit]] (text's t49 gate): gate an
    * arriving vector batch against the standing index by cosine
    * near-duplicate search (each vector probes its `nprobe` nearest
    * cells under the index's OWN committed centroids; a committed
    * member with cosine ≥ `threshold` is a qualifying near-dup), ADMIT
    * every batch vector with no qualifying match, and append the
    * admitted rows as one committed tick ([[ivfIndexAppend]]'s
    * data version + CURRENT flip, `txn` supported for streaming
    * maintenance). This is the loop a live embedding-curation pipeline
    * runs per arriving shard — without it the standing index grows by
    * blind appends and later batches stop deduplicating against the
    * corpus.
    *
    * Scale shape: centroids broadcast (cells×dim floats); the batch
    * fans out to nprobe probe rows and equi-joins the committed cells
    * on the cell id — only probed cells' members are scored, the batch
    * never collects to the driver, and the verdict aggregation is
    * batch-sized. Id-space contract: batch cids are expected DISJOINT
    * from the index's (the [[Dedup.minhashIndexAdmit]] rule); the tick
    * still DEFENDS against a replay — a cid already committed is
    * reported admitted=false and never appended twice, and same-cid
    * matches never count as near-dups (a replayed vector is an
    * exactly-once problem, not a similarity verdict). */
  def ivfIndexAdmit(spark: SparkSession, dir: String, batch: DataFrame,
      threshold: Double, nprobe: Int,
      txn: Option[(String, Long)] = None): IvfAdmission = {
    import spark.implicits._
    val m = readIvfManifest(spark, dir)
    val cents = readIvfCentroidsAt(spark, dir, m)
    val bc = spark.sparkContext.broadcast(cents)
    // pin one evaluation of the batch: the gate probe and the admitted
    // append must see the same rows (the minhashIndexAdmit discipline)
    val b = batch.select(col("cid").cast("long").as("cid"), col("cvec"))
      .filter(col("cid").isNotNull && col("cvec").isNotNull)
      .localCheckpoint()
    val probes = b.as[(Long, Array[Float])]
      .flatMap { case (cid, v) =>
        nearestCells(bc.value, v, nprobe).map(c => (cid, v, c))
      }
      .toDF("cid", "qvec", "cell")
    val members = readIvfCellsAt(spark, dir, m)
      .select(col("cid").as("ref_cid"), col("cvec").as("rvec"), col("cell"))
      .withColumn("_rl", l2norm(col("rvec")))
    val matches = probes.withColumn("_ql", l2norm(col("qvec")))
      .join(members, Seq("cell"))
      .filter(col("cid") =!= col("ref_cid") &&
        cosinePre(dot(col("qvec"), col("rvec")),
          col("_ql"), col("_rl")) >= threshold)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_ref_matches"))
    val replayed = members.select(col("ref_cid").as("cid")).distinct()
      .withColumn("replayed", lit(true))
    val decisions = b.select(col("cid"))
      .join(matches, Seq("cid"), "left")
      .join(replayed, Seq("cid"), "left")
      .select(col("cid"),
        (col("n_ref_matches").isNull && col("replayed").isNull).as("admitted"),
        coalesce(col("n_ref_matches"), lit(0L)).as("n_ref_matches"))
      .localCheckpoint()
    val admitted = b
      .join(decisions.filter(col("admitted")).select(col("cid")), Seq("cid"))
    val nAdmitted = admitted.count()
    if (nAdmitted > 0)
      ivfIndexAppend(spark, dir, admitted, txn)
    IvfAdmission(decisions, nAdmitted)
  }

  /** Serve a query batch from the committed IVF index: ONE CURRENT
    * read pins manifest, centroids and cell files for the whole serve
    * — an append committing midway can never mix one version's probe
    * geometry with another's members. Probing, pruning and scoring are
    * [[ivfTopKAssigned]]'s exact plan (driver-sized query batch by the
    * same contract), with the cell pruning made literal: unprobed
    * cells are never listed, let alone read. */
  def ivfServedTopK(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    ivfServedTopKFrom(spark, dir, readIvfManifest(spark, dir),
      queries, k, nprobe)

  /** TIME-TRAVEL serve: [[ivfServedTopK]] against the index AS OF a
    * committed historical `version` ([[ManifestIO.readVersion]]'s
    * servability rules: orphan manifests refuse, vacuumed versions
    * fail loudly; reaches as deep as the vacuum grace window). */
  def ivfServedTopKVersion(spark: SparkSession, dir: String, version: Long,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    ivfServedTopKFrom(spark, dir,
      readIvfManifestVersion(spark, dir, version), queries, k, nprobe)

  /** The committed manifest AS OF a historical version (time travel). */
  def readIvfManifestVersion(spark: SparkSession, dir: String,
      version: Long): IvfManifest =
    IvfSpec.at(spark, dir, version)

  /** The serve body against an already-read manifest — shared by the
    * CURRENT serve, the time-travel serve and the version-reporting
    * hybrid caller. */
  private[graft] def ivfServedTopKFrom(spark: SparkSession, dir: String,
      m: IvfManifest, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val cents = readIvfCentroidsAt(spark, dir, m)
    val qRows = collectQueryBatch(queries, MaxDriverQueryRows, "ivfServedTopK")
    val probeRows = qRows.flatMap { case (qid, v) =>
      nearestCells(cents, v, nprobe).map(c => (qid, v, c))
    }
    val probes = probeRows.toSeq.toDF("qid", "qvec", "cell")
      .withColumn("_ql", l2norm(col("qvec")))
    val members = readIvfCellsAt(spark, dir, m, Some(probeRows.map(_._3).toSet))
    val scored = members
      .withColumn("_cl", l2norm(col("cvec")))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosinePre(dot(col("qvec"), col("cvec")), col("_ql"), col("_cl")).as("cosine"))
    topK(scored, k)
  }

  /** IVF search against a PRE-ASSIGNED inverted file — the SERVE half
    * of the deployment split: `assigned` is [[assignCells]]'s output,
    * typically read back from `cell=<k>/`-partitioned parquet. The
    * probed cell ids are known on the driver (the query batch is
    * driver-sized by contract — it broadcasts), so the scan carries an
    * explicit `cell IN (...)` filter: on a partitioned layout that is
    * PARTITION PRUNING — a query batch probing p distinct cells reads
    * p/cells of the corpus from storage, the actual 10⁹-vector serving
    * story, vs. re-scanning and re-assigning the corpus per batch. */
  def ivfTopKAssigned(assigned: DataFrame, queries: DataFrame,
      cents: Array[Array[Float]], k: Int, nprobe: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    // the serve contract is a driver-sized query batch (it broadcasts);
    // callers with bigger frames get the distributed path via [[ivfTopK]]
    val qRows = collectQueryBatch(queries, MaxDriverQueryRows, "ivfTopKAssigned")
    val probeRows = qRows.flatMap { case (qid, v) =>
      nearestCells(bc.value, v, nprobe).map(c => (qid, v, c))
    }
    val probedCells = probeRows.map(_._3).distinct.toSeq
    val probes = probeRows.toSeq.toDF("qid", "qvec", "cell")
      .withColumn("_ql", l2norm(col("qvec")))
    val scored = assigned
      .filter(col("cell").isInCollection(probedCells))
      .withColumn("_cl", l2norm(col("cvec")))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosinePre(dot(col("qvec"), col("cvec")), col("_ql"), col("_cl")).as("cosine"))
    topK(scored, k)
  }

  private def l2sub(v: Array[Float], off: Int, c: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) { val d = v(off + i).toDouble - c(i); s += d * d; i += 1 }
    s
  }

  /** Product-quantization codebooks: the vector space is split into `m`
    * contiguous subspaces and each gets `k` sub-centroids trained by
    * Lloyd's in L2 (the PQ standard — dot products are recovered at
    * query time by table lookup). ALL subspaces train simultaneously in
    * one pass per iteration: a round is one map over the corpus plus an
    * (m·k)-row shuffle, regardless of corpus size — the same scalable
    * layout as [[kmeansCentroids]]. Empty cells keep their previous
    * sub-centroid. `init(mi)(ci)` supplies the deterministic starting
    * sub-centroids. */
  def pqCodebooks(vecs: DataFrame, vecCol: String,
      init: Array[Array[Array[Float]]], iters: Int): Array[Array[Array[Float]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // pin once across rounds + one planned RDD — the kmeansCentroids
    // discipline (per-round re-plan + re-scan otherwise); unpersisted
    // in the finally
    val ds = vecs.select(col(vecCol)).as[Array[Float]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val rdd = ds.rdd
    val m = init.length
    val k = init(0).length
    val sub = init(0)(0).length
    var books = init
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      // same treeAggregate layout as kmeansCentroids: one job per
      // round, m×k×sub doubles to the driver, no conf-width exchange
      val (acc, cnt) = rdd.treeAggregate(
        (Array.fill(m, k)(new Array[Double](sub)), Array.fill(m, k)(0L)))(
        seqOp = { case (z, v) =>
          val bs = bc.value
          var mi = 0
          while (mi < m) {
            val off = mi * sub
            var best = 0
            var bestD = Double.MaxValue
            var ci = 0
            while (ci < k) {
              val dd = l2sub(v, off, bs(mi)(ci))
              if (dd < bestD) { bestD = dd; best = ci }
              ci += 1
            }
            val a = z._1(mi)(best)
            var i = 0
            while (i < sub) { a(i) += v(off + i); i += 1 }
            z._2(mi)(best) += 1
            mi += 1
          }
          z
        },
        combOp = { case (x, y) =>
          var mi = 0
          while (mi < m) {
            var ci = 0
            while (ci < k) {
              val xa = x._1(mi)(ci); val ya = y._1(mi)(ci)
              var i = 0
              while (i < sub) { xa(i) += ya(i); i += 1 }
              x._2(mi)(ci) += y._2(mi)(ci)
              ci += 1
            }
            mi += 1
          }
          x
        })
      books = Array.tabulate(m, k) { (mi, ci) =>
        if (cnt(mi)(ci) > 0)
          Array.tabulate(sub)(i => (acc(mi)(ci)(i) / cnt(mi)(ci)).toFloat)
        else books(mi)(ci)
      }
    }
    books
    } finally ds.unpersist()
  }

  /** ANN via product quantization with asymmetric distance computation
    * (ADC) and exact refinement — the compression path for corpora whose
    * full vectors don't fit memory: the scan touches only the per-vector
    * codes (m·log2(k) bits — 32× smaller than float32 at m=16, k=16),
    * approximates `dot(q, x) ≈ Σ_m table[m][code_m]` by per-query lookup
    * tables, keeps a bounded top-`refine` candidate heap per query per
    * partition, and re-ranks ONLY the surviving candidates against their
    * full vectors. Composes with [[ivfTopK]]'s cell routing for the full
    * IVF-PQ design (cells bound the scan, PQ bounds the bytes); kept
    * orthogonal here so each trade is measurable on its own.
    *
    * The approximate norm ‖x̂‖² = Σ_m ‖c_{m,code_m}‖² is exact for the
    * reconstruction because subspaces partition the coordinates. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Float]]], k: Int, refine: Int): DataFrame =
    pqTopKBounded(corpus, queries, books, k, refine, MaxDriverQueryRows)

  /** [[pqTopK]] with an injectable driver-batch bound (specs force the
    * guard on small frames through it). The ADC plan is broadcast-query
    * by construction — per-query lookup tables live on every executor —
    * so past the bound it fails loudly rather than falling back: a
    * corpus-sized query frame belongs on [[ivfTopK]]'s distributed
    * probe path, not on a quadratic per-partition table build. */
  private[graft] def pqTopKBounded(corpus: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Float]]], k: Int, refine: Int,
      maxDriverRows: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = books.length
    val kc = books(0).length
    val sub = books(0)(0).length
    val bcBooks = spark.sparkContext.broadcast(books)
    val qRows = collectQueryBatch(queries, maxDriverRows, "pqTopK")
    val bcQ = spark.sparkContext.broadcast(qRows)
    // ADC scan: encode + score + bounded per-query heap, one pass
    val candidates = corpus.select(col("cid"), col("cvec")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val bs = bcBooks.value
        val qs = bcQ.value
        // per-query lookup tables: dot(q_m, c) and the code's ‖c‖²
        val tabDot = Array.ofDim[Double](qs.length, m, kc)
        val tabN2 = Array.ofDim[Double](m, kc)
        for (mi <- 0 until m; ci <- 0 until kc) {
          val c = bs(mi)(ci)
          var n2 = 0.0
          var i = 0
          while (i < sub) { n2 += c(i).toDouble * c(i); i += 1 }
          tabN2(mi)(ci) = n2
          for (qi <- qs.indices) {
            val qv = qs(qi)._2
            var s = 0.0
            var j = 0
            while (j < sub) { s += qv(mi * sub + j).toDouble * c(j); j += 1 }
            tabDot(qi)(mi)(ci) = s
          }
        }
        val qNorm = qs.map(q => math.sqrt(dotD(q._2, q._2)))
        // bounded candidate heaps: evict smallest approx score, larger
        // cid first on ties (deterministic, favors smaller ids)
        val heapOrd = Ordering.by[(Double, Long), (Double, Long)](p => (p._1, -p._2)).reverse
        val heaps = Array.fill(qs.length)(new scala.collection.mutable.PriorityQueue[(Double, Long)]()(heapOrd))
        val code = new Array[Int](m)
        it.foreach { case (cid, v) =>
          var mi = 0
          while (mi < m) {
            val off = mi * sub
            var best = 0
            var bestD = Double.MaxValue
            var ci = 0
            while (ci < kc) {
              val dd = l2sub(v, off, bs(mi)(ci))
              if (dd < bestD) { bestD = dd; best = ci }
              ci += 1
            }
            code(mi) = best
            mi += 1
          }
          var qi = 0
          while (qi < qs.length) {
            if (qs(qi)._1 != cid) {
              var ad = 0.0
              var an2 = 0.0
              var j = 0
              while (j < m) { ad += tabDot(qi)(j)(code(j)); an2 += tabN2(j)(code(j)); j += 1 }
              val score = ad / (qNorm(qi) * math.sqrt(an2))
              val h = heaps(qi)
              if (h.size < refine) h.enqueue((score, cid))
              // h.head is the WORST kept candidate (heapOrd is reversed);
              // replace it when the new one beats it
              else if (heapOrd.lt((score, cid), h.head)) { h.dequeue(); h.enqueue((score, cid)) }
            }
            qi += 1
          }
        }
        for (qi <- qs.indices.iterator; (score, cid) <- heaps(qi).iterator)
          yield (qs(qi)._1, cid, score)
      }
      .toDF("qid", "cid", "approx")
    // global candidate cut, then exact re-rank of only those candidates
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val cut = candidates.withColumn("r", row_number().over(w)).filter(col("r") <= refine)
      .select(col("qid"), col("cid"))
    val scored = cut
      .join(corpus.select(col("cid"), col("cvec")), Seq("cid"))
      .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    topK(scored, k)
  }

  /** Per-vector residuals against each vector's max-cosine cell centroid
    * — the training input for IVF-PQ codebooks (quantizing residuals
    * instead of raw vectors is what makes shared codebooks accurate:
    * residuals are centered near zero in every cell). */
  def residualsOf(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Float]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    corpus.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val c = bc.value(nearestCell(bc.value, v))
        (id, Array.tabulate(v.length)(i => v(i) - c(i)))
      }
      .toDF(idCol, vecCol)
  }

  /** IVF-PQ: the full composition — IVF cells bound WHICH vectors a
    * query scans (nprobe of them), PQ residual codes bound the BYTES the
    * scan touches, and the exact re-rank bounds what the approximation
    * can cost. The faiss-style layout re-expressed Spark-first:
    *
    *   - corpus pass: assign cell, encode the residual `v − centroid`
    *     with the shared codebooks → (cid, cell, m 4-bit codes)
    *   - query side (broadcast): nprobe max-cosine cells per query; the
    *     reconstruction is `x̂ = cent_cell + Σ_m c_code`, so
    *     `dot(q, x̂) = dot(q, cent) + Σ_m tabDot[m][code]` and
    *     `‖x̂‖² = ‖cent‖² + 2·Σ_m tabCent[cell][m][code] + Σ_m ‖c‖²`
    *     — all table lookups, precomputed once per partition from the
    *     broadcast centroids + codebooks (cells·m·k doubles)
    *   - bounded top-`refine` heap per query, exact cosine re-rank of
    *     survivors only.
    *
    * At 10⁹ vectors the scan per query touches nprobe/cells of the
    * corpus as codes (32× smaller than float32); full vectors are
    * fetched for `refine` candidates per query. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      cents: Array[Array[Float]], books: Array[Array[Array[Float]]],
      k: Int, nprobe: Int, refine: Int): DataFrame =
    ivfPqTopKBounded(corpus, queries, cents, books, k, nprobe, refine,
      MaxDriverQueryRows)

  /** [[ivfPqTopK]] with an injectable driver-batch bound (specs force
    * the guard on small frames through it); see [[pqTopKBounded]] for
    * why past the bound this fails loudly instead of falling back. */
  private[graft] def ivfPqTopKBounded(corpus: DataFrame, queries: DataFrame,
      cents: Array[Array[Float]], books: Array[Array[Array[Float]]],
      k: Int, nprobe: Int, refine: Int, maxDriverRows: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = books.length
    val kc = books(0).length
    val sub = books(0)(0).length
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(books)
    val qRows = collectQueryBatch(queries, maxDriverRows, "ivfPqTopK")
    val bcQ = spark.sparkContext.broadcast(qRows)
    val candidates = corpus.select(col("cid"), col("cvec")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcC.value
        val bs = bcB.value
        val qs = bcQ.value
        // query-independent tables
        val tabN2 = Array.ofDim[Double](m, kc) // ‖c_{m,code}‖²
        val tabCent = Array.ofDim[Double](cs.length, m, kc) // dot(cent_m, c)
        for (mi <- 0 until m; ci <- 0 until kc) {
          val c = bs(mi)(ci)
          var n2 = 0.0
          var i = 0
          while (i < sub) { n2 += c(i).toDouble * c(i); i += 1 }
          tabN2(mi)(ci) = n2
          for (cell <- cs.indices) {
            var s = 0.0
            var j = 0
            while (j < sub) { s += cs(cell)(mi * sub + j).toDouble * c(j); j += 1 }
            tabCent(cell)(mi)(ci) = s
          }
        }
        val centN2 = cs.map(c => dotD(c, c))
        // per-query tables: dot(q_m, c) and dot(q, cent), plus which
        // queries probe each cell (so a corpus row only scores against
        // the queries that would ever scan its cell)
        val tabQ = Array.ofDim[Double](qs.length, m, kc)
        val qCentDot = Array.ofDim[Double](qs.length, cs.length)
        val probesByCell = Array.fill(cs.length)(List.newBuilder[Int])
        for (qi <- qs.indices) {
          val qv = qs(qi)._2
          for (mi <- 0 until m; ci <- 0 until kc) {
            val c = bs(mi)(ci)
            var s = 0.0
            var j = 0
            while (j < sub) { s += qv(mi * sub + j).toDouble * c(j); j += 1 }
            tabQ(qi)(mi)(ci) = s
          }
          for (cell <- cs.indices) qCentDot(qi)(cell) = dotD(qv, cs(cell))
          cs.indices
            .sortBy(cell => (-qCentDot(qi)(cell) / math.sqrt(centN2(cell)), cell))
            .take(math.min(nprobe, cs.length))
            .foreach(cell => probesByCell(cell) += qi)
        }
        val probing = probesByCell.map(_.result().toArray)
        val qNorm = qs.map(q => math.sqrt(dotD(q._2, q._2)))
        val heapOrd = Ordering.by[(Double, Long), (Double, Long)](p => (p._1, -p._2)).reverse
        val heaps = Array.fill(qs.length)(new scala.collection.mutable.PriorityQueue[(Double, Long)]()(heapOrd))
        val code = new Array[Int](m)
        it.foreach { case (cid, v) =>
          val cell = nearestCell(cs, v)
          val qids = probing(cell)
          if (qids.nonEmpty) {
            // encode the residual
            var mi = 0
            while (mi < m) {
              val off = mi * sub
              var best = 0
              var bestD = Double.MaxValue
              var ci = 0
              while (ci < kc) {
                val c = bs(mi)(ci)
                var dd = 0.0
                var i = 0
                while (i < sub) {
                  val d = (v(off + i) - cs(cell)(off + i)).toDouble - c(i)
                  dd += d * d
                  i += 1
                }
                if (dd < bestD) { bestD = dd; best = ci }
                ci += 1
              }
              code(mi) = best
              mi += 1
            }
            // reconstruction norm: ‖cent‖² + 2·dot(cent, r̂) + ‖r̂‖²
            var cr = 0.0
            var rn2 = 0.0
            var j = 0
            while (j < m) { cr += tabCent(cell)(j)(code(j)); rn2 += tabN2(j)(code(j)); j += 1 }
            val xn2 = centN2(cell) + 2 * cr + rn2
            var qi0 = 0
            while (qi0 < qids.length) {
              val qi = qids(qi0)
              if (qs(qi)._1 != cid) {
                var rd = 0.0
                var jj = 0
                while (jj < m) { rd += tabQ(qi)(jj)(code(jj)); jj += 1 }
                val score = (qCentDot(qi)(cell) + rd) / (qNorm(qi) * math.sqrt(xn2))
                val h = heaps(qi)
                if (h.size < refine) h.enqueue((score, cid))
                else if (heapOrd.lt((score, cid), h.head)) { h.dequeue(); h.enqueue((score, cid)) }
              }
              qi0 += 1
            }
          }
        }
        for (qi <- qs.indices.iterator; (score, cid) <- heaps(qi).iterator)
          yield (qs(qi)._1, cid, score)
      }
      .toDF("qid", "cid", "approx")
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val cut = candidates.withColumn("r", row_number().over(w)).filter(col("r") <= refine)
      .select(col("qid"), col("cid"))
    val scored = cut
      .join(corpus.select(col("cid"), col("cvec")), Seq("cid"))
      .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    topK(scored, k)
  }

  /** The TRAIN-ONCE artifact of the IVF-PQ deployment split: every
    * corpus vector's cell assignment plus its m residual codes — one
    * compact (cid, cell, m-byte code) row per vector, ~32× smaller
    * than the float vectors. Write it `partitionBy("cell")` and
    * [[ivfPqTopKEncoded]] reads ONLY the probed cells via partition
    * pruning — the 10⁹-vector serving layout where a query batch
    * touches nprobe/cells of the corpus as bytes, not floats. */
  def ivfPqEncode(corpus: DataFrame, cents: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = books.length
    val kc = books(0).length
    val sub = books(0)(0).length
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(books)
    corpus.select(col("cid"), col("cvec")).as[(Long, Array[Float])]
      .map { case (cid, v) =>
        val cs = bcC.value
        val bs = bcB.value
        val cell = nearestCell(cs, v)
        val code = new Array[Byte](m)
        var mi = 0
        while (mi < m) {
          val off = mi * sub
          var best = 0
          var bestD = Double.MaxValue
          var ci = 0
          while (ci < kc) {
            val c = bs(mi)(ci)
            var dd = 0.0
            var i = 0
            while (i < sub) {
              val d = (v(off + i) - cs(cell)(off + i)).toDouble - c(i)
              dd += d * d
              i += 1
            }
            if (dd < bestD) { bestD = dd; best = ci }
            ci += 1
          }
          code(mi) = best.toByte
          mi += 1
        }
        (cid, cell, code)
      }
      .toDF("cid", "cell", "code")
  }

  /** The SERVE half of the IVF-PQ deployment split: ADC over
    * PRE-ENCODED codes ([[ivfPqEncode]]'s output, read back from a
    * `cell=<k>/`-partitioned layout so the scan is partition-pruned to
    * the probed cells), the standard top-`refine` cut, then an exact
    * re-rank that fetches full vectors ONLY for the survivors — one
    * narrow equi-join against the vector table (refine·|Q| rows). The
    * query batch is driver-sized by contract ([[collectQueryBatch]]
    * guards the cliff like the other serve entries). Scoring uses the
    * same reconstruction identities as the in-line [[ivfPqTopK]]
    * kernel, so recall matches it at equal parameters. */
  def ivfPqTopKEncoded(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      cents: Array[Array[Float]], books: Array[Array[Array[Float]]],
      k: Int, nprobe: Int, refine: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = books.length
    val kc = books(0).length
    val sub = books(0)(0).length
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(books)
    val qRows = collectQueryBatch(queries, MaxDriverQueryRows, "ivfPqTopKEncoded")
    val bcQ = spark.sparkContext.broadcast(qRows)
    val probed = qRows.flatMap { case (_, v) => nearestCells(cents, v, nprobe) }
      .distinct.toSeq
    val candidates = codes
      .filter(col("cell").isInCollection(probed))
      .select(col("cid"), col("cell"), col("code")).as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        val cs = bcC.value
        val bs = bcB.value
        val qs = bcQ.value
        // query-independent tables (identical to ivfPqTopKBounded)
        val tabN2 = Array.ofDim[Double](m, kc)
        val tabCent = Array.ofDim[Double](cs.length, m, kc)
        for (mi <- 0 until m; ci <- 0 until kc) {
          val c = bs(mi)(ci)
          var n2 = 0.0
          var i = 0
          while (i < sub) { n2 += c(i).toDouble * c(i); i += 1 }
          tabN2(mi)(ci) = n2
          for (cell <- cs.indices) {
            var s = 0.0
            var j = 0
            while (j < sub) { s += cs(cell)(mi * sub + j).toDouble * c(j); j += 1 }
            tabCent(cell)(mi)(ci) = s
          }
        }
        val centN2 = cs.map(c => dotD(c, c))
        val tabQ = Array.ofDim[Double](qs.length, m, kc)
        val qCentDot = Array.ofDim[Double](qs.length, cs.length)
        val probesByCell = Array.fill(cs.length)(List.newBuilder[Int])
        for (qi <- qs.indices) {
          val qv = qs(qi)._2
          for (mi <- 0 until m; ci <- 0 until kc) {
            val c = bs(mi)(ci)
            var s = 0.0
            var j = 0
            while (j < sub) { s += qv(mi * sub + j).toDouble * c(j); j += 1 }
            tabQ(qi)(mi)(ci) = s
          }
          for (cell <- cs.indices) qCentDot(qi)(cell) = dotD(qv, cs(cell))
          nearestCells(cs, qv, nprobe).foreach(cell => probesByCell(cell) += qi)
        }
        val probing = probesByCell.map(_.result().toArray)
        val qNorm = qs.map(q => math.sqrt(dotD(q._2, q._2)))
        val heapOrd = Ordering.by[(Double, Long), (Double, Long)](p => (p._1, -p._2)).reverse
        val heaps = Array.fill(qs.length)(new scala.collection.mutable.PriorityQueue[(Double, Long)]()(heapOrd))
        it.foreach { case (cid, cell, code) =>
          val qids = probing(cell)
          if (qids.nonEmpty) {
            // reconstruction norm: ‖cent‖² + 2·dot(cent, r̂) + ‖r̂‖²
            var cr = 0.0
            var rn2 = 0.0
            var j = 0
            while (j < m) {
              val cj = code(j) & 0xff
              cr += tabCent(cell)(j)(cj); rn2 += tabN2(j)(cj); j += 1
            }
            val xn2 = centN2(cell) + 2 * cr + rn2
            var qi0 = 0
            while (qi0 < qids.length) {
              val qi = qids(qi0)
              if (qs(qi)._1 != cid) {
                var rd = 0.0
                var jj = 0
                while (jj < m) { rd += tabQ(qi)(jj)(code(jj) & 0xff); jj += 1 }
                val score = (qCentDot(qi)(cell) + rd) / (qNorm(qi) * math.sqrt(xn2))
                val h = heaps(qi)
                if (h.size < refine) h.enqueue((score, cid))
                else if (heapOrd.lt((score, cid), h.head)) { h.dequeue(); h.enqueue((score, cid)) }
              }
              qi0 += 1
            }
          }
        }
        for (qi <- qs.indices.iterator; (score, cid) <- heaps(qi).iterator)
          yield (qs(qi)._1, cid, score)
      }
      .toDF("qid", "cid", "approx")
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val cut = candidates.withColumn("r", row_number().over(w)).filter(col("r") <= refine)
      .select(col("qid"), col("cid"))
    val scored = cut
      .join(corpus.select(col("cid"), col("cvec")), Seq("cid"))
      .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    topK(scored, k)
  }

  /** Multi-probe hyperplane LSH (Lv et al.'s perturbation idea in its
    * simplest form): each query probes its own bucket plus the buckets
    * reached by flipping its `nprobe - 1` least-confident sign bits
    * (smallest |projection| first, index ascending on ties). The corpus
    * side is untouched — still one bucket per vector, still an equi-join
    * — so recall rises without re-indexing. Probed buckets are distinct,
    * so no (qid, cid) pair is scored twice. */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
      planes: Seq[Seq[Float]], k: Int, nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planesArr = planes.map(_.toArray).toArray
    val cb = Par.spread(corpus).select(col("cid"), col("cvec"), l2norm(col("cvec")).as("_cl"),
      lshBucket(col("cvec"), planes).as("bucket"))
    val qb = queries.select(col("qid"), col("qvec")).as[(Long, Array[Float])]
      .flatMap { case (qid, v) =>
        val projs = planesArr.map(dotD(v, _))
        var base = 0L
        var i = 0
        while (i < projs.length) { if (projs(i) >= 0) base |= 1L << i; i += 1 }
        val order = projs.indices.sortBy(i => (math.abs(projs(i)), i))
        (0 until math.min(nprobe, order.length + 1)).map { j =>
          (qid, v, if (j == 0) base else base ^ (1L << order(j - 1)))
        }
      }
      .toDF("qid", "qvec", "bucket")
      .withColumn("_ql", l2norm(col("qvec")))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosinePre(dot(col("qvec"), col("cvec")), col("_ql"), col("_cl")).as("cosine"))
    topK(scored, k)
  }

  // ─────────────────────────── scalar quantization (SQ8) ───────────────────

  /** Per-vector 8-bit scalar quantization (the faiss SQ8 idea with
    * per-vector ranges, which makes it training-free and therefore
    * fully oracle-able): code_i = ⌊(x_i − mn)·255/(mx − mn) + 0.5⌋ with
    * the vector's own min/max as the range (codes 0 when the vector is
    * constant). `floor(+0.5)` instead of round: IEEE round-half-even vs
    * half-up differs between engines; floor is exact everywhere. All
    * arithmetic in doubles after an exact float→double widening.
    *
    * Scale rationale: 4 bytes/dim → 1 byte/dim + 2 doubles per vector —
    * the corpus-resident scan state shrinks ~4× while, unlike PQ,
    * decode is two flops with no codebook lookups and no training to
    * drift. The standard middle rung between full floats and PQ. */
  def sq8Encode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    val mn = array_min(vd)
    val mx = array_max(vd)
    corpus.select(col(idCol).cast("long").as("cid"),
      mn.as("mn"), mx.as("mx"),
      when(mx === mn, transform(vd, _ => lit(0L)))
        .otherwise(transform(vd, x =>
          floor((x - mn) * lit(255.0) / (mx - mn) + lit(0.5)).cast("long")))
        .as("codes"))
  }

  /** Dequantized vector as a double array column: mn + code·((mx−mn)/255). */
  private def sq8Decode(mn: Column, mx: Column, codes: Column): Column =
    transform(codes, c => mn + c * ((mx - mn) / lit(255.0)))

  /** SQ8 asymmetric top-k: full-precision queries scored against the
    * dequantized 8-bit corpus (one narrow pass over codes — the 4×
    * memory win is the point), cut to the top-`refine` candidates per
    * query, then exact-cosine re-rank of the survivors only (full
    * vectors joined back for candidates, never the corpus). Same
    * (cosine desc, cid) ranking contract as every other ANN path. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int, refine: Int): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    // dequantized vector and its norm are PER-ROW invariants: compute
    // each once (N + Q folds total), not inside every pairwise cosine
    // (3·Q·N folds — measured 2.8 s → sub-second on the v16 corpus).
    // Parity-safe: the cross-engine contract is per-double-op identity,
    // and dot(q,dv) / (sqrt(dot(q,q)) * sqrt(dot(dv,dv))) multiplies
    // the same three doubles in the same order wherever each is computed.
    val codes = sq8Encode(Par.spread(corpus), "cid", "cvec")
      .withColumn("dv", sq8Decode(col("mn"), col("mx"), col("codes")))
      .withColumn("dnorm", sqrt(dotArr(col("dv"), col("dv"))))
      .select(col("cid"), col("dv"), col("dnorm"))
    val q = queries
      .withColumn("qd", transform(col("qvec"), x => x.cast("double")))
      .withColumn("qnorm", sqrt(dotArr(col("qd"), col("qd"))))
      .select(col("qid"), col("qvec"), col("qd"), col("qnorm"))
    val approx = codes.as("c")
      .join(broadcast(q.as("q")), col("q.qid") =!= col("c.cid"))
      .select(col("q.qid"), col("c.cid"),
        (dotArr(col("q.qd"), col("c.dv")) / (col("q.qnorm") * col("c.dnorm"))).as("approx"))
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val cands = approx.withColumn("arn", row_number().over(w))
      .filter(col("arn") <= refine)
      .select(col("qid"), col("cid"))
    val scored = cands
      .join(corpus, "cid")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    topK(scored, k)
  }

  /** Sequential-fold dot over two DOUBLE-array columns — the codegen'd
    * [[graft.functions.DoubleVecDot]] ([[cosine]]'s FloatVecDot is
    * float-input only, and SQ8's dequantized values are doubles). Same
    * fold as the `aggregate(zip_with(...))` form it replaced (identical
    * element order and double ops for the operators' equal-length
    * non-null vectors), without per-row array allocation or lambda
    * boxing — guide §4, the v16 approx scan's inner loop. */
  private def dotArr(x: Column, y: Column): Column =
    graft.functions.VectorExpressions.dvec_dot(x, y)
}
