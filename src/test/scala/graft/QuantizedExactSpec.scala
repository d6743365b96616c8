package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** Bit-exactness of the quantized top-k verbs without the DuckDB
  * oracle: `pqTopK`, `ivfPqTopK`, `ivfPqTopKEncoded` and `sq8TopK`
  * must equal, row for row and with exact doubles, a driver-side Scala
  * reference that scores every candidate, fully sorts by
  * (approx desc, cid), keeps the top `refine` and re-ranks them by
  * exact cosine. The reference is written from the scaladoc formulas,
  * independent of the kernels: encode each subspace of `v − base` to
  * its nearest sub-centroid in L2, score
  * `(dot(q, cent) + Σ_m dot(q_m, c_code)) / (‖q‖ · ‖x̂‖)` with
  * `‖x̂‖² = ‖cent‖² + 2·Σ_m dot(cent_m, c_code) + Σ_m ‖c_code‖²`
  * (PQ without a coarse quantizer drops the centroid terms), and probe
  * the `nprobe` max-cosine cells (cell id breaks ties).
  */
class QuantizedExactSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private val dim = 16
  private val m = 4
  private val sub = dim / m
  private val kc = 8
  private val k = 5
  private val refine = 12

  /** Seeded gaussian corpus: 300 vectors, the first 6 double as queries. */
  private val vecs: Array[(Long, Array[Float])] = {
    val rnd = new java.util.Random(20260917L)
    Array.tabulate(300)(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
  }
  private val qs = vecs.take(6)

  private def corpus: DataFrame = {
    import spark.implicits._
    vecs.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("cid", "cvec")
  }

  private def queries: DataFrame = {
    import spark.implicits._
    qs.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
  }

  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    for (i <- a.indices) s += a(i).toDouble * b(i).toDouble
    s
  }

  private def cosineD(a: Array[Float], b: Array[Float]): Double =
    dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))

  /** dot of subspace `mi` of `v` with a sub-centroid, sequential fold. */
  private def subDot(v: Array[Float], mi: Int, c: Array[Float]): Double = {
    var s = 0.0
    for (j <- 0 until sub) s += v(mi * sub + j).toDouble * c(j)
    s
  }

  private def sumOver(f: Int => Double): Double = {
    var s = 0.0
    for (mi <- 0 until m) s += f(mi)
    s
  }

  private def nearestCell(cents: Array[Array[Float]], v: Array[Float]): Int =
    cents.indices.foldLeft((0, Double.NegativeInfinity)) { case ((b, bs), c) =>
      val s = cosineD(v, cents(c)); if (s > bs) (c, s) else (b, bs)
    }._1

  private def probed(cents: Array[Array[Float]], q: Array[Float], nprobe: Int): Set[Int] =
    cents.indices.sortBy(c => (-cosineD(q, cents(c)), c)).take(nprobe).toSet

  /** Nearest sub-centroid per subspace of `v − base` (no base: `v`). */
  private def encode(v: Array[Float], base: Option[Array[Float]],
      books: Array[Array[Array[Float]]]): Array[Int] =
    Array.tabulate(m) { mi =>
      var best = 0
      var bestD = Double.MaxValue
      for (ci <- 0 until kc) {
        val c = books(mi)(ci)
        var dd = 0.0
        for (i <- 0 until sub) {
          val x = base match {
            case Some(b) => (v(mi * sub + i) - b(mi * sub + i)).toDouble
            case None => v(mi * sub + i).toDouble
          }
          val d = x - c(i)
          dd += d * d
        }
        if (dd < bestD) { bestD = dd; best = ci }
      }
      best
    }

  /** The reference serve: every non-self candidate scored, full sort by
    * (approx desc, cid), top `refine`, exact re-rank, top k. */
  private def reference(approx: (Array[Float], Long) => Option[Double]): Seq[(Long, Long, Long, Double)] =
    qs.toSeq.flatMap { case (qid, q) =>
      val cands = vecs.toSeq.filter(_._1 != qid)
        .flatMap { case (cid, _) => approx(q, cid).map(a => (a, cid)) }
        .sortBy { case (a, cid) => (-a, cid) }
        .take(refine)
      cands.map { case (_, cid) => (cid, cosineD(q, vecs(cid.toInt)._2)) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(k).zipWithIndex
        .map { case ((cid, c), r) => (qid, r + 1L, cid, c) }
    }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(r => (r._1, r._2))

  /** Deterministic books: sub-slices of `src` vectors spaced through it. */
  private def booksFrom(src: Int => Array[Float]): Array[Array[Array[Float]]] =
    Array.tabulate(m, kc)((mi, ci) =>
      java.util.Arrays.copyOfRange(src(7 + ci * 31), mi * sub, (mi + 1) * sub))

  private val cents: Array[Array[Float]] = Array.tabulate(6)(c => vecs(40 + c * 43)._2)

  /** Residual of vector `i` against its nearest cell. */
  private def residual(i: Int): Array[Float] = {
    val v = vecs(i)._2
    val c = cents(nearestCell(cents, v))
    Array.tabulate(dim)(j => v(j) - c(j))
  }

  test("pqTopK equals the driver-side ADC reference row for row") {
    val books = booksFrom(i => vecs(i)._2)
    val codes = vecs.map { case (_, v) => encode(v, None, books) }
    val want = reference { (q, cid) =>
      val code = codes(cid.toInt)
      val ad = sumOver(mi => subDot(q, mi, books(mi)(code(mi))))
      val an2 = sumOver(mi => dotD(books(mi)(code(mi)), books(mi)(code(mi))))
      Some(ad / (math.sqrt(dotD(q, q)) * math.sqrt(an2)))
    }
    assert(rows(Ann.pqTopK(corpus, queries, books, k, refine)) === want)
  }

  test("ivfPqTopK, ivfPqEncode and ivfPqTopKEncoded equal the driver-side IVF-PQ reference") {
    val books = booksFrom(residual)
    val nprobe = 3
    val cell = vecs.map { case (_, v) => nearestCell(cents, v) }
    val codes = vecs.map { case (cid, v) => encode(v, Some(cents(cell(cid.toInt))), books) }
    // the train-once artifact: one (cid, cell, code) row per vector
    val encoded = Ann.ivfPqEncode(corpus, cents, books)
    val got = encoded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).map(_ & 0xff).toSeq))
      .sortBy(_._1).toSeq
    assert(got === vecs.indices.map(i => (i.toLong, cell(i), codes(i).toSeq)))
    val want = reference { (q, cid) =>
      val c = cell(cid.toInt)
      if (!probed(cents, q, nprobe).contains(c)) None
      else {
        val cent = cents(c)
        val code = codes(cid.toInt)
        val rd = sumOver(mi => subDot(q, mi, books(mi)(code(mi))))
        val cr = sumOver(mi => subDot(cent, mi, books(mi)(code(mi))))
        val rn2 = sumOver(mi => dotD(books(mi)(code(mi)), books(mi)(code(mi))))
        val xn2 = dotD(cent, cent) + 2 * cr + rn2
        Some((dotD(q, cent) + rd) / (math.sqrt(dotD(q, q)) * math.sqrt(xn2)))
      }
    }
    assert(rows(Ann.ivfPqTopK(corpus, queries, cents, books, k, nprobe, refine)) === want)
    assert(rows(Ann.ivfPqTopKEncoded(encoded, corpus, queries, cents, books,
      k, nprobe, refine)) === want)
  }

  test("sq8TopK equals the driver-side SQ8 reference row for row") {
    // per-vector 8-bit codes over the vector's own [min, max], decoded
    // as mn + code·((mx − mn)/255)
    val deq = vecs.map { case (_, v) =>
      val vd = v.map(_.toDouble)
      val (mn, mx) = (vd.min, vd.max)
      val codes = vd.map(x =>
        if (mx == mn) 0L else math.floor((x - mn) * 255.0 / (mx - mn) + 0.5).toLong)
      codes.map(c => mn + c * ((mx - mn) / 255.0))
    }
    def dotDD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      for (i <- a.indices) s += a(i) * b(i)
      s
    }
    val want = reference { (q, cid) =>
      val qd = q.map(_.toDouble)
      val dv = deq(cid.toInt)
      Some(dotDD(qd, dv) / (math.sqrt(dotDD(qd, qd)) * math.sqrt(dotDD(dv, dv))))
    }
    assert(rows(Ann.sq8TopK(corpus, queries, k, refine)) === want)
  }
}
