package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** SQ8 scalar quantization beyond the v16 oracle: code-range and
  * constant-vector invariants, reconstruction-error bound, and recall
  * against the exact brute-force ranking on structured vectors.
  */
class Sq8Spec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private def vecs(n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    (0L until n.toLong).map { i =>
      i -> Seq.tabulate(dim)(j => math.sin(0.31 * (i * dim + j)).toFloat)
    }
  }

  test("codes stay in [0, 255]; constant vectors encode to all-zero codes") {
    import spark.implicits._
    val data = (vecs(20, 16) :+ (99L -> Seq.fill(16)(3.7f)))
      .toDF("cid", "cvec")
    val enc = Ann.sq8Encode(data, "cid", "cvec").collect()
    enc.foreach { r =>
      val codes = r.getSeq[Long](3)
      assert(codes.forall(c => c >= 0L && c <= 255L), s"code out of range: $codes")
    }
    val const = enc.find(_.getLong(0) == 99L).get
    assert(const.getSeq[Long](3).forall(_ == 0L))
    assert(const.getDouble(1) === const.getDouble(2)) // mn == mx
  }

  test("dequantization error is bounded by half a quantization step") {
    import spark.implicits._
    val data = vecs(10, 16).toDF("cid", "cvec")
    val rows = Ann.sq8Encode(data, "cid", "cvec")
      .join(data, "cid").collect()
    rows.foreach { r =>
      val mn = r.getDouble(1); val mx = r.getDouble(2)
      val codes = r.getSeq[Long](3); val v = r.getSeq[Float](4)
      val step = (mx - mn) / 255.0
      codes.zip(v).foreach { case (c, x) =>
        val dq = mn + c * step
        assert(math.abs(dq - x.toDouble) <= step / 2 + 1e-12,
          s"reconstruction off by more than step/2: $dq vs $x")
      }
    }
  }

  test("sq8TopK recall vs brute force is ~1 with a refine margin") {
    import spark.implicits._
    val data = vecs(80, 16)
    val corpus = data.toDF("cid", "cvec")
    val queries = data.take(5).map { case (i, v) => (i, v) }.toDF("qid", "qvec")
    val exact = Ann.bruteForceTopK(corpus, queries, k = 5).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val sq = Ann.sq8TopK(corpus, queries, k = 5, refine = 20).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recall = exact.map { case (q, want) =>
      sq.getOrElse(q, Set.empty).count(want).toDouble / want.size }.sum / exact.size
    assert(recall >= 0.9, s"sq8 recall too low: $recall")
    // and the exact re-rank means returned cosines are TRUE cosines:
    // every (qid, cid) pair common to both rankings carries the same score
    val exactScores = Ann.bruteForceTopK(corpus, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Ann.sq8TopK(corpus, queries, k = 5, refine = 20).collect().foreach { r =>
      exactScores.get((r.getLong(0), r.getLong(2))).foreach { want =>
        assert(r.getDouble(3) === want)
      }
    }
  }

  test("refine < k is refused loudly") {
    import spark.implicits._
    val corpus = vecs(4, 8).toDF("cid", "cvec")
    val queries = vecs(1, 8).toDF("qid", "qvec")
    // the ADC verbs share the refine tail: 2 subspaces × 2 sub-centroids
    val books = Array.tabulate(2, 2)((mi, ci) =>
      Array.tabulate(4)(j => math.cos(0.11 * (mi * 8 + ci * 4 + j)).toFloat))
    val cents = Array.tabulate(2)(c => Array.tabulate(8)(j => math.sin(0.5 * (c * 8 + j)).toFloat))
    val verbs: Seq[(String, () => Any)] = Seq(
      "sq8TopK" -> (() => Ann.sq8TopK(corpus, queries, k = 5, refine = 3)),
      "pqTopK" -> (() => Ann.pqTopK(corpus, queries, books, k = 5, refine = 3)),
      "ivfPqTopK" -> (() => Ann.ivfPqTopK(corpus, queries, cents, books,
        k = 5, nprobe = 2, refine = 3)),
      "ivfPqTopKEncoded" -> (() => Ann.ivfPqTopKEncoded(Ann.ivfPqEncode(corpus, cents, books),
        corpus, queries, cents, books, k = 5, nprobe = 2, refine = 3)))
    verbs.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("refine"), name)
    }
  }
}
