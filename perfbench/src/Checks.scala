package perfbench

import scala.util.hashing.MurmurHash3

/** Output checks. Every check yields a [[Check]]; a failed one names
  * itself and what differed, and counts toward `failed`. */
final case class Check(name: String, ok: Boolean, detail: String = "")

object Checks {

  /** Order-independent multiset digest: (row count, sum of 64-bit row
    * hashes). */
  def digest(rows: Iterable[String]): (Long, Long) = {
    var n = 0L; var h = 0L
    rows.foreach { r =>
      n += 1
      h += (MurmurHash3.stringHash(r, 0x5eed).toLong << 32) ^ (MurmurHash3.stringHash(r, 0x7a11) & 0xffffffffL)
    }
    (n, h)
  }

  def table(name: String, expected: Seq[String], actual: Seq[String]): Check = {
    val (en, eh) = digest(expected)
    val (an, ah) = digest(actual)
    if (en == an && eh == ah) Check(s"table.$name", ok = true)
    else {
      val missing = expected.diff(actual).take(2)
      val extra = actual.diff(expected).take(2)
      Check(s"table.$name", ok = false,
        s"rows expected=$en actual=$an; missing e.g. ${missing.mkString("; ")}; unexpected e.g. ${extra.mkString("; ")}")
    }
  }

  def count(name: String, expected: Long, actual: Long): Check =
    Check(name, expected == actual, if (expected == actual) "" else s"expected $expected, got $actual")

  /** Served top-k against an exact ranking: per query, the same ids in
    * the same rank order. */
  def topK(name: String, exact: Map[Long, Seq[Long]], served: Map[Long, Seq[Long]]): Check = {
    val bad = exact.keys.toSeq.sorted.collect {
      case q if served.getOrElse(q, Nil) != exact(q) =>
        s"q$q exact=${exact(q).mkString(",")} served=${served.getOrElse(q, Nil).mkString(",")}"
    }
    Check(name, bad.isEmpty, bad.take(2).mkString("; "))
  }

  /** Mean recall@k of `served` ids against `exact` ids. */
  def recall(exact: Map[Long, Seq[Long]], served: Map[Long, Seq[Long]]): Double =
    if (exact.isEmpty) 0.0
    else exact.map { case (q, e) =>
      if (e.isEmpty) 1.0 else served.getOrElse(q, Nil).toSet.intersect(e.toSet).size.toDouble / e.size
    }.sum / exact.size
}
