package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.etl.DiameterPipeline

/** The benchmark's own tests: each output check must report a dropped
  * row, an altered msisdn/imsi fill and a wrong top-k as failures, the
  * synthesizer must be byte-identical per seed, and the result line
  * must fit a 2,000-character tail. Exits non-zero on any failure. */
object SelfTest {
  private var failures = 0
  private def expect(what: String, cond: Boolean): Unit = {
    System.err.println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Files.createDirectories(Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
      .resolve(s"selftest-${ProcessHandle.current().pid()}"))
    try run(root) finally Main.deleteTree(root)
    System.err.println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def run(root: java.nio.file.Path): Unit = {
    // same seed → byte-identical input; another seed → different input
    val a = Synth.ingest(root.resolve("a"), 11, 1L << 20, 2, pcapng = false)
    val b = Synth.ingest(root.resolve("b"), 11, 1L << 20, 2, pcapng = false)
    val c = Synth.ingest(root.resolve("c"), 12, 1L << 20, 2, pcapng = false)
    expect("same seed gives the same input hash", a.sha256 == b.sha256)
    expect("another seed gives another input hash", a.sha256 != c.sha256)
    val ng1 = Synth.ingest(root.resolve("n1"), 5, 1L << 20, 1, pcapng = true)
    val ng2 = Synth.ingest(root.resolve("n2"), 5, 1L << 20, 1, pcapng = true)
    expect("pcapng input is seeded too", ng1.sha256 == ng2.sha256)

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", root.resolve("spark-local").toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = root.resolve("diameter").toString
      Ingest.commit(spark, DiameterPipeline.records(spark, a.captureGlob).toDF(), out)
      val actual = Ingest.project(spark.read.parquet(out), "diameter")
      val expected = a.truth.rows("diameter").toSeq
      expect("diameter output matches its ground truth", Checks.table("diameter", expected, actual).ok)
      expect("a dropped row is reported", !Checks.table("diameter", expected, actual.tail).ok)
      // field 5 is msisdn and 6 is imsi in the diameter projection
      def alter(field: Int): Seq[String] = {
        val i = actual.indexWhere(_.split("\\|", -1)(field).nonEmpty)
        val f = actual(i).split("\\|", -1)
        f(field) = f(field).reverse
        actual.updated(i, f.mkString("|"))
      }
      expect("an altered msisdn fill is reported", !Checks.table("diameter", expected, alter(5)).ok)
      expect("an altered imsi fill is reported", !Checks.table("diameter", expected, alter(6)).ok)
    } finally spark.stop()

    val exact = Map(1L -> Seq(10L, 11L), 2L -> Seq(20L))
    expect("an identical top-k passes", Checks.topK("t", exact, exact).ok)
    expect("a wrong top-k id is reported", !Checks.topK("t", exact, exact.updated(1L, Seq(10L, 12L))).ok)
    expect("a wrong top-k order is reported", !Checks.topK("t", exact, exact.updated(1L, exact(1L).reverse)).ok)
    expect("a missing top-k query is reported", !Checks.topK("t", exact, exact - 2L).ok)
    expect("recall of a partly wrong top-k is below 1",
      Checks.recall(Map(1L -> Seq(1L, 2L)), Map(1L -> Seq(1L, 3L))) == 0.5)

    // worst-case result line: every metric with a full-precision value
    val m = new Metrics
    (Main.PerLayer ++ Main.EndToEnd).foreach { case (n, u) => m.put(n, -1234.5678901234567, u) }
    for (names <- Seq(Main.PerLayer, Main.EndToEnd)) {
      val line = s"""{"correct":false,"attempted":1234567,"failed":1234567,"metrics":${m.json(names)}}"""
      expect(s"result line of ${names.size} metrics fits 2000 chars (${line.length})", line.length <= 2000)
    }
  }
}
