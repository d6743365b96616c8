package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Q

/** Driver-run benchmark: every declared query at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Measures steady-state throughput: every query first runs once at the
  * smallest SF so whole-stage-codegen compilation (a one-time JVM cost,
  * 1-3s per distinct plan) is not charged to the measured execution —
  * on a long-lived cluster that compilation happens once per plan shape,
  * not once per 100 TB of input. The measured run still does all its own
  * scans, shuffles and caching at the target SF.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // coalescing OFF here: byte-based AQE coalescing serialized the
      // round-2 compute-dense/small-byte stages (measured 3.7x on the old
      // t6 candidate join); re-measured in round 3 with the fused kernels
      // it is merely neutral (t5 -0.1s, t6 +0.1s). Kept off for the
      // proven config. On a real cluster at 100 TB the bytes dominate
      // and it should be ON.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional comma-separated subset for local iteration; the driver
    // sets neither env var and gets all queries at 3 runs each
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val queries = SparkEntry.allQueries.filter(q => only.forall(_.contains(q.name)))

    // warmup: run every query once at the smallest SF (same plan shape →
    // same generated code), then drop any caches it left behind
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    queries.foreach { q =>
      try { q.run(spark, warmDir).count() }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] warmup ${q.name} failed: $e")
      }
    }
    spark.sharedState.cacheManager.clearCache()

    // median of N runs per query: the recorded artifact is the round's
    // official number, and a single run is hostage to whatever else the
    // box is doing (round-2 verdict measured ~1.5x contention noise on
    // the one-shot numbers). Caches are dropped between runs so each
    // repetition pays its full scan/shuffle/cache cost.
    // measure each repetition from a clean heap: the typed kernels and
    // XML/collect_list queries churn the old gen, and without a GC
    // fence later queries in the 58-query sweep pay their predecessors'
    // garbage (measured 2-4x degradation on t5/t6/t9 when benched after
    // the heavy queries vs solo)
    val measured = queries.map { q =>
      var ok = true
      // one UNCHARGED warm run at the target SF immediately before the
      // timed runs: the round-9 closing window recorded q6_sessionize
      // at 12.27s — reproducible ONLY as "first job of a cold JVM"
      // (one-JVM A/B: cold 11.7-13.6s, steady-state 0.53s, 32-thread
      // contention only 1.8x, AQE coalesce no effect). The global
      // sf0.001 warmup above is the intended cold-cost absorber, but
      // if it is ineffective in a given window this per-query warm run
      // still guarantees the medians measure steady-state throughput —
      // the stated semantics of this bench. Its failure is loud but
      // not recorded; the timed runs will fail identically.
      try { q.run(spark, sfDir).count() }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] target-SF warm ${q.name} failed: $e")
      }
      val times = (1 to runs).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        // a failed query must be LOUD: swallowing it would record a
        // fake-fast time in the round artifact (same class as the
        // silent recall catch ADVICE flagged). The failure also has to
        // reach the JSON itself — an elapsed-to-crash duration reads as
        // a fast run to any consumer of the artifact alone, so failed
        // names are listed in a "failed" array on both emitted lines.
        try { q.run(spark, sfDir).count() }
        catch {
          case scala.util.control.NonFatal(e) =>
            ok = false
            System.err.println(s"[bench] ${q.name} FAILED: $e")
        }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
        System.err.println(f"[bench] ${q.name}: ${times.map(t => f"$t%.2f").mkString(" ")}")
      // a window stall must be self-documenting in the artifact, not
      // only divinable from a suspicious median: flag queries whose
      // fastest-to-slowest spread exceeds 5x within their own runs
      (q.name, times(times.length / 2), ok, times)
    }
    // a crashed query's elapsed-to-crash duration reads as a fake-fast run:
    // keep failed queries OUT of the per-query map and the total (they are
    // still listed by name in "failed"), so a broken query can never
    // deflate the headline metric (ADVICE r8: total_tail aggregated ~0.06s
    // crash timings for 15 queries).
    val results = measured.collect { case (n, t, true, _) => n -> t }
    val failed = measured.collect { case (n, _, false, _) => n }
    // raw runs of any query whose in-window spread exceeded 5x — the
    // forensic record for swings like round-9's q6 (runs ≥0.05s only,
    // so micro-queries' scheduling jitter doesn't spam the field)
    val outliers = measured.collect {
      case (n, _, true, ts) if ts.last > 0.25 && ts.last / math.max(ts.head, 0.05) > 5.0 =>
        n -> ts
    }
    // recall@5 of the ANN family vs the exact v1 ranking, so ANN
    // quality regressions show up in the round artifact, not only in
    // AnnSpec. Bounded work: each ranking is NumQueries*K rows.
    val annNames = Seq("v2_knn_lsh", "v4_knn_ivf", "v7_knn_ivf_trained",
      "v8_knn_lsh_multiprobe", "v9_knn_pq", "v10_knn_ivf_pq", "v11_ivf_served",
      "v12_ivfpq_served", "v13_knn_lsh_amplified", "v16_knn_sq8")
    val byName = queries.map(q => q.name -> q).toMap
    // a subset naming ANN rows but not v1 still gets the exact ranking
    val exactV1 =
      if (!annNames.exists(byName.contains)) None
      else byName.get("v1_knn_brute")
        .orElse(SparkEntry.allQueries.find(_.name == "v1_knn_brute"))
    val recall: Seq[(String, Double)] =
      exactV1.toSeq.flatMap { v1 =>
        try {
          def ranking(q: Q): Map[Long, Set[Long]] = q.run(spark, sfDir)
            .select("qid", "cid").collect()
            .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
          val exact = ranking(v1)
          annNames.flatMap(n => byName.get(n)).map { q =>
            val got = ranking(q)
            val r = exact.map { case (k, want) =>
              got.getOrElse(k, Set.empty[Long]).count(want).toDouble / math.max(1, want.size)
            }
            q.name -> (if (exact.isEmpty) 1.0 else r.sum / exact.size)
          }
        } catch {
          // NonFatal only: a fatal error should crash the bench, and a
          // recall failure must be visible on stderr — a silently-empty
          // recall map would read as "not measured", hiding exactly the
          // ANN quality regressions this block exists to surface
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] recall_at_5 failed: $e")
            Nil
        }
      }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rc = recall.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // v2/v8 recall is a BY-CONSTRUCTION floor (sign-LSH single/2-probe
    // of 64 buckets on isotropic vectors ≈ bucket coverage; the
    // rankings themselves are SQL-oracle-exact — see AnnSpec); publish
    // that next to the numbers so a reader doesn't take 0.1/0.16 for a
    // regression
    val notes = Seq(
      "v2_knn_lsh" -> ("bucket-coverage floor by construction (sign-LSH, 1 of 64 buckets " +
        "probed); pedagogical baseline — serve with IVF/PQ or the OR-amplified LSH (v13, " +
        "recall 0.56) (measured ceiling 0.28 at ALL single-bit flips)"),
      "v8_knn_lsh_multiprobe" -> ("bucket-coverage floor by construction (sign-LSH, 2 of 64 " +
        "buckets probed); pedagogical baseline — serve with IVF/PQ or v13"))
      .filter { case (k, _) => recall.exists(_._1 == k) }
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ol = outliers.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"recall_at_5":$rc,"recall_floor_notes":$notes,"failed":$fl,"run_outliers":$ol,"sf":"$sfDir"}""")
    // The FULL record (per-query map, recall, outlier runs) — persisted
    // to BENCH_SELF.json below. It is NOT printed last anymore: the
    // driver's artifact keeps only the final ~2000 chars of output, and
    // at 161 queries this line is ~8 KB, so the driver has found no
    // complete JSON line in the tail since round 15 (PERF per_query
    // empty — the round-17 verdict's measurement-contract bug). The
    // full map still prints on the FIRST line above and is committed in
    // BENCH_SELF.json each round.
    val tailLine = s"""{"metric":"total_tail","value":$total,"unit":"sec","n_queries":${results.length},"queries":$qs,"recall_at_5":$rc,"recall_floor_notes":$notes,"failed":$fl,"run_outliers":$ol,"sf":"$sfDir"}"""
    // belt-and-braces: also persist the full record into the repo so the
    // per-query history survives any driver-side truncation; committed
    // with each round's artifacts. FULL sweeps only — a subset
    // iteration run (BENCH_ONLY set) must not clobber the official
    // whole-suite record.
    if (only.isEmpty) {
      // resolve against the repo root when provided — a relative path
      // would silently land in whatever CWD launched the bench
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "."), "BENCH_SELF.json")
        .toAbsolutePath
      try {
        java.nio.file.Files.write(out, (tailLine + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] wrote $out")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $out write failed: $e")
      }
    }
    // COMPACT final line — the one the driver's 2000-char tail capture
    // can actually parse. Carries the headline (same total as line 1),
    // failure/outlier names, recall, and STABLE FAMILY SUBTOTALS under
    // "queries" (key = name prefix + decade: fam_t40 sums t40..t49) so
    // round-over-round per-family speedups and scaling ratios stay
    // machine-readable at any query count. Per-query ground truth lives
    // on the first line and in BENCH_SELF.json — no number is lost,
    // only the duplicate 8 KB print that overflowed the tail. The
    // fam_* keys are ADDED entries; no real query is dropped from the
    // bench or from the recorded per-query maps.
    val famKey: String => String = { n =>
      val m = java.util.regex.Pattern.compile("^([a-z]+)([0-9]+)").matcher(n)
      if (m.find()) f"fam_${m.group(1)}${(m.group(2).toInt / 10) * 10}%02d"
      else "fam_other"
    }
    val fams = results.groupBy(r => famKey(r._1)).toSeq.sortBy(_._1)
      .map { case (f, xs) => "\"" + f + "\":" + f"${xs.map(_._2).sum}%.4f" }
      .mkString("{", ",", "}")
    val olNames = outliers.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total_tail","value":$total,"unit":"sec","n_queries":${results.length},"queries":$fams,"recall_at_5":$rc,"failed":$fl,"run_outlier_names":$olNames,"sf":"$sfDir"}""")
    spark.stop()
  }
}
