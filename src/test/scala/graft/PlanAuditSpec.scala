package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Embedding, Relational, Text}

/** Physical-plan audits (the "iterate until it's the plan you'd want"
  * gate): pushdown reaches the scan, projections prune columns, small
  * dims broadcast, window pairs share one exchange.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2: filters and projection reach the parquet scan") {
    val plan = planOf(Relational.q2FilterPushdown.run(SparkTest.spark, sf))
    assert(plan.contains("PushedFilters: ["), "expected pushed filters in scan")
    assert(plan.contains("l_shipdate"), "shipdate filter should be pushed")
    // column pruning: only the 4 referenced columns in ReadSchema
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unexpected column in $readSchema")
    assert(readSchema.contains("l_extendedprice"))
  }

  test("q3: dimension joins broadcast, no exchange for nation/region") {
    val plan = planOf(Relational.q3JoinAgg.run(SparkTest.spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  test("q6: both windows share a single shuffle on user_id") {
    val plan = planOf(Relational.q6Sessionize.run(SparkTest.spark, sf))
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange hashpartitioning(user_id"))
    assert(exchanges <= 1, s"windows should reuse one user_id exchange, got:\n$plan")
  }

  test("v6: fused bucket kernel plans NO join — one scan, one group exchange") {
    val plan = planOf(Embedding.v6NearDupLsh.run(SparkTest.spark, sf))
    // the round-7 fused kernel replaced the bucket self-join (double
    // scan + two-sided shuffle of the vector frame) with one narrow
    // pass + one groupByKey
    assert(!plan.contains("Join"),
      s"fused near-dup kernel must not join:\n$plan")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"v6 must scan the embeddings once, got $scans:\n$plan")
  }

  test("bucketed fact tables: co-located join plans ZERO exchanges (the 100 TB co-location story)") {
    val spark = SparkTest.spark
    import org.apache.spark.sql.functions.col
    // pre-bucketing both fact sides on the join key is the cluster-scale
    // alternative to shuffling them at query time: a repeated join on
    // l_orderkey/o_orderkey reads co-located buckets with no exchange at
    // all. Broadcast is disabled for the audit so the only shuffle-free
    // plan is genuine bucket co-location, not a small-table fallback.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS or_bucketed")
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
      Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("or_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("or_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).count()
      joined.collect() // force AQE to finalize the physical plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS or_bucketed")
    }
  }

  test("t30: the composed curation chain stays one scan, one hash exchange, no join") {
    val plan = planOf(Text.t30CurateE2e.run(SparkTest.spark, sf))
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"curation chain must scan documents once, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"dedup-by-window must not join:\n$plan")
    val hashEx = plan.linesIterator.count(_.trim.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected the single text_hash exchange, got $hashEx:\n$plan")
  }

  test("t5/t6 fused kernels: no nested-loop or cartesian, no self-join subtree") {
    for (q <- Seq(Text.t5NgramJaccard, Text.t6MinhashLsh)) {
      val plan = planOf(q.run(SparkTest.spark, sf))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"${q.name} must stay an equi-shaped plan:\n$plan")
      // the pair kernels group, they do not self-join: at most the one
      // dft equi-join (t5) may appear
      val joins = plan.linesIterator.count(l =>
        l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")
          || l.contains("ShuffledHashJoin"))
      assert(joins <= 1, s"${q.name}: expected ≤1 join (df attach), got $joins:\n$plan")
    }
  }

  test("t9: pigeonhole runs over distinct signatures, not documents") {
    val df = Text.t9SimhashPairs.run(SparkTest.spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"t9 must not plan an all-pairs join:\n$plan")
  }

  test("t13: decontamination is a broadcast semi/equi join on the eval shingles") {
    val plan = planOf(Text.t13Decontaminate.run(SparkTest.spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval shingle set must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("t15: the global running total plans no single-partition exchange") {
    val plan = planOf(Text.t15SequencePack.run(SparkTest.spark, sf))
    assert(!plan.contains("SinglePartition"),
      s"prefix sum must not collapse to one task:\n$plan")
  }

  test("q44/v9/q45/q46: salted, as-of, range joins and PQ search stay equi-shaped") {
    for (q <- Seq(graft.queries.Extras.q44SaltedJoin, Embedding.v9KnnPq,
        graft.queries.Extras.q45AsofJoin, graft.queries.Extras.q46RangeJoin)) {
      val plan = planOf(q.run(SparkTest.spark, sf))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"${q.name} must not plan a cartesian/nested-loop join:\n$plan")
    }
  }

  test("q44: salted join is the intended shuffle-hash on (key, salt) with map-side partials") {
    val plan = planOf(graft.queries.Extras.q44SaltedJoin.run(SparkTest.spark, sf))
    // broadcast would defeat salting (no shuffle left to skew) — the
    // operator hints shuffle_hash on purpose; a regression to broadcast
    // or sort-merge changes the operator's whole scale story
    assert(plan.contains("ShuffledHashJoin"),
      s"q44 must join shuffle-hash on (key, salt):\n$plan")
    assert(plan.contains("__salt"), s"join key must carry the salt:\n$plan")
    // the groupBy must combine map-side so the 8x-replicated dim rows
    // collapse before the aggregation exchange
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"q44 aggregation must have a partial (map-side) phase:\n$plan")
  }

  test("q45: as-of join plans ZERO joins — one union, one window, one key exchange") {
    val plan = planOf(graft.queries.Extras.q45AsofJoin.run(SparkTest.spark, sf))
    assert(!plan.contains("Join"),
      s"the as-of composition is union+window, never a join:\n$plan")
    val hashEx = plan.linesIterator.count(_.trim.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2,
      s"q45: expected the dim pre-aggregation + one window exchange, got $hashEx:\n$plan")
  }

  test("q46: range join rewrites to an equi join on (user, bucket)") {
    val plan = planOf(graft.queries.Extras.q46RangeJoin.run(SparkTest.spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q46's whole point is avoiding the nested-loop plan:\n$plan")
    assert(plan.contains("__bucket"), s"q46 must join on the time bucket:\n$plan")
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")
        || l.contains("ShuffledHashJoin"))
    assert(joins == 1, s"q46: exactly one equi join, got $joins:\n$plan")
  }

  test("q47: z-order key is a narrow codegen'd projection over a pruned scan") {
    val df = graft.queries.Extras.q47ZOrderLayout.run(SparkTest.spark, sf)
    // WholeStageCodegen spans only appear in the FINAL adaptive plan —
    // execute before reading it
    df.collect()
    val plan = planOf(df)
    // the key is bit arithmetic over two bucketed columns: no exchange
    // before the final sort, no window, and the scan reads only the
    // three referenced columns
    val hashEx = plan.linesIterator.count(_.trim.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"q47 must not hash-exchange:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("user_id")
      && readSchema.contains("ts") && !readSchema.contains("value"),
      s"q47 scan must prune to event_id/user_id/ts: $readSchema")
    // codegen spans print as "*(n) Project"/"*(n) Sort" prefixes in the
    // final adaptive plan
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"the interleave cascade must stay inside a codegen span:\n$plan")
  }

  test("t23/t24: cross-corpus kernel and model inference stay narrow/equi-shaped") {
    val p23 = planOf(Text.t23CrossDedup.run(SparkTest.spark, sf))
    assert(!p23.contains("BroadcastNestedLoopJoin") && !p23.contains("CartesianProduct"),
      s"t23 must not plan an all-pairs join:\n$p23")
    // model inference is one narrow scan: no joins, no aggregation
    // exchange before the final sort
    val p24 = planOf(graft.queries.Corpus.t24QualityModel.run(SparkTest.spark, sf))
    assert(!p24.contains("Join"), s"t24 must not join:\n$p24")
  }

  test("t17: span dedup joins positions to frequencies on the hash, no nested loop") {
    val plan = planOf(graft.queries.Corpus.t17SpanDedup.run(SparkTest.spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"t17 must stay an equi-shaped plan:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"t17's island windows are per-document, never a global sort:\n$plan")
  }

  test("t18/t19: the only nested-loop inputs are the one-row stat frames") {
    // Bm25/BigramLm crossJoin a broadcast single-row aggregate (avgdl/N,
    // vocab size) — that scalar attach plans as BroadcastNestedLoopJoin
    // by construction and is scale-safe. Every DATA join (tf↔dl, tf↔df,
    // bigram↔counts) must stay equi-shaped.
    for (q <- Seq(graft.queries.Corpus.t18Bm25, graft.queries.Corpus.t19BigramLm)) {
      val plan = planOf(q.run(SparkTest.spark, sf))
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} must not plan a cartesian product:\n$plan")
      val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnlj <= 1, s"${q.name}: only the scalar-stats attach may nested-loop, got $bnlj:\n$plan")
    }
  }

  test("t21: shard layout positions are partition-local, no per-shard global task") {
    val plan = planOf(graft.queries.Corpus.t21ShardLayout.run(SparkTest.spark, sf))
    assert(!plan.contains("SinglePartition"),
      s"t21 must not collapse to one task:\n$plan")
    // round 6: the per-(__pid, shard) window became a partition-local
    // typed pass with broadcast offsets — no window, and no re-exchange
    // of the frame phase 1 already pinned
    assert(!plan.contains("windowspecdefinition"),
      s"t21's position pass must not plan a window (shuffle-free phase 3):\n$plan")
    val exchanges = plan.linesIterator.count(_.trim.contains("Exchange hashpartitioning"))
    assert(exchanges == 0,
      s"t21 must not hash-exchange after the range layout:\n$plan")
  }

  test("t27: BPE top-pairs plans a heap top-k, not a global sort, over two aggregations") {
    val plan = planOf(graft.queries.Corpus.t27BpePairs.run(SparkTest.spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"t27's top-k must be per-partition heaps:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // exactly the two aggregation exchanges (word dictionary, pair
    // counts) — both partial-aggregated map-side
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange hashpartitioning"))
    assert(exchanges <= 2, s"t27 expects word + pair exchanges only:\n$plan")
  }

  test("t28: the quality-tier global rank is partition-local, no rank window at all") {
    val plan = planOf(graft.queries.Corpus.t28PplBuckets.run(SparkTest.spark, sf))
    // round 6: the two-phase rank's `PARTITION BY __pid` window became a
    // partition-local typed pass — a bare `row_number() OVER (ORDER BY
    // lm_mean)` (single-task corpus sort) must never reappear, and the
    // shuffle-free phase 3 plans no window whatsoever
    assert(!plan.contains("windowspecdefinition"),
      s"t28 must not plan any rank window (shuffle-free phase 3):\n$plan")
  }

  test("v14: semdedup assignment is narrow; dominance is an equi join on the cluster id") {
    val plan = planOf(Embedding.v14SemDedup.run(SparkTest.spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the in-cluster pair check must stay an equi join:\n$plan")
    // both windows and the pair join key on cluster_id — never on the
    // vector or the raw pairs
    assert(plan.contains("windowspecdefinition(cluster_id"),
      s"rank must partition by cluster:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("cluster_id")),
      s"dominance join must key on cluster_id:\n$plan")
  }

  test("t35: boilerplate shuffles hash rows only — text stays out of every exchange") {
    val plan = planOf(graft.queries.Corpus.t35Boilerplate.run(SparkTest.spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // doc frequency is exact and keyed on the 64-bit chunk hash
    assert(plan.contains("count(distinct doc_id"),
      s"doc frequency must be exact count-distinct:\n$plan")
    // the typed chunk kernel projects (doc_id, idx, h) BEFORE any
    // exchange: no serialized string column may feed a shuffle
    val serialized = plan.linesIterator.filter(_.contains("SerializeFromObject")).toSeq
    assert(serialized.nonEmpty && serialized.forall(!_.contains("toString")),
      s"chunk text must not serialize into the dedup shuffles:\n$plan")
  }

  test("t36: epoch upsample is one narrow scan + explode — no join, no hash exchange") {
    val plan = planOf(graft.queries.Corpus.t36EpochUpsample.run(SparkTest.spark, sf))
    assert(!plan.contains("Join"), s"t36 must not join:\n$plan")
    val hashEx = plan.linesIterator.count(_.trim.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"t36's only exchange is the final ORDER BY:\n$plan")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"t36 must scan documents once:\n$plan")
    // column pruning: text never read
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"t36 must not read text: $readSchema")
  }

  test("t37: DSIR data joins stay equi on the feature hash; only stat frames nested-loop") {
    val plan = planOf(graft.queries.Corpus.t37DsirSelect.run(SparkTest.spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"t37 must not plan a cartesian product:\n$plan")
    // scalar attaches by construction: target + raw denominators (the
    // scoring subtree appears twice — once under the global-mean
    // aggregate, once in the output side, the t28 recompute-the-
    // narrow-scan discipline) and the global-mean cut — each a
    // broadcast 1-row frame, scale-safe
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 5, s"t37: only the 1-row stat attaches may nested-loop, got $bnlj:\n$plan")
  }

  test("m9: media bytes never cross an exchange in the media_dedup verdict flow") {
    import SparkTest.spark.implicits._
    val media = SparkTest.spark.range(12).as[Long]
      .map { i =>
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 8).foreach(y => (0 until 9).foreach(x =>
          img.setRGB(x, y, ((40 + (i * 13).toInt % 60) << 16) | 0x2020)))
        (i, graft.multimodal.Multimodal.JvmImageCodec.encodePng(img))
      }.toDF("img_id", "png")
    // the blob scan lives BEFORE the localCheckpoint pin; the verdict
    // dataflow (family agg, signature rollup, pair joins, verdict join)
    // must carry hashes/ids only — no binary column, no all-pairs join
    for (df <- Seq(
        graft.operators.MediaDedup.imageDedup(media, "img_id", "png", maxDist = 3),
        graft.operators.MediaCurate.imageCurate(media, "img_id", "png",
          8, 8, 10, 4, 3))) {
      val plan = planOf(df)
      assert(!plan.contains("png") && !plan.toLowerCase.contains("binary"),
        s"media bytes leaked into the verdict plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"media verdict flow must stay equi-shaped:\n$plan")
    }
  }

  test("t40: BM25 batch joins are all broadcast — no corpus-sized join anywhere") {
    val plan = planOf(graft.queries.Corpus.t40Bm25Batch.run(SparkTest.spark, sf))
    // dl rides the postings rows, stats/df/queries broadcast: the only
    // permitted non-broadcast operators are hash aggregations + windows
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"BM25 batch must not shuffle-join corpus frames:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("t43/t44: sketches are one documents scan feeding constant-size aggregation state") {
    for (q <- Seq(Text.t43CmsCounts, Text.t44HllDistinct)) {
      val plan = planOf(q.run(SparkTest.spark, sf))
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"${q.name} must stay broadcast-shaped:\n$plan")
      // text never shuffles: every hash exchange carries tokens/hashes
      val badEx = plan.linesIterator.filter(_.trim.startsWith("+- Exchange"))
        .filter(_.contains("text"))
      assert(badEx.isEmpty, s"${q.name}: text column crossed an exchange:\n$plan")
    }
  }

  test("t45: heavy-hitter verification joins the BROADCAST candidate set; no vocab-wide shuffle of text") {
    val plan = planOf(Text.t45HeavyHitters.run(SparkTest.spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"candidates must broadcast into the exact counting pass:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct")
      || plan.contains("BroadcastNestedLoopJoin"), // 1-row total frame may NLJ
      s"t45 must stay broadcast-shaped:\n$plan")
    // the post-join counting groupBy keys on candidate terms only; the
    // MG candidate pass itself is a mapPartitions with no exchange —
    // no exchange may carry the full documents text column
    val badEx = plan.linesIterator.filter(_.trim.startsWith("+- Exchange"))
      .filter(_.contains("text"))
    assert(badEx.isEmpty, s"t45: text crossed an exchange:\n$plan")
  }

  test("t46: the corpus collapses to its distinct-length histogram BEFORE the single-partition window") {
    val plan = planOf(Text.t46Quantiles.run(SparkTest.spark, sf))
    // partial aggregation must precede the SinglePartition exchange, so
    // the global exchange carries (value, count) rows only
    val lines = plan.linesIterator.toSeq
    val spIdx = lines.indexWhere(_.contains("Exchange SinglePartition"))
    assert(spIdx >= 0, s"expected the histogram's ordering exchange:\n$plan")
    assert(lines.drop(spIdx).exists(l => l.contains("HashAggregate") && l.contains("partial_count")),
      s"t46: partial aggregation must run below the single-partition exchange:\n$plan")
    assert(!lines(spIdx).contains("text") &&
      lines.drop(spIdx).forall(l => !l.trim.startsWith("+- Exchange") || !l.contains("text")),
      s"t46: text must never reach a global exchange:\n$plan")
  }

  test("v17: random projection is one pruned scan, zero exchanges, zero joins") {
    val plan = planOf(Embedding.v17RandomProjection.run(SparkTest.spark, sf))
    // strip the final presentation orderBy: audit everything below the sort
    val belowSort = plan.linesIterator.dropWhile(l => !l.contains("Sort")).toSeq
    assert(!plan.contains("Join"), s"v17 must not join:\n$plan")
    val exchanges = belowSort.count(l => l.trim.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"v17 must be narrow below the presentation sort:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("label"), s"v17 must prune the label column: $readSchema")
  }

  test("t48: hybrid fusion shuffles ranks only — no text or embedding in any exchange") {
    val plan = planOf(graft.queries.Corpus.t48HybridRrf.run(SparkTest.spark, sf))
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    // the corpus-sized work lives in the legs (broadcast-shaped BM25,
    // broadcast query batch); the fusion exchange carries (qid, doc_id,
    // contribution) longs only — raw text / vectors must never shuffle
    val badEx = plan.linesIterator.filter(_.trim.startsWith("+- Exchange"))
      .filter(l => l.contains("text") || l.contains("embedding"))
    assert(badEx.isEmpty, s"t48: text/embedding crossed an exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"t48 legs must broadcast dimension frames:\n$plan")
  }

  test("t49: index admission shuffles signature rows only — text stays out of every exchange") {
    val plan = planOf(Text.t49IndexAdmit.run(SparkTest.spark, sf))
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    val badEx = plan.linesIterator.filter(_.trim.startsWith("+- Exchange"))
      .filter(_.contains("text"))
    assert(badEx.isEmpty, s"t49: text crossed an exchange:\n$plan")
  }

  test("v18: cluster sample is one narrow assignment + ONE cluster-id exchange, no join") {
    val plan = planOf(Embedding.v18ClusterSample.run(SparkTest.spark, sf))
    assert(!plan.contains("Join"), s"v18 must not join:\n$plan")
    val hashEx = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"v18 must pay exactly one hash exchange, got $hashEx:\n$plan")
  }

  test("m14/v20: cluster resolution shuffles signatures/ids only — no media bytes or vectors in exchanges") {
    for (q <- Seq(graft.queries.Extras.m14MediaClusters, Embedding.v20VecClusters)) {
      val plan = planOf(q.run(SparkTest.spark, sf))
      assert(!plan.contains("CartesianProduct"), s"${q.name}: no cartesian:\n$plan")
      val badEx = plan.linesIterator.filter(_.trim.startsWith("+- Exchange"))
        .filter(l => l.contains("png") || l.contains("embedding") || l.contains("bytes"))
      assert(badEx.isEmpty, s"${q.name}: media/vector payload crossed an exchange:\n$plan")
    }
  }

  test("t51: BOTH served-hybrid legs read partition-pruned standing indexes") {
    val df = graft.queries.Corpus.t51HybridServed.run(SparkTest.spark, sf)
    val plan = planOf(df)
    // IVF cell index: the probed-cell filter must reach the
    // cell-partitioned scan as a PartitionFilter
    val pruned = plan.linesIterator
      .filter(_.contains("PartitionFilters: ["))
      .count(!_.contains("PartitionFilters: []"))
    assert(pruned >= 1, s"t51 must partition-prune the IVF scan, got $pruned:\n$plan")
    // BM25 postings: pruning is literal path selection through the
    // versioned manifest — the scan may only LIST the queried terms'
    // bucket dirs, a strictly stronger property than a runtime filter.
    // Reproduce t51's term selection (docs ∩ embeddings, %50==9,
    // positions 2/5/7/9) to compute the buckets it is ALLOWED to read.
    import org.apache.spark.sql.functions._
    val spark = SparkTest.spark
    val docs = graft.Tables.documents(spark, sf)
    val emb = graft.Tables.embeddings(spark, sf)
    val w = graft.functions.TextFunctions.tokens(col("text"))
    val wanted = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .filter(docs("doc_id") % 50 === 9)
      .select(explode(array(Seq(2, 5, 7, 9).map(p => element_at(w, p)): _*)).as("t"))
      .select(pmod(xxhash64(col("t")), lit(graft.operators.Bm25.IndexBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val postingsBuckets = df.inputFiles.filter(_.contains("/postings/"))
      .map(f => f.split("bucket=").last.split("/").head.toInt).toSet
    assert(postingsBuckets.nonEmpty && postingsBuckets.subsetOf(wanted),
      s"t51 BM25 leg read buckets $postingsBuckets beyond the query's $wanted")
  }

  test("big-batch BM25 serve: distributed term semi-join, no term collect, buckets still pruned") {
    // past MaxServeTerms the serve regime flips: the term filter is a
    // semi-join against the pinned distinct-term frame — the PLAN must
    // carry that join (terms never serialize through the driver as an
    // isin literal list), while bucket pruning stays literal path
    // selection through the manifest
    import org.apache.spark.sql.functions._
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bm25planbig").toString
    val corpus = (0 until 40).map(i => (i.toLong, s"pa$i pb${i % 5} pc${i % 3}"))
    graft.operators.Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val q = (0 until 12).map(qi => (qi.toLong, s"pb${qi % 5}")).toDF("qid", "term")
    val df = graft.operators.Bm25.serveTopKBounded(spark, dir, q, 5, maxCollectedTerms = 1)
    val plan = planOf(df)
    assert(plan.contains("LeftSemi"),
      s"big-batch serve must semi-join the term frame:\n$plan")
    assert(!plan.contains("t#") || !plan.linesIterator.exists(l =>
        l.contains("Filter") && l.contains(" IN (pb")),
      s"big-batch serve must not push a collected term isin list:\n$plan")
    val wanted = q.select(pmod(xxhash64(col("term")),
        lit(graft.operators.Bm25.IndexBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val read = df.inputFiles.filter(_.contains("/postings/"))
      .map(f => f.split("bucket=").last.split("/").head.toInt).toSet
    assert(read.nonEmpty && read.subsetOf(wanted),
      s"big-batch serve read buckets $read beyond the query's $wanted")
  }

  test("v19: committed-IVF serve lists only the probed cells' committed files") {
    val df = Embedding.v19IvfAppend.run(SparkTest.spark, sf)
    val cellsRead = df.inputFiles.filter(_.contains("/cells/"))
      .map(f => f.split("cell=").last.split("/").head.toInt).toSet
    assert(cellsRead.nonEmpty, "v19 must read through the committed cell layout")
    // recompute the allowed set: each query's nprobe=12 nearest cells
    // under the index's committed centroids (16 cells total — the
    // audit is that pruning excludes the unprobed remainder whenever
    // the query load leaves any cell unprobed)
    import org.apache.spark.sql.functions.col
    val spark = SparkTest.spark
    val e = graft.Tables.embeddings(spark, sf)
    val dirs = df.inputFiles.filter(_.contains("/cells/"))
    val indexDir = dirs.head.split("/data/").head.stripPrefix("file:")
    val cents = graft.operators.Ann.readIvfCentroids(spark, indexDir)
    val allowed = e.filter(col("vec_id") < Embedding.NumQueries)
      .select(col("embedding")).collect()
      .flatMap(r => graft.operators.Ann.nearestCells(
        cents, r.getSeq[Float](0).toArray, 12)).toSet
    assert(cellsRead.subsetOf(allowed),
      s"v19 read cells $cellsRead beyond the probed $allowed")
  }

  // every capture entry point plans exactly one pcap scan: a self-join,
  // a union or a two-consumer Dataset would re-run scan → decode →
  // reassembly once per branch. The HTTP family pairs by keyed groups
  // and windows, never by joining or unioning its messages with
  // themselves.
  private lazy val capture = GoldenCapture.write() + "/*.pcap"
  private val captureCalls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    import graft.etl._
    lazy val spark = SparkTest.spark
    Seq(
      "diameter" -> (() => DiameterPipeline.records(spark, capture).toDF()),
      "gsm_map" -> (() => GsmMapPipeline.records(spark, capture)),
      "sip" -> (() => Sip.records(spark, capture)),
      "smpp" -> (() => SmppPipeline.records(spark, capture)),
      "gtp" -> (() => GtpPipeline.records(spark, capture)),
      "http" -> (() => Http.records(spark, capture)),
      "http_ss7" -> (() => HttpSs7.records(spark, capture)),
      "http_ocs" -> (() => HttpOcs.records(spark, capture)),
      "sigshark_diameter" -> (() => Sigshark.diameterTransactions(spark, capture).toDF()),
      "sigshark_tcap" -> (() => Sigshark.tcapTransactions(spark, capture).toDF()))
  }

  for ((name, mk) <- captureCalls)
    test(s"$name: the capture call plans exactly one pcap scan") {
      val plan = planOf(mk())
      val scans = plan.linesIterator.count(_.contains("BatchScan"))
      assert(scans == 1, s"$name must scan the capture once, got $scans:\n$plan")
      if (name.startsWith("http"))
        assert(!plan.contains("Join") && !plan.contains("Union"),
          s"$name must pair without a join or union:\n$plan")
    }

  test("whole-stage codegen covers the scalar query") {
    val df = Text.t1TokenStats.run(SparkTest.spark, sf)
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
  }
}
