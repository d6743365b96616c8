package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType

import graft.etl._
import graft.functions.{BcdSwapDecode, CodecExpressions, FloatVecDot, TbcdDecode, VectorExpressions}

/** SQL front door (SURVEY NEXT #5): every protocol pipeline becomes a
  * table-valued function, so `spark.sql` alone reaches the whole
  * operator surface —
  *
  * {{{
  *   SELECT sessionId, count(1) FROM diameter_records('/captures/x.pcap')
  *   GROUP BY sessionId
  * }}}
  *
  * plus the scalar registrations (`tbcd_decode`, `bcd_swap`, `fvec_dot`).
  * A TVF call resolves to the pipeline's logical plan, so Catalyst sees
  * straight through it — column pruning and filters compose with the
  * pipeline output exactly as with the DataFrame API.
  *
  * Two deployment paths, same builders: [[SqlFrontDoor.register]] on a
  * live session, or [[GraftExtensions]] via
  * `spark.sql.extensions=graft.sources.GraftExtensions` at session
  * build — the standard extension-jar story for a shared cluster.
  */
object SqlFrontDoor {

  private def argString(exprs: Seq[Expression], fn: String, pos: Int): String = {
    require(exprs.length > pos && exprs(pos).foldable
        && exprs(pos).dataType == StringType,
      s"$fn expects literal string argument ${pos + 1} (the input path)")
    exprs(pos).eval(InternalRow.empty).toString
  }

  /** TVF name → (string args → pipeline DataFrame on the active session).
    * All take one path argument except `camel_records`
    * (tshark_json_path, pcap_name). */
  private def tvfs: Seq[(String, Int, Seq[String] => DataFrame)] = {
    def s = SparkSession.active
    Seq(
      ("pcap_frames", 1, a => Pcap.frames(s, a.head).toDF()),
      // ranged read of huge captures, classic pcap or prologue-state
      // pcapng (chunk_bytes >= 64 KiB; frameNo = record file offset —
      // see Pcap.decodeChunk / decodeNgChunk)
      ("pcap_frames_chunked", 2, a =>
        Pcap.frames(s, a.head, Some(a(1).trim.toLong)).toDF()),
      ("diameter_records", 1, a => DiameterPipeline.records(s, a.head).toDF()),
      ("http_records", 1, a => Http.records(s, a.head)),
      ("http_ss7_records", 1, a => HttpSs7.records(s, a.head)),
      ("http_ocs_records", 1, a => HttpOcs.records(s, a.head)),
      ("sip_records", 1, a => Sip.records(s, a.head)),
      ("smpp_records", 1, a => SmppPipeline.records(s, a.head)),
      ("gtp_records", 1, a => GtpPipeline.records(s, a.head)),
      ("gsm_map_records", 1, a => GsmMapPipeline.records(s, a.head)),
      ("tcap_transactions", 1, a =>
        Sigshark.tcapTransactions(s, a.head)
          .map(t => (t.key, t.startTsSec, t.startUsec, t.frames.mkString(" ")))(
            org.apache.spark.sql.Encoders.product[(String, Long, Int, String)])
          .toDF("key", "start_ts_sec", "start_usec", "frames_list")),
      ("camel_records", 2, a => Camel.records(s, a.head, a(1))),
      // training-data dedup family over a documents-shaped parquet
      // (doc_id, text ...), with the library defaults (3-gram shingles,
      // 4×4 minhash banding, τ=0.5, hamming ≤3). ngram_jaccard_pairs
      // runs its document-frequency probe job at resolution time — the
      // same eager step the DataFrame API performs.
      ("doc_dedup_groups", 1, a =>
        graft.operators.Dedup.exactGroups(s.read.parquet(a.head), "doc_id", "text")),
      ("minhash_pairs", 1, a =>
        graft.operators.Dedup.minhashLshPairs(s.read.parquet(a.head), "doc_id", "text", 3, 4, 4, 0.5)),
      ("ngram_jaccard_pairs", 1, a =>
        graft.operators.Dedup.ngramJaccardPairs(s.read.parquet(a.head), "doc_id", "text", 3, 0.5)),
      ("simhash_near", 1, a =>
        graft.operators.Dedup.simhashNearStats(s.read.parquet(a.head), "doc_id", "text", 3)),
      // dup-cluster resolution (components over the signature graph);
      // runs its iterative star rounds at resolution time, like
      // ngram_jaccard_pairs runs its probe job
      ("dup_clusters", 1, a =>
        graft.operators.Components.dupClusters(s.read.parquet(a.head), "doc_id", "text", 3)),
      // generic distributed prefix sum over any parquet:
      // running_total(path, order_col, value_col) adds `running_total`
      ("running_total", 3, a =>
        graft.operators.Prefix.runningTotal(s.read.parquet(a.head), a(1), a(2), "running_total")),
      // generic min-label connected components over any parquet edge
      // list: connected_components(path, src_col, dst_col) → (node,
      // component); the iterative star rounds run at resolution time,
      // like dup_clusters
      ("connected_components", 3, a =>
        graft.operators.Components.connectedComponents(
          s.read.parquet(a.head), a(1), a(2))),
      // round-4 corpus-curation family (same documents-shaped contract):
      // exact-substring spans (8-token windows), BM25 retrieval
      // (terms_csv, k), bigram LM scores, cluster-aware splits, and
      // shard layout (n_shards)
      ("span_dedup", 1, a =>
        graft.operators.SpanDedup.dupSpans(s.read.parquet(a.head), "doc_id", "text", 8)),
      ("bm25_topk", 3, a =>
        graft.operators.Bm25.topK(s.read.parquet(a.head), "doc_id", "text",
          a(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty), a(2).trim.toInt)),
      // batch multi-query BM25: queries_path is a (qid, term) parquet —
      // one row per query term; returns (qid, doc_id, score, rank<=k)
      ("bm25_batch_topk", 3, a =>
        graft.operators.Bm25.batchTopK(s.read.parquet(a.head), "doc_id", "text",
          s.read.parquet(a(1)), a(2).trim.toInt)),
      // the standing-index deployment split: build term-bucketed
      // postings once (bm25_index writes corpus_path's index under
      // index_dir and returns the 1-row stats), then serve every query
      // batch with partition-pruned reads
      ("bm25_index", 2, a => {
        graft.operators.Bm25.buildIndex(s.read.parquet(a.head), "doc_id", "text", a(1))
        graft.operators.Bm25.readStats(s, a(1))
      }),
      // bm25_index_sized(corpus_path, index_dir, buckets): same build
      // with an explicit bucket count — the append tick's rewrite unit,
      // sized to the corpus; the count is persisted in the index
      // manifest and serve/append read it from there
      ("bm25_index_sized", 3, a => {
        graft.operators.Bm25.buildIndex(s.read.parquet(a.head), "doc_id", "text",
          a(1), a(2).trim.toInt)
        graft.operators.Bm25.readStats(s, a(1))
      }),
      ("bm25_serve", 3, a =>
        graft.operators.Bm25.serveTopK(s, a.head, s.read.parquet(a(1)), a(2).trim.toInt)),
      // bm25_serve_version(index_dir, version, queries_path, k):
      // TIME-TRAVEL serve — the index AS OF a committed historical
      // version (reaches as deep as the vacuum grace window)
      ("bm25_serve_version", 4, a =>
        graft.operators.Bm25.serveTopKVersion(s, a.head, a(1).trim.toLong,
          s.read.parquet(a(2)), a(3).trim.toInt)),
      // bm25_index_append(index_dir, docs_path): grow a standing
      // bm25_index — ACCRETIVE (only batch-derived rows are written
      // under a new data version; touched buckets' manifest lists
      // accrete; df is a read-time aggregate, so per-append cost is
      // O(batch) at any index size), stats rolled forward; returns
      // the updated 1-row stats
      ("bm25_index_append", 2, a => {
        graft.operators.Bm25.appendToIndex(s, a.head,
          s.read.parquet(a(1)), "doc_id", "text")
        graft.operators.Bm25.readStats(s, a.head)
      }),
      // bm25_index_compact(index_dir, min_versions): collapse every
      // term bucket with >= min_versions accreted contributing
      // versions into one new data version (pure physical rewrite —
      // the read-amplification bound of the accretive append model);
      // returns the compacted bucket ids
      ("bm25_index_compact", 2, a => {
        val sp = s
        import sp.implicits._
        graft.operators.Bm25.compactIndex(sp, a.head, a(1).trim.toInt)
          .toDF("compacted_bucket")
      }),
      // bm25_index_export(src_dir, dest_dir): deep-clone the committed
      // index into a fresh dir — only files the CURRENT manifest
      // references cross (the promotion / DR verb; the clone owns its
      // files and ticks independently thereafter); returns the
      // exported version
      ("bm25_index_export", 2, a => {
        val sp = s
        import sp.implicits._
        Seq(graft.operators.Bm25.exportIndex(sp, a.head, a(1)))
          .toDF("exported_version")
      }),
      // bm25_index_export_version(src_dir, dest_dir, version): the
      // TIME-TRAVEL export — clone the index AS OF a committed
      // historical version (reaches as deep as the vacuum grace
      // window, like every version read)
      ("bm25_index_export_version", 3, a => {
        val sp = s
        import sp.implicits._
        Seq(graft.operators.Bm25.exportIndex(sp, a.head, a(1),
          a(2).trim.toLong)).toDF("exported_version")
      }),
      // bm25_index_vacuum(index_dir, grace_versions): delete data
      // versions the committed manifest no longer references (keeping
      // the newest grace_versions for pinned readers); returns the
      // deleted versions
      ("bm25_index_vacuum", 2, a => {
        val sp = s
        import sp.implicits._
        // reclaimed_version = whole dir OR an artifact subtree
        // reclaimed (see vacuumIndex/ivfVacuum scaladoc). The
        // deleted_version pre-rename alias completed its one-cycle
        // deprecation in round 16 and is RETIRED: SQL consumers select
        // reclaimed_version.
        graft.operators.Bm25.vacuumIndex(sp, a.head, a(1).trim.toLong)
          .toDF("reclaimed_version")
      }),
      // bm25_index_delete(index_dir, docs_path): the takedown tick —
      // remove previously ingested documents (docs parquet carries
      // doc_id + text; the text locates the term buckets, so only
      // those are consolidated and rewritten); returns the
      // rolled-back stats. Serve-after-delete == rebuild over the
      // remaining corpus.
      ("bm25_index_delete", 2, a => {
        graft.operators.Bm25.deleteFromIndex(s, a.head, s.read.parquet(a(1)),
          "doc_id", "text")
        graft.operators.Bm25.readStats(s, a.head)
      }),
      // bm25_index_upsert(index_dir, docs_path): the REFRESH verb —
      // (doc_id, text) rows replace any committed copy of the same id
      // and plain-append new ids, in ONE crash-atomic commit; returns
      // the post-tick stats row
      ("bm25_index_upsert", 2, a => {
        graft.operators.Bm25.upsertIndex(s, a.head, s.read.parquet(a(1)),
          "doc_id", "text")
        graft.operators.Bm25.readStats(s, a.head)
      }),
      // bm25_index_apply(index_dir, changes_path): the CDC verb — a
      // MIXED batch of (op 'upsert'|'delete', doc_id, text) rows folds
      // in ONE crash-atomic commit (both verbs land atomically or
      // neither); returns the post-tick stats row
      ("bm25_index_apply", 2, a => {
        graft.operators.Bm25.applyChanges(s, a.head, s.read.parquet(a(1)),
          "op", "doc_id", "text")
        graft.operators.Bm25.readStats(s, a.head)
      }),
      // bm25_index_delete_ids(index_dir, ids_path): the ID-ONLY
      // takedown fallback — the request parquet carries bare doc_ids
      // (the real opt-out feed shape); one full postings scan locates
      // them, only buckets that held their rows rewrite, and the
      // stats roll derives from the index itself (re-delete-proof).
      // Returns the rolled-back stats.
      ("bm25_index_delete_ids", 2, a => {
        graft.operators.Bm25.deleteByIds(s, a.head, s.read.parquet(a(1)),
          "doc_id")
        graft.operators.Bm25.readStats(s, a.head)
      }),
      // bm25_index_upgrade(index_dir): bring a dir written before the
      // docmap or the term-stats sidecar existed to the current layout
      // in one tick (every other verb refuses such a dir)
      ("bm25_index_upgrade", 1, a => {
        graft.operators.Bm25.upgrade(s, a.head)
        graft.operators.Bm25.readStats(s, a.head)
      }),
      // bm25_index_docmap(index_dir): the committed doc→bucket reverse
      // index (doc_id, dl, tbuckets, dbucket) — what the id-only
      // takedown locates through
      ("bm25_index_docmap", 1, a =>
        graft.operators.Bm25.readDocmapAt(s, a.head,
          graft.operators.Bm25.readManifest(s, a.head))),
      // bm25_index_profile(index_dir): the standing index's monitoring
      // row from the committed artifacts alone — n/sdl (avgdl drift),
      // vocabulary size, postings mass, serving-prune pressure, max
      // df; df is recomputed from the rows (the accretive-append
      // model stores none), so the row always matches a corpus recount
      ("bm25_index_profile", 1, a =>
        graft.operators.Bm25.indexProfile(s, a.head)),
      // retrieval-based decontamination, deployment split: train the
      // frozen scoring model on ref_path + queries_path offline, gate
      // docs_path statelessly (the Bm25Stream shape from SQL) —
      // (docId, qid, score >= threshold); threshold in score*10^6
      // fixed-point units (the batch kernel's integer domain)
      ("bm25_decontam_gate", 4, a => {
        val model = graft.streaming.Bm25Stream.train(
          s.read.parquet(a.head), "doc_id", "text", s.read.parquet(a(1)))
        graft.streaming.Bm25Stream.decontaminate(
          s.read.parquet(a(2)), "doc_id", "text", model, a(3).trim.toLong).toDF()
      }),
      // deterministic md5-derived sketches (constant-size mergeable
      // state however large the corpus): Count-Min term-frequency
      // estimates with the true count + overestimate alongside, and
      // HyperLogLog registers + raw distinct estimate
      ("cms_counts", 3, a =>
        graft.operators.Sketches.cmsEstimates(s.read.parquet(a.head), "text",
          a(1).trim.toInt, a(2).trim.toInt)),
      ("hll_distinct", 1, a =>
        graft.operators.Sketches.hllRegisters(s.read.parquet(a.head), "text")),
      // hll_by_group(path, group_col): per-group distinct-vocabulary
      // estimate — <= 16 registers of state per group, no fill join
      ("hll_by_group", 2, a =>
        graft.operators.Sketches.hllRegistersByGroup(
          s.read.parquet(a.head), a(1).trim, "text")),
      // EXACT corpus profiling whose exchanged state is bounded by the
      // answer, not the corpus: phi=1/k heavy hitters (Misra-Gries
      // candidate pass + exact verification count) and percentile_disc
      // quantiles of the per-doc token count (distinct-length histogram)
      ("heavy_hitters", 2, a =>
        graft.operators.Profiling.heavyHitters(
          s.read.parquet(a.head), "text", a(1).trim.toInt)),
      ("quantile_profile", 2, a =>
        graft.operators.Profiling.docLengthQuantiles(
          s.read.parquet(a.head), "text",
          a(1).split(",").toSeq.map(_.trim.toInt))),
      // column_quantiles(path, col, pcts_csv): the exact
      // distinct-value-histogram quantile kernel over ANY integral
      // column of any table (quantile_profile is its documents-contract
      // instance); (pct, value) rows
      ("column_quantiles", 3, a =>
        graft.operators.Profiling.quantilesDisc(
          s.read.parquet(a.head), a(1).trim,
          a(2).split(",").toSeq.map(_.trim.toInt))),
      // column_histogram(path, col): the (value, count) distinct-value
      // histogram itself — one partial-aggregated exchange, rows
      // bounded by distinct values, never corpus size
      ("column_histogram", 2, a =>
        graft.operators.Profiling.valueHistogram(
          s.read.parquet(a.head), a(1).trim)),
      // pre-tokenization cleanup: NFC + control-strip + whitespace
      // collapse over the documents contract; one narrow codegen'd pass
      ("text_normalize", 1, a => {
        import org.apache.spark.sql.functions.col
        s.read.parquet(a.head).select(col("doc_id"),
          graft.functions.TextFunctions.normalizeText(col("text")).as("text"))
      }),
      ("bigram_lm_scores", 1, a =>
        graft.operators.BigramLm.scores(s.read.parquet(a.head), "doc_id", "text")),
      ("leak_free_split", 1, a =>
        graft.operators.Layout.leakFreeSplit(s.read.parquet(a.head), "doc_id", "text", 3)),
      ("cross_dedup", 2, a =>
        graft.operators.Dedup.minhashLshPairsAcross(
          s.read.parquet(a.head), s.read.parquet(a(1)),
          "doc_id", "text", 3, 4, 4, 0.5)),
      // the incremental-dedup deployment split from SQL: build the
      // standing corpus's minhash index once (CTAS/INSERT its output to
      // parquet), then gate every incoming batch against it probe-only
      ("minhash_doc_index", 1, a =>
        graft.operators.Dedup.minhashDocIndex(
          s.read.parquet(a.head), "doc_id", "text", 3, 4, 4)),
      ("cross_dedup_indexed", 2, a =>
        graft.operators.Dedup.minhashLshPairsAcrossIndexed(
          s.read.parquet(a.head), s.read.parquet(a(1)),
          "doc_id", "text", 3, 4, 4, 0.5)),
      ("temp_sample", 3, a =>
        graft.operators.Layout.temperatureSample(s.read.parquet(a.head), "doc_id",
          "source", a(1).trim.toInt, a(2).trim.toInt)),
      ("source_mix", 2, a =>
        graft.operators.Layout.sourceMix(s.read.parquet(a.head), "doc_id", "text",
          "source", a(1).trim.toLong)),
      // BPE vocab induction, first merge step: top-k adjacent
      // character-pair counts (k)
      ("bpe_top_pairs", 2, a =>
        graft.operators.Bpe.topPairs(s.read.parquet(a.head), "text", a(1).trim.toInt)),
      // CCNet-style quality tiers: equal-population buckets over the
      // corpus-LM score via the two-phase global rank (n_buckets)
      ("ppl_buckets", 2, a =>
        graft.operators.Quality.pplBuckets(s.read.parquet(a.head), "doc_id", "text",
          a(1).trim.toInt)),
      // the quality-gate TRAINING step: the k-1 lm_mean cut points a
      // deployment broadcasts to the streaming tier gate
      // (QualityGateStream) — (bucket, cut), driver-sized
      ("ppl_thresholds", 2, a => {
        import org.apache.spark.sql.functions.col
        val spark2 = s
        import spark2.implicits._
        graft.streaming.QualityGateStream
          .thresholds(s.read.parquet(a.head), "doc_id", "text", a(1).trim.toInt)
          .toSeq
          .toDF("bucket", "cut")
          .select(col("bucket"), col("cut"))
      }),
      // the composed curation chain (t30): quality score → lang gate →
      // exact dedup (window keeper) → md5 split, one scan + one exchange
      ("curate", 1, a => graft.queries.Text.curateChain(s.read.parquet(a.head))),
      // exact n-gram eval-set decontamination (train_path, eval_path):
      // flags train docs sharing any 8-token window with the eval corpus
      ("ngram_decontam", 2, a =>
        graft.operators.SpanDedup.ngramContamination(
          s.read.parquet(a.head), s.read.parquet(a(1)), "doc_id", "text", 8)),
      // apply-side span dedup: cut duplicated 8-token spans keep-first
      ("span_cut", 1, a =>
        graft.operators.SpanDedup.cutSpans(s.read.parquet(a.head), "doc_id", "text", 8)),
      // knn_lsh_amplified(corpus_path, queries_path, k, n_tables): the
      // SERVING-grade LSH config (OR-amplified multi-table; recall@5
      // 0.56 at 16 tables on the isotropic benchmark corpus, vs 0.10
      // for a single-table baseline). Both inputs need
      // (vec_id BIGINT, embedding ARRAY<FLOAT>).
      ("knn_lsh_amplified", 4, a => {
        val l = a(3).trim.toInt
        val tables = (0 until l).map(t =>
          (0 until 6).map(p => graft.operators.Ann.hyperplane(t * 6 + p, 64)))
        import org.apache.spark.sql.functions.col
        graft.operators.Ann.lshTopKAmplified(
          s.read.parquet(a.head)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          s.read.parquet(a(1))
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          tables, a(2).trim.toInt)
      }),
      // as_of_join(fact_path, dim_path, part_cols_csv, ts_col, dim_val_cols_csv):
      // each fact row gains the latest dim values at-or-before its ts
      ("as_of_join", 5, a =>
        graft.operators.AsOf.joinLeft(
          s.read.parquet(a.head), s.read.parquet(a(1)),
          a(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty), a(3).trim,
          a(4).split(",").toSeq.map(_.trim).filter(_.nonEmpty))),
      // range_join(fact_path, dim_path, part_cols_csv, ts_col, start_col,
      // end_col, bucket_width): interval containment via bucketed equi-join
      ("range_join", 7, a =>
        graft.operators.RangeJoin.join(
          s.read.parquet(a.head), s.read.parquet(a(1)),
          a(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty), a(3).trim,
          a(4).trim, a(5).trim, a(6).trim.toLong)),
      // phrase_tags(path, phrases_csv): broadcast blocklist/lexicon scan
      ("phrase_tags", 2, a =>
        graft.operators.Phrases.tag(s.read.parquet(a.head), "doc_id", "text",
          a(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty))),
      // page_rank(edges_path, src_col, dst_col, iters): fixed-point
      // integer PageRank over a parquet edge list (nodes = src ∪ dst)
      ("page_rank", 4, a => {
        import org.apache.spark.sql.functions.col
        val e = s.read.parquet(a.head)
        val nodes = e.select(col(a(1).trim).as("n"))
          .unionAll(e.select(col(a(2).trim).as("n"))).distinct()
        graft.operators.PageRank.run(e, a(1).trim, a(2).trim, nodes, "n",
          a(3).trim.toInt)
      }),
      // video_neardup(path, max_dist): perceptual video near-dup pairs
      // — temporal mean-luma contour over MJPEG-in-AVI frames, shared
      // pigeonhole; input needs (clip_id BIGINT, avi BINARY)
      ("video_neardup", 2, a =>
        graft.operators.ImageDedup.nearPairs(
          graft.operators.VideoDedup.signatures(
            s.read.parquet(a.head), "clip_id", "avi"),
          a(1).trim.toInt)),
      // audio_neardup(path, max_dist): perceptual audio near-dup pairs
      // — 64-window energy-contour fingerprint inside the decode task,
      // shared pigeonhole pair search; input needs
      // (clip_id BIGINT, wav BINARY)
      ("audio_neardup", 2, a =>
        graft.operators.ImageDedup.nearPairs(
          graft.operators.AudioDedup.signatures(
            s.read.parquet(a.head), "clip_id", "wav"),
          a(1).trim.toInt)),
      // image_neardup(path, max_dist): perceptual image near-dup pairs
      // — dHash inside the decode task, pigeonhole pair search at
      // Hamming <= max_dist; input needs (img_id BIGINT, png BINARY)
      ("image_neardup", 2, a =>
        graft.operators.ImageDedup.nearPairs(
          graft.operators.ImageDedup.dhashSignatures(
            s.read.parquet(a.head), "img_id", "png"),
          a(1).trim.toInt)),
      // image_quality(path, min_w, min_h, min_spread, max_aspect):
      // LAION/DataComp-style curation gates — size / uniform-luma /
      // aspect / undecodable verdicts in one decode pass; input needs
      // (img_id BIGINT, png BINARY); emits (media_id, width, height,
      // luma_spread, keep, reasons)
      ("image_quality", 5, a =>
        graft.operators.MediaQuality.imageGates(s.read.parquet(a.head),
          "img_id", "png", a(1).trim.toInt, a(2).trim.toInt,
          a(3).trim.toInt, a(4).trim.toInt)),
      // audio_quality(path, min_samples, silence_abs, max_silence_pct,
      // clip_abs, max_clip_pct): speech-corpus curation gates —
      // duration / silence-ratio / clipping-ratio / undecodable
      // verdicts in one decode pass; input needs (clip_id BIGINT,
      // wav BINARY)
      ("audio_quality", 6, a =>
        graft.operators.MediaQuality.audioGates(s.read.parquet(a.head),
          "clip_id", "wav", a(1).trim.toInt, a(2).trim.toInt,
          a(3).trim.toInt, a(4).trim.toInt, a(5).trim.toInt)),
      // video_quality(path, min_frames, min_w, min_h, min_spread):
      // frame-count / frame-size / static-clip / undecodable verdicts
      // over real AVI/GIF container decode; input needs
      // (clip_id BIGINT, avi BINARY)
      ("video_quality", 5, a =>
        graft.operators.MediaQuality.videoGates(s.read.parquet(a.head),
          "clip_id", "avi", a(1).trim.toInt, a(2).trim.toInt,
          a(3).trim.toInt, a(4).trim.toInt)),
      // media_curate(path, min_w, min_h, min_spread, max_aspect,
      // max_dist): the FULL media curation chain — quality gates →
      // exact dedup → perceptual near-dup in ONE decode pass; input
      // needs (img_id BIGINT, png BINARY); emits (media_id,
      // action gated|keep|exact_dup|near_dup, dup_of)
      ("media_curate", 6, a =>
        graft.operators.MediaCurate.imageCurate(s.read.parquet(a.head),
          "img_id", "png", a(1).trim.toInt, a(2).trim.toInt, a(3).trim.toInt,
          a(4).trim.toInt, a(5).trim.toInt)),
      // media_clusters(path, max_dist): media dup-CLUSTER resolution —
      // perceptual near-pairs closed into connected components over
      // distinct dHash signatures (transitive families get ONE
      // keeper); input needs (img_id BIGINT, png BINARY); emits
      // (media_id, cluster, keeper_media_id)
      ("media_clusters", 2, a => {
        val sigs = graft.operators.ImageDedup.dhashSignatures(
          s.read.parquet(a.head), "img_id", "png")
        graft.operators.ImageDedup.clusters(sigs, a(1).trim.toInt)
      }),
      // media_dedup(path, max_dist): the composed media-dedup front
      // door — EXACT content-hash lane first (byte-identical copies
      // collapse on md5, keeper = min id; also shrinks the perceptual
      // decode pass by the duplication factor), then the perceptual
      // dHash + pigeonhole lane over exact keepers with keep-first
      // dominance; input needs (img_id BIGINT, png BINARY); emits
      // (media_id, action keep|exact_dup|near_dup, dup_of)
      ("media_dedup", 2, a =>
        graft.operators.MediaDedup.imageDedup(s.read.parquet(a.head),
          "img_id", "png", a(1).trim.toInt)),
      // cosine_neardup_exact(path, tau): BASELINE, NOT SERVING — the
      // exact all-pairs O(N^2) cosine scan (the v5 correctness oracle;
      // BroadcastNestedLoopJoin by construction). Never the production
      // path: use vec_neardup_lsh (bucketed, narrow) or semdedup for
      // real corpora; this TVF exists to validate those on samples.
      // Input needs (vec_id BIGINT, embedding ARRAY<FLOAT>).
      ("cosine_neardup_exact", 2, a => {
        import org.apache.spark.sql.functions.col
        val e = s.read.parquet(a.head)
        e.select(col("vec_id").as("da"), col("embedding").as("va"))
          .join(e.select(col("vec_id").as("db"), col("embedding").as("vb")),
            col("da") < col("db"))
          .select(col("da"), col("db"),
            graft.operators.Ann.cosine(col("va"), col("vb")).as("cosine"))
          .filter(col("cosine") >= a(1).trim.toDouble)
      }),
      // knn_sq8(corpus_path, queries_path, k): 8-bit scalar-quantized
      // ANN — training-free per-vector SQ8 codes, asymmetric approx
      // scan, refine cut, exact re-rank (the v16 kernel); corpus needs
      // (cid, cvec), queries (qid, qvec), both ARRAY<FLOAT>
      ("knn_sq8", 3, a =>
        graft.operators.Ann.sq8TopK(s.read.parquet(a.head),
          s.read.parquet(a(1)), a(2).trim.toInt,
          refine = math.max(32, a(2).trim.toInt))),
      // random_projection(path, out_dim): deterministic JL +-1
      // Rademacher reduction of (vec_id, embedding ARRAY<FLOAT>[64])
      // to out_dim projection values — the byte shrink before LSH /
      // candidate scoring; (vec_id, dim, value) rows, one narrow pass
      ("random_projection", 2, a =>
        graft.operators.Ann.randomProjection(
          s.read.parquet(a.head), "vec_id", "embedding", 64, a(1).trim.toInt)),
      // vec_clusters(path, tau): embedding dup-CLUSTER resolution —
      // the LSH-gated cosine pair relation closed into connected
      // components (a~b~c families get ONE cluster id = min member;
      // the ids leakage-free splits bucket on); input needs
      // (vec_id BIGINT, embedding ARRAY<FLOAT>); emits (vec_id, cluster)
      ("vec_clusters", 2, a => {
        val planes = (0 until 6).map(p => graft.operators.Ann.hyperplane(p, 64))
        graft.operators.Ann.nearDupClusters(s.read.parquet(a.head),
          "vec_id", "embedding", planes, a(1).trim.toDouble)
      }),
      // vec_neardup_lsh(path, tau): the SERVING-shape embedding
      // near-dup — random-hyperplane LSH buckets + in-bucket cosine
      // verify (the v6 kernel: one narrow pass + one groupByKey)
      ("vec_neardup_lsh", 2, a => {
        val planes = (0 until 6).map(p => graft.operators.Ann.hyperplane(p, 64))
        graft.operators.Ann.lshNearDupPairs(s.read.parquet(a.head),
          "vec_id", "embedding", planes, a(1).trim.toDouble)
      }),
      // warc_records(path): every record of the WARC file(s) —
      // plain .warc or per-record-gzip .warc.gz (sniffed); one task
      // per file, streamed parse
      ("warc_records", 1, a => Warc.records(s, a.head)),
      // warc_records_chunked(path, chunk_bytes): ranged-task read of
      // huge WARC files — CRC-verified gzip-member / record-boundary
      // resync; recNo = absolute byte offset
      ("warc_records_chunked", 2, a =>
        Warc.recordsChunked(s, a.head, a(1).trim.toLong)),
      // warc_text(path): the C4 ingest front door — response records'
      // HTTP payloads through the html->text chain, as
      // (warc_file, rec_no, target_uri, text)
      ("warc_text", 1, a => {
        import org.apache.spark.sql.functions.col
        Warc.records(s, a.head)
          .filter(col("recType") === "response")
          .select(col("warcFile").as("warc_file"), col("recNo").as("rec_no"),
            col("targetUri").as("target_uri"),
            Warc.htmlToText(Warc.httpPayload(col("body").cast("string"))).as("text"))
      }),
      // warc_wet_text(path): CommonCrawl's PRE-EXTRACTED text
      // distribution (*.warc.wet.gz) — conversion records' bodies ARE
      // the text, no payload split; (warc_file, rec_no, target_uri,
      // text)
      ("warc_wet_text", 1, a => Warc.wetText(s, a.head)),
      // warc_wat_json(path): the WAT metadata companion — one raw JSON
      // envelope per metadata record; compose with
      // get_json_object/from_json downstream
      ("warc_wat_json", 1, a => Warc.watJson(s, a.head)),
      // warc_media(path, content_type_prefix): binary media ingest —
      // response records whose HTTP Content-Type starts with the
      // prefix (e.g. 'image/'), payload split binary-safely (PNG bytes
      // never round-trip through a string); feed the result to
      // image_quality / media_curate / media_dedup
      ("warc_media", 2, a => {
        import org.apache.spark.sql.functions.col
        Warc.records(s, a.head)
          .filter(col("recType") === "response" &&
            Warc.hasContentType(col("body"), a(1).trim))
          .select(col("warcFile").as("warc_file"), col("recNo").as("rec_no"),
            col("targetUri").as("target_uri"),
            Warc.httpPayloadBytes(col("body")).as("payload"))
      }),
      // hard_negatives(corpus_path, queries_path, k): contrastive-
      // training negative mining — top-k most similar DIFFERENT-label
      // vectors per query; inputs need (vec_id, embedding, label)
      ("hard_negatives", 3, a => {
        import org.apache.spark.sql.functions.col
        graft.operators.Ann.hardNegatives(
          s.read.parquet(a.head).select(col("vec_id").as("cid"),
            col("embedding").as("cvec"), col("label").as("clabel")),
          s.read.parquet(a(1)).select(col("vec_id").as("qid"),
            col("embedding").as("qvec"), col("label").as("qlabel")),
          a(2).trim.toInt)
      }),
      // dsir_select(raw_path, target_path): DSIR-style domain selection
      // (fixed-point hashed-ngram importance vs the target corpus,
      // selected = above the raw pool's global mean importance)
      ("dsir_select", 2, a =>
        graft.operators.Dsir.select(s.read.parquet(a.head),
          s.read.parquet(a(1)), "doc_id", "text")),
      // mixture_rates(path, targets_csv, default_pct, budget): the
      // mixture PLANNER — per-source target tokens, per-mille gate
      // rate, and the reported deficit (hand the deficit rows to
      // epoch_upsample); targets like 'src0:55,src1:2' in integer
      // percent; BIGINT arithmetic throughout
      ("mixture_rates", 4, a =>
        graft.operators.Layout.mixtureRates(s.read.parquet(a.head),
          "doc_id", "text", "source",
          a(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
            val Array(src, p) = kv.split(":")
            src.trim -> p.trim.toInt
          }.toMap,
          a(2).trim.toInt, a(3).trim.toLong)),
      // epoch_upsample(path, weights_csv, default_pct): data-budget
      // source re-weighting — weights like 'src0:275,src1:150' in
      // integer percent epochs; emits (doc_id, source, copy_no)
      // references, no copied text
      ("epoch_upsample", 3, a =>
        graft.operators.Layout.epochUpsample(s.read.parquet(a.head), "doc_id",
          "source",
          a(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
            val Array(src, p) = kv.split(":")
            src.trim -> p.trim.toInt
          }.toMap,
          a(2).trim.toInt)),
      // boilerplate(path, k, max_df): C4-style frequency-based
      // boilerplate removal — every occurrence of any k-token chunk
      // found in >= max_df distinct documents is cut (2-token
      // short-tail guard); emits (doc_id, clean_text, n_chunks,
      // n_dropped)
      ("boilerplate", 3, a =>
        graft.operators.Boilerplate.remove(s.read.parquet(a.head), "doc_id",
          "text", a(1).trim.toInt, a(2).trim.toLong)),
      // semdedup(path, n_clusters, tau): semantic dedup (SemDeDup,
      // Abbas et al. 2023) with deterministic lowest-id seed centroids;
      // input needs (vec_id BIGINT, embedding ARRAY<FLOAT>); emits
      // (vec_id, cluster_id, cent_cos, kept)
      ("semdedup", 3, a =>
        graft.operators.SemDedup.dedup(s.read.parquet(a.head), "vec_id",
          "embedding", a(1).trim.toInt, a(2).trim.toDouble)),
      // cluster_sample(path, n_clusters, quota): cluster-balanced
      // subset selection — nearest-centroid assignment + deterministic
      // per-cluster salted-md5 quota; caps any one semantic cluster's
      // dominance; input needs (vec_id BIGINT, embedding ARRAY<FLOAT>);
      // emits (vec_id, cluster_id, cluster_rank, selected)
      ("cluster_sample", 3, a =>
        graft.operators.SemDedup.clusterSample(s.read.parquet(a.head),
          "vec_id", "embedding", a(1).trim.toInt, a(2).trim.toInt)),
      // zorder_key(path, col_a, col_b): adds the bit-interleaved `zkey`
      ("zorder_key", 3, a => {
        import org.apache.spark.sql.functions.col
        val df = s.read.parquet(a.head)
        df.withColumn("zkey",
          graft.operators.ZOrder.interleave2(col(a(1).trim), col(a(2).trim)))
      }),
      // lsh_index_admit(index_path, batch_path, out_index_path, tau):
      // the standing-minhash-index admission tick — gate the batch
      // against the persisted index (minhash_doc_index layout), ADMIT
      // non-duplicates, write the updated index to out_index_path;
      // returns the per-doc decisions (sid, admitted, n_ref_matches)
      ("lsh_index_admit", 4, a => {
        val adm = graft.operators.Dedup.minhashIndexAdmit(
          s.read.parquet(a.head), s.read.parquet(a(1)), "doc_id", "text",
          3, 4, 4, a(3).trim.toDouble)
        adm.updatedIndex.write.mode("overwrite").parquet(a(2))
        adm.decisions
      }),
      // ── the COMMITTED minhash-index lifecycle (the third standing
      // index: crash-atomic manifest commits, exactly-once txn rail —
      // graft.operators.MinhashIndex; lsh_index_admit above is the
      // uncommitted caller-persisted shape) ──
      // minhash_index_build(corpus_path, index_dir, "n:bands:rpb"):
      // signature scheme persists in the manifest; returns the receipt
      ("minhash_index_build", 3, a => {
        val Array(n, bands, rpb) = a(2).split(":").map(_.trim.toInt)
        graft.operators.MinhashIndex.build(s.read.parquet(a.head),
          "doc_id", "text", a(1), n, bands, rpb)
        minhashManifestSummary(a(1))
      }),
      // minhash_index_gate(index_dir, docs_path, threshold): which batch
      // docs near-dup the committed corpus — (da, db, jaccard >= t)
      ("minhash_index_gate", 3, a =>
        graft.operators.MinhashIndex.gate(s, a.head, s.read.parquet(a(1)),
          "doc_id", "text", a(2).trim.toDouble)),
      // minhash_index_admit(index_dir, docs_path, threshold): one
      // committed admission tick — gate, append only the
      // non-duplicates, return the per-doc verdicts
      ("minhash_index_admit", 3, a =>
        graft.operators.MinhashIndex.admit(s, a.head, s.read.parquet(a(1)),
          "doc_id", "text", a(2).trim.toDouble).decisions),
      // minhash_index_gate_version(index_dir, version, batch_path,
      // threshold): TIME-TRAVEL gate — "would this batch have
      // deduplicated against the corpus AS OF that version"
      ("minhash_index_gate_version", 4, a =>
        graft.operators.MinhashIndex.gateVersion(s, a.head, a(1).trim.toLong,
          s.read.parquet(a(2)), "doc_id", "text", a(3).trim.toDouble)),
      // minhash_index_delete_ids(index_dir, ids_path): id-only takedown
      // — sid→bucket is a pure function, so only the requests' buckets
      // are read and consolidated (no scan); returns the receipt
      ("minhash_index_delete_ids", 2, a => {
        graft.operators.MinhashIndex.deleteByIds(s, a.head,
          s.read.parquet(a(1)))
        minhashManifestSummary(a.head)
      }),
      // minhash_index_profile(index_dir): the standing index's 1-row
      // monitoring surface from the committed artifacts alone — doc
      // count, the persisted signature scheme, per-artifact
      // materialization + fragmentation (compaction pressure), and the
      // band-occupancy block (the gate-cost health meter)
      ("minhash_index_profile", 1, a =>
        graft.operators.MinhashIndex.indexProfile(s, a.head)),
      // minhash_index_occupancy(index_dir, grow_pct): the occupancy
      // DRIFT VERDICT (the ivf_index_drift sibling) — rebuild_due
      // flips when mean band occupancy grew more than grow_pct percent
      // over the oldest servable version's
      ("minhash_index_occupancy", 2, a =>
        graft.operators.MinhashIndex.occupancyVerdict(s, a.head,
          a(1).trim.toInt)),
      // minhash_index_upgrade(index_dir): bring a dir written before
      // the band artifact or its occupancy sidecar existed to the
      // current layout in one tick (every other verb refuses such a dir)
      ("minhash_index_upgrade", 1, a => {
        graft.operators.MinhashIndex.upgrade(s, a.head)
        minhashManifestSummary(a.head)
      }),
      // minhash_index_export(src_dir, dest_dir) /
      // minhash_index_export_version(src_dir, dest_dir, version): the
      // bm25_index_export verbs on the dedup family
      ("minhash_index_export", 2, a => {
        val sp = s
        import sp.implicits._
        Seq(graft.operators.MinhashIndex.exportIndex(sp, a.head, a(1)))
          .toDF("exported_version")
      }),
      ("minhash_index_export_version", 3, a => {
        val sp = s
        import sp.implicits._
        Seq(graft.operators.MinhashIndex.exportIndex(sp, a.head, a(1),
          a(2).trim.toLong)).toDF("exported_version")
      }),
      // minhash_index_vacuum(index_dir, grace_versions)
      ("minhash_index_vacuum", 2, a => {
        val sp = s
        import sp.implicits._
        // reclaimed_version as in bm25_index_vacuum; the
        // deleted_version alias is retired (deprecation cycle done)
        graft.operators.MinhashIndex.vacuum(sp, a.head, a(1).trim.toLong)
          .toDF("reclaimed_version")
      }),
      // minhash_index_upsert(index_dir, docs_path): the REFRESH verb —
      // (doc_id, text) rows whose new signature rows replace any
      // committed rows of the same sid (admission gate bypassed: a
      // refresh is a correction, not a candidate)
      ("minhash_index_upsert", 2, a => {
        graft.operators.MinhashIndex.upsert(s, a.head, s.read.parquet(a(1)),
          "doc_id", "text")
        minhashManifestSummary(a.head)
      }),
      // minhash_index_apply(index_dir, changes_path): the CDC verb —
      // a MIXED batch of (op 'upsert'|'delete', doc_id, text) rows
      // folds in one crash-atomic commit
      ("minhash_index_apply", 2, a => {
        graft.operators.MinhashIndex.applyChanges(s, a.head,
          s.read.parquet(a(1)), "op", "doc_id", "text")
        minhashManifestSummary(a.head)
      }),
      // minhash_index_compact(index_dir, min_versions): rewrite every
      // signature bucket with >= min_versions contributing data
      // versions into one (pure physical rewrite — the gate is
      // bit-identical); bounds a long-lived admission stream's
      // per-bucket read amplification; vacuum eats the history
      ("minhash_index_compact", 2, a => {
        val sp = s
        import sp.implicits._
        graft.operators.MinhashIndex.compact(sp, a.head, a(1).trim.toInt)
          .toDF("compacted_bucket")
      }),
      // hybrid_rrf(corpus_path, queries_path, k_leg, k): hybrid
      // retrieval — BM25 lexical leg + exact-cosine vector leg over
      // one corpus, fused by integer Reciprocal-Rank Fusion
      // (score = sum of 1e9 DIV (60 + rank), Cormack et al. 2009);
      // corpus needs (doc_id BIGINT, text STRING, embedding
      // ARRAY<FLOAT>), queries (qid BIGINT, term STRING, qvec
      // ARRAY<FLOAT>); emits (qid, doc_id, rrf, rank). The vector leg
      // here is the exact broadcast scan — swap in the served IVF
      // index for corpus scales where Q*N is unpayable; the fusion is
      // agnostic to how a leg was ranked
      ("hybrid_rrf", 4, a =>
        graft.operators.Hybrid.hybridTopK(s.read.parquet(a.head),
          "doc_id", "text", "embedding", s.read.parquet(a(1)),
          a(2).trim.toInt, a(3).trim.toInt)),
      // the committed IVF standing-index lifecycle from SQL — the
      // bm25_index family's vector sibling, on the same
      // versioned-manifest commit protocol (one atomic CURRENT flip
      // per tick; readers see old or new, never a mix). Centroids come
      // from a (cell INT, cvec ARRAY<FLOAT>) parquet artifact the
      // caller trained; corpus/batch parquet needs (cid BIGINT, cvec
      // ARRAY<FLOAT>), queries (qid BIGINT, qvec ARRAY<FLOAT>).
      // Build/append return the committed manifest as a 1-row summary;
      // serve emits (qid, rank, cid, cosine) partition-pruned to the
      // probed cells.
      ("ivf_index_build", 3, a => {
        val cents = s.read.parquet(a(2))
          .select(org.apache.spark.sql.functions.col("cell"),
            org.apache.spark.sql.functions.col("cvec"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
          .sortBy(_._1).map(_._2)
        graft.operators.Ann.ivfIndexBuild(s.read.parquet(a.head), a(1), cents)
        ivfManifestSummary(a(1))
      }),
      ("ivf_index_append", 2, a => {
        graft.operators.Ann.ivfIndexAppend(s, a.head, s.read.parquet(a(1)))
        ivfManifestSummary(a.head)
      }),
      // ivf_index_admit(index_dir, batch_path, threshold, nprobe): the
      // admission tick — gate arriving vectors against the standing
      // index by cosine near-dup search under the committed centroids,
      // append the admitted rows as one committed tick, return the
      // per-vector verdicts (cid, admitted, n_ref_matches); the
      // embedding sibling of lsh_index_admit
      ("ivf_index_admit", 4, a =>
        graft.operators.Ann.ivfIndexAdmit(s, a.head, s.read.parquet(a(1)),
          a(2).trim.toDouble, a(3).trim.toInt).decisions),
      // ivf_index_vacuum(index_dir, grace_versions): the vacuum tick
      // (retires replaced rebuilds; pure appends supersede nothing)
      ("ivf_index_vacuum", 2, a => {
        val sp = s
        import sp.implicits._
        // reclaimed_version as in bm25_index_vacuum; the
        // deleted_version alias is retired (deprecation cycle done)
        graft.operators.Ann.ivfVacuum(sp, a.head, a(1).trim.toLong)
          .toDF("reclaimed_version")
      }),
      ("ivf_serve", 4, a =>
        graft.operators.Ann.ivfServedTopK(s, a.head, s.read.parquet(a(1)),
          a(2).trim.toInt, a(3).trim.toInt)),
      // ivf_serve_version(index_dir, version, queries_path, k, nprobe):
      // TIME-TRAVEL serve — the index AS OF a committed historical
      // version (reaches as deep as the vacuum grace window; a crashed
      // tick's orphan manifest refuses)
      ("ivf_serve_version", 5, a =>
        graft.operators.Ann.ivfServedTopKVersion(s, a.head, a(1).trim.toLong,
          s.read.parquet(a(2)), a(3).trim.toInt, a(4).trim.toInt)),
      // index_history(index_dir): every manifest version still on disk
      // for ANY of the three committed index families — servable =
      // committed (≤ CURRENT; a crashed tick's orphan is not),
      // is_current flags the live one
      ("index_history", 1, a => {
        val sp = s
        import sp.implicits._
        graft.operators.ManifestIO.history(sp, a.head)
          .toDF("version", "servable", "is_current")
      }),
      // ivf_index_delete(index_dir, batch_path): the takedown tick —
      // remove previously ingested (cid, cvec) rows; the vectors
      // locate the affected cells by assignment under the committed
      // centroids, so only those cells are consolidated; returns the
      // commit receipt
      ("ivf_index_delete", 2, a => {
        graft.operators.Ann.ivfIndexDelete(s, a.head, s.read.parquet(a(1)))
        ivfManifestSummary(a.head)
      }),
      // ivf_index_drift(index_dir): the rebuild alarm from the
      // committed artifacts alone — per contributing data version,
      // member count + fixed-point mean cosine to the assigned frozen
      // centroid (falls as appended mass drifts from the trained
      // geometry; the bm25_index_profile sibling for the vector index)
      ("ivf_index_drift", 1, a =>
        graft.operators.Ann.ivfGeometryDrift(s, a.head)),
      // ivf_index_delete_ids(index_dir, ids_path): the STRICT id-only
      // takedown — removes a cid's every copy, including a stale
      // vector an update-by-append left in another cell (the gap the
      // assignment-local ivf_index_delete documents); locates through
      // the cid→cell reverse map (≤ |ids| cbucket dirs read — no cells
      // scan); returns the commit receipt
      ("ivf_index_delete_ids", 2, a => {
        graft.operators.Ann.ivfIndexDeleteByIds(s, a.head, s.read.parquet(a(1)))
        ivfManifestSummary(a.head)
      }),
      // ivf_index_upsert(index_dir, batch_path): the REFRESH verb —
      // (cid, cvec) rows replace EVERY committed copy of the same cid
      // (stale update-by-append copies included, the strict locate)
      // and plain-append new cids, in one crash-atomic commit
      ("ivf_index_upsert", 2, a => {
        graft.operators.Ann.ivfIndexUpsert(s, a.head, s.read.parquet(a(1)))
        ivfManifestSummary(a.head)
      }),
      // ivf_index_apply(index_dir, changes_path): the CDC verb — a
      // MIXED batch of (op 'upsert'|'delete', cid, cvec) rows folds in
      // one crash-atomic commit
      ("ivf_index_apply", 2, a => {
        graft.operators.Ann.ivfApplyChanges(s, a.head, s.read.parquet(a(1)),
          "op")
        ivfManifestSummary(a.head)
      }),
      // ivf_index_compact(index_dir, min_versions): rewrite every cell
      // with >= min_versions contributing data versions into one (pure
      // physical rewrite — serving is bit-identical); bounds a
      // long-lived append stream's per-cell read amplification; the
      // superseded history is the next vacuum's food
      ("ivf_index_compact", 2, a => {
        val sp = s
        import sp.implicits._
        graft.operators.Ann.ivfIndexCompact(sp, a.head, a(1).trim.toInt)
          .toDF("compacted_cell")
      }),
      // ivf_index_export(src_dir, dest_dir) /
      // ivf_index_export_version(src_dir, dest_dir, version): the
      // bm25_index_export verbs on the vector family
      ("ivf_index_export", 2, a => {
        val sp = s
        import sp.implicits._
        Seq(graft.operators.Ann.ivfIndexExport(sp, a.head, a(1)))
          .toDF("exported_version")
      }),
      ("ivf_index_export_version", 3, a => {
        val sp = s
        import sp.implicits._
        Seq(graft.operators.Ann.ivfIndexExport(sp, a.head, a(1),
          a(2).trim.toLong)).toDF("exported_version")
      }),
      // ivf_index_upgrade(index_dir): bring a dir written before the
      // cid→cell reverse map or the drift-stats sidecar existed to the
      // current layout in one tick (every other verb refuses such a dir)
      ("ivf_index_upgrade", 1, a => {
        graft.operators.Ann.ivfIndexUpgrade(s, a.head)
        ivfManifestSummary(a.head)
      }),
      // ivf_index_cidmap(index_dir): the committed cid→cell reverse
      // map (cid, cell, cbucket) — what the id-only takedown locates
      // through
      ("ivf_index_cidmap", 1, a =>
        graft.operators.Ann.readIvfCidmap(s, a.head)),
      // ivf_drift_verdict(index_dir, rebuild_drop_pct): the drift
      // alarm as a VERDICT — one row comparing the latest appended
      // version's mean cosine to the trained reference version's,
      // rebuild_due flipping when the drop exceeds the given percent;
      // what a monitoring job tails instead of re-deriving the
      // comparison from ivf_index_drift's time series
      ("ivf_drift_verdict", 2, a =>
        graft.operators.Ann.ivfDriftVerdict(s, a.head, a(1).trim.toInt)),
      // hybrid_served(bm25_dir, ivf_dir, queries_path, k_leg, k,
      // nprobe): hybrid retrieval served ENTIRELY from the standing
      // committed indexes — the lexical leg reads only the query
      // terms' buckets of a bm25_index_build index, the vector leg
      // probes nprobe committed IVF cells, integer RRF fuses; the
      // corpus-scale deployment shape hybrid_rrf's usage note points
      // at, as one call. Queries parquet needs (qid BIGINT, term
      // STRING, qvec ARRAY<FLOAT>); emits (qid, doc_id, rrf, rank)
      // hybrid_served_version(bm25_dir, bm25_version, ivf_dir,
      // ivf_version, queries_path, k_leg, k, nprobe): the TIME-TRAVEL
      // hybrid serve — both legs AS OF explicit committed versions;
      // replays a tagged serve-stream epoch exactly
      ("hybrid_served_version", 8, a =>
        graft.operators.Hybrid.servedTopKVersion(s, a.head, a(1).trim.toLong,
          a(2), a(3).trim.toLong, s.read.parquet(a(4)), a(5).trim.toInt,
          a(6).trim.toInt, a(7).trim.toInt)),
      ("hybrid_served", 6, a =>
        graft.operators.Hybrid.servedTopK(s, a.head, a(1),
          s.read.parquet(a(2)), a(3).trim.toInt, a(4).trim.toInt,
          a(5).trim.toInt)),
      // hybrid_snapshot(ref_path, queries_path, docs_path, k_leg, k):
      // the streaming hybrid-retrieval operator applied to a batch
      // frame (the bm25_decontam_gate shape) — train the frozen
      // two-leg model on ref_path + queries_path (qid, term, qvec),
      // then fold docs_path (doc_id, text, embedding) through the
      // bounded per-query top-k state; emits each query's fused
      // (qid, docId, rrf, rank, docsSeen) snapshot, which on a batch
      // frame equals hybrid_rrf over the same corpus
      ("hybrid_snapshot", 5, a => {
        val model = graft.streaming.HybridStream.train(
          s.read.parquet(a.head), "doc_id", "text", s.read.parquet(a(1)),
          a(3).trim.toInt, a(4).trim.toInt)
        graft.streaming.HybridStream.topK(
          s.read.parquet(a(2)), "doc_id", "text", "embedding", model).toDF()
      }),
      // leak_audit(splits_path, pairs_path): split-leakage audit —
      // one row per near-dup pair with both sides' splits and a
      // violation flag (pair straddles two splits); splits need
      // (doc_id, split), pairs (da, db)
      ("leak_audit", 2, a =>
        graft.operators.Layout.leakageAudit(s.read.parquet(a.head),
          s.read.parquet(a(1)))),
      // leakfree_split_pairs(ids_path, pairs_path): leak-free split
      // from an EXPLICIT pair relation (any dedup kernel's verdicts) —
      // components close the pairs, the cluster id takes the md5
      // bucket; audits to zero violations by construction
      ("leakfree_split_pairs", 2, a =>
        graft.operators.Layout.leakFreeSplitFromPairs(
          s.read.parquet(a.head), "doc_id", s.read.parquet(a(1)))),
      ("shard_layout", 2, a => {
        import org.apache.spark.sql.functions.{col, md5}
        val nsh = a(1).trim.toInt
        val base = s.read.parquet(a.head).select(
          col("doc_id"),
          graft.operators.Layout.md5Bucket(col("doc_id"), nsh).as("shard"),
          md5(col("doc_id").cast("string")).as("k"))
        graft.operators.Layout.shardPositions(base, "shard", Seq("k", "doc_id"), "pos")
          .select(col("doc_id"), col("shard"), col("pos"))
      }))
  }

  /** The committed IVF manifest as a 1-row frame (the build/append
    * TVFs' return value — the bm25_index family returns stats; the
    * IVF analog is the commit receipt). */
  private def ivfManifestSummary(dir: String): DataFrame = {
    val s = SparkSession.active
    import s.implicits._
    val m = graft.operators.Ann.readIvfManifest(s, dir)
    Seq((m.version, m.cells, m.centroidsVersion,
      m.cellVersions.size.toLong)).toDF(
      "version", "cells", "centroids_version", "materialized_cells")
  }

  /** The committed minhash manifest as a 1-row receipt (the
    * [[ivfManifestSummary]] analog for the third index). */
  private def minhashManifestSummary(dir: String): DataFrame = {
    val s = SparkSession.active
    import s.implicits._
    val m = graft.operators.MinhashIndex.readManifest(s, dir)
    Seq((m.version, m.buckets, m.n, m.bands, m.rowsPerBand,
      m.bucketVersions.size.toLong)).toDF(
      "version", "buckets", "n", "bands", "rows_per_band",
      "materialized_buckets")
  }

  private def tvfBuilder(name: String, nArgs: Int,
      build: Seq[String] => DataFrame): Seq[Expression] => LogicalPlan =
    exprs => GraftBridge.logicalPlan(
      build((0 until nArgs).map(i => argString(exprs, name, i))))

  /** Register every TVF + scalar function on a live session. */
  def register(spark: SparkSession): Unit = {
    CodecExpressions.register(spark)
    VectorExpressions.register(spark)
    tvfs.foreach { case (name, n, build) =>
      GraftBridge.registerTableFunction(spark, name, tvfBuilder(name, n, build))
    }
  }

  /** Usage labels surfaced through `ExpressionInfo` (DESCRIBE FUNCTION
    * on the extension-injected path): quadratic correctness baselines
    * must carry their warning AT the registration, not only in
    * Scaladoc, so a user reaching for the SQL surface is pointed at
    * the serving-shape kernel before running an O(N^2) scan. */
  private[graft] val tvfUsage: Map[String, String] = Map(
    "cosine_neardup_exact" ->
      ("BASELINE, NOT SERVING: exact all-pairs O(N^2) cosine pair scan " +
        "(BroadcastNestedLoopJoin) kept as the correctness oracle for the " +
        "bucketed kernels. For production corpora use vec_neardup_lsh or " +
        "semdedup; validate them against this TVF on samples only."),
    "vec_neardup_lsh" ->
      ("Serving-shape embedding near-dup: hyperplane LSH buckets + " +
        "in-bucket cosine verify; one narrow pass + one groupByKey."),
    "hybrid_rrf" ->
      ("Correctness-baseline hybrid: the vector leg is an exact " +
        "broadcast scan (Q*N cosines). At corpus scales where that is " +
        "unpayable, use hybrid_served (both legs from the standing " +
        "committed indexes — the t51 deployment shape, one call)."),
    "hybrid_snapshot" ->
      ("Streaming hybrid gate applied to a batch frame: every doc is " +
        "scored against EVERY query on both modalities (the " +
        "decontamination-serving shape — eval sets are small, corpora " +
        "are not). Keep the query side eval-set-sized."))

  private[sources] def info(name: String): ExpressionInfo =
    tvfUsage.get(name) match {
      case Some(usage) =>
        new ExpressionInfo(SqlFrontDoor.getClass.getCanonicalName, null, name,
          usage, "")
      case None => new ExpressionInfo(SqlFrontDoor.getClass.getCanonicalName, name)
    }

  private[sources] def scalarInjections
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("tbcd_decode"), info("tbcd_decode"),
      exprs => TbcdDecode(exprs.head)),
    (FunctionIdentifier("bcd_swap"), info("bcd_swap"),
      exprs => BcdSwapDecode(exprs.head)),
    (FunctionIdentifier("fvec_dot"), info("fvec_dot"),
      exprs => FloatVecDot(exprs.head, exprs(1))))

  private[graft] def tableInjections
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] =
    tvfs.map { case (name, n, build) =>
      (FunctionIdentifier(name), info(name), tvfBuilder(name, n, build))
    }
}

/** `spark.sql.extensions` entry point: injects the codec scalars and the
  * pipeline TVFs into every session built with this class configured —
  * no imperative registration call needed. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    SqlFrontDoor.scalarInjections.foreach(ext.injectFunction)
    SqlFrontDoor.tableInjections.foreach(ext.injectTableFunction)
  }
}
