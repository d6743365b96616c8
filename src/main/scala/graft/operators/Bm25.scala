package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Sparse lexical retrieval: inverted postings + BM25 top-k — the
  * classic complement to the embedding-based ANN family (v1-v10), and
  * the retrieval half of a decontamination / data-curation pipeline
  * (find the training documents that best match an eval query).
  *
  * Scale design:
  *   - The postings build filters to the QUERY terms inside the scan
  *     task (explode → isin → partial-aggregated count): only rows for
  *     queried terms ever shuffle, so a 3-term query over a 100 TB
  *     corpus shuffles a few GB of (doc, term, tf) rows, not the
  *     corpus. A standing-index deployment would persist the full
  *     postings list partitioned by term; the query-time plan is the
  *     same join with the scan replaced by an index read.
  *   - Document frequency and the corpus length stats are tiny
  *     (|terms| rows and 1 row) and ride broadcasts into the scoring
  *     projection — scoring itself is one narrow pass over the matched
  *     postings.
  *   - Top-k plans as TakeOrderedAndProject: per-partition heaps, no
  *     global sort.
  *
  * Determinism contract (the engine's cross-engine hash-match bar):
  * the textbook BM25 idf is `ln((N-df+0.5)/(df+0.5)+1)` — a
  * transcendental whose last-ulp behavior is libm-dependent, so the
  * engine uses the RATIONAL idf `(N-df+0.5)/(df+0.5)` (same sign and
  * ordering for df ≤ N, which a postings-derived df always satisfies).
  * The tf-saturation term is untouched. All arithmetic is spelled in
  * the exact same order on the Spark and oracle sides; per-term scores
  * are combined by FIXED-ORDER addition over conditional aggregates,
  * never a float `sum()` whose accumulation order is engine-defined.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75
  // k1 + 1 and the b-complement, written as literals so both engines
  // parse the identical double rather than folding 1.2 + 1 themselves
  val K1Plus1 = 2.2
  val OneMinusB = 0.25

  /** Per-(doc, term) tf postings for `terms` only. */
  def postings(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String]): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k: one output row per retrieved doc with per-term partial
    * scores (fixed column per query term) and their fixed-order total,
    * ordered by (score desc, doc_id), limited to `topK`. Duplicate
    * query terms are collapsed; per-term columns are referenced
    * backquoted so terms containing dots (e.g. a domain) stay plain
    * column names rather than nested-field paths. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      terms0: Seq[String], topK: Int): DataFrame = {
    val terms = terms0.distinct
    require(terms.nonEmpty, "bm25 needs at least one query term")
    def scol(t: String): Column = col(s"`s_$t`")
    val dl = docs.select(col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      .select(col("n"), (col("sdl").cast("double") / col("n")).as("avgdl"))
    val tf = postings(docs, idCol, textCol, terms)
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))

    val idf = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val dlr = col("dl").cast("double") / col("avgdl")
    val score = (idf * (col("tf") * lit(K1Plus1))) /
      (col("tf") + lit(K1) * (lit(OneMinusB) + lit(B) * dlr))

    val scored = tf
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(dfreq), "t")
      .select(col("doc_id"), col("t"), score.as("s"))

    val partials: Seq[Column] = terms.map(t =>
      sum(when(col("t") === t, col("s"))).as(s"s_$t"))
    val total = terms.map(t => coalesce(scol(t), lit(0.0))).reduceLeft(_ + _)
    scored.groupBy(col("doc_id"))
      .agg(partials.head, partials.tail: _*)
      .select(col("doc_id") +: terms.map(t => coalesce(scol(t), lit(0.0)).as(s"s_$t")) :+
        total.as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Stopword-prune rule shared by every batch path: a term present in
    * ≥ 80 % of documents carries near-zero idf and a corpus-sized
    * postings row-count — the single biggest skew key in a term-
    * partitioned shuffle. `5*df >= 4*n` (integer arithmetic, engine-
    * identical) drops it from scoring, the same pruning a Lucene
    * stop-filter applies at index time. */
  val PruneDfNum = 4
  val PruneDfDen = 5

  /** Default partition count of the standing index —
    * bucket = pmod(xxhash64(t), buckets). A BUILD-time parameter
    * persisted in the index manifest (serve and append read it from
    * there, never from this constant): the bucket is the append tick's
    * rewrite unit, so a 100 TB corpus sizes it so one bucket is a
    * manageable rewrite (e.g. 4096), while a test corpus keeps 16. */
  val IndexBuckets = 16

  /** Fixed-point scale of the batch/served/streaming per-term score:
    * floor(score·10⁶) as BIGINT. The t19/t37 discipline, and the reason
    * is SCALE as much as parity — an integer per-(query, doc) total
    * sums order-independently, so it plans as a codegen'd partial-
    * aggregated HashAggregate with map-side combine, where the
    * fixed-order double fold needed an ObjectHashAggregate buffering
    * every term row per group (collect_list + sort_array; measured
    * 4.6 s → ~2 s on the t40 corpus). 10⁻⁶ resolution leaves the BM25
    * ranking semantically untouched; floor (not round) because IEEE
    * half-even vs half-up diverges across engines. */
  val ScoreScale = 1000000L

  /** Per-query-term score, spelled once so the batch, served and
    * streaming paths compute bit-identical doubles (operation order
    * fixed; every literal written as a single double constant), then
    * floored into the [[ScoreScale]] fixed-point domain. */
  private def termScoreFp(tf: Column, df: Column, n: Column, dl: Column,
      avgdl: Column): Column =
    floor((((n - df + lit(0.5)) / (df + lit(0.5))) * (tf * lit(K1Plus1)) /
      (tf + lit(K1) * (lit(OneMinusB) + lit(B) * (dl.cast("double") / avgdl))))
      * lit(1000000.0)).cast("long")

  private def rankTopK(totals: DataFrame, k: Int): DataFrame =
    totals.withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)

  /** Batch multi-query BM25 top-k: `queries` is a (qid, term) frame —
    * one row per query term; duplicate terms within a query are
    * collapsed. Returns (qid, doc_id, score, rank) with rank ≤ `k` per
    * query, ranked by (score desc, doc_id).
    *
    * Scale shape: the query batch is dimension-sized and rides a
    * broadcast into the postings build, so only rows for queried terms
    * ever shuffle; df/stats are broadcast; the per-(qid, doc) fold is
    * one hash aggregation; ranking partitions by qid (no global sort).
    * ≥ 80 %-df terms are pruned (see [[PruneDfNum]]) — both the
    * standard stopword rule and the defense against the one term that
    * would otherwise put a corpus-sized posting list in a single
    * shuffle partition. */
  def batchTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("qid").cast("long").as("qid"),
      col("term").as("t")).distinct()
    // tokenize + explode is the corpus-sized compute of this plan;
    // [[Par.spread]] keeps it off a single-split scan stage (guide
    // §2.5 — no-op when the input already scans wide)
    val d0 = Par.spread(docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("_text")))
    // ONE corpus tokenize for the whole plan (guide §1.2 fewer passes):
    // the doc-length/stats leg and the postings leg both read the
    // size-gated pin of (doc_id, tokens) — unpinned, each leg re-ran
    // the regex split over the corpus in its own scan stage. dl is
    // computed BELOW the explode and only the scalar rides the
    // Generate: `size(tokens) AS dl` projected ABOVE `explode(tokens)`
    // re-evaluated the split once PER TOKEN ROW (the r18 t40 profile:
    // ~16 s task time in that stage).
    val d1 = Par.pin(d0.select(col("doc_id"), tokens(col("_text")).as("_toks")))
    val dl = d1.select(col("doc_id"), size(col("_toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      .select(col("n"), (col("sdl").cast("double") / col("n")).as("avgdl"))
    val terms = q.select(col("t")).distinct()
    // dl rides the postings rows (constant per doc, one extra long per
    // shuffled row) so scoring never joins two corpus-sized frames —
    // the serve path gets the same for free from the denormalized index
    val tf0 = d1
      .select(col("doc_id"), size(col("_toks")).cast("long").as("dl"),
        col("_toks"))
      .select(col("doc_id"), col("dl"), explode(col("_toks")).as("t"))
      .join(broadcast(terms), "t")
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    // tf feeds TWO consumers (the df prune and the scoring join) whose
    // different column pruning defeats exchange reuse — unpinned, the
    // whole corpus-tokenize subtree executed twice (r18 profile: jobs
    // 36/37 repeated jobs 31/32). tf is QUERY-TERM-bounded by the
    // broadcast semi-join above (docs × queried terms, never
    // corpus-sized at any SF — the scaladoc's scale contract), so the
    // size-gated [[Par.pin]] materializes it once for both.
    val tf = Par.pin(tf0)
    val kept = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats.select(col("n"))))
      .filter(col("df") * PruneDfDen < col("n") * PruneDfNum)
      .select(col("t"), col("df"))
    val scored = tf
      .join(broadcast(kept), "t")
      .crossJoin(broadcast(stats))
      .join(broadcast(q), "t")
      .select(col("qid"), col("doc_id"),
        termScoreFp(col("tf"), col("df"), col("n"), col("dl"), col("avgdl")).as("s"))
    rankTopK(scored.groupBy(col("qid"), col("doc_id")).agg(sum(col("s")).as("score")), k)
      .select(col("qid"), col("doc_id"), col("score"), col("rank"))
  }

  // ---------------------------------------------------------------
  // Standing-index storage ([[ManifestIO]]'s versioned-manifest model):
  //   data/<v>/postings/bucket=<b>/…    (t, doc_id, tf, dl) rows of tick v
  //   data/<v>/termstats/bucket=<b>/…   per-(bucket, term) df deltas
  //   data/<v>/docmap/dbucket=<k>/…     the doc→bucket reverse index
  //   data/<v>/stats/                   1-row (n, sdl) — written by every
  //                                     tick, so new postings are never
  //                                     served against stale (n, avgdl)
  // ---------------------------------------------------------------

  /** One committed index state: the bucket count chosen at build time,
    * the data versions CONTRIBUTING to each bucket's postings (absent
    * bucket = no terms hash there yet; ACCRETIVE lists like the IVF
    * cell / minhash models — an append adds only its own batch-derived
    * files and appends its version to the touched buckets' lists,
    * delete/upsert/rebuild/compact consolidate a bucket back to a
    * single version), the version owning the stats row, and the
    * writer-transaction LEDGER (appId → last committed epoch, carried
    * forward on every commit — see [[ManifestIO.txnAlreadyApplied]],
    * the exactly-once gate for streaming maintenance). */
  final case class IndexManifest(version: Long, buckets: Int,
      statsVersion: Long, bucketVersions: Map[Int, Seq[Long]],
      txns: Map[String, Long], docVersions: Map[Int, Seq[Long]])

  /** The BM25 layout for the shared lifecycle verbs. */
  private[graft] object Spec extends ManifestIO.IndexSpec[IndexManifest] {
    val what = "BM25 index"
    val upgradeVerb = "Bm25.upgrade (SQL bm25_index_upgrade)"

    // an empty docmap renders no line; the termstats line marks the
    // sidecar every version carries
    def render(m: IndexManifest): String =
      s"version=${m.version}\nbuckets=${m.buckets}\nstats=${m.statsVersion}\n" +
        s"bucketVersions=${ManifestIO.renderVersions(m.bucketVersions)}\n" +
        (if (m.docVersions.isEmpty) ""
         else s"docVersions=${ManifestIO.renderVersions(m.docVersions)}\n") +
        "termstats=1\n" + ManifestIO.renderTxns(m.txns)

    def parse(text: String): IndexManifest = {
      val kv = ManifestIO.parseKv(text)
      IndexManifest(kv("version").toLong, kv("buckets").toInt, kv("stats").toLong,
        ManifestIO.parseVersions(kv("bucketVersions")), ManifestIO.parseTxns(kv),
        kv.get("docVersions").map(ManifestIO.parseVersions).getOrElse(Map.empty))
    }

    // every doc with postings has a docmap row, so postings without a
    // docVersions line are a dir written before the docmap existed
    def missing(body: String): Seq[String] = {
      val kv = ManifestIO.parseKv(body)
      (if (!kv.contains("docVersions") && kv("bucketVersions").nonEmpty) Seq("docmap")
       else Nil) ++ (if (kv.get("termstats").contains("1")) Nil else Seq("termstats"))
    }

    // the docmap from ONE full postings scan: per doc its dl and the
    // buckets holding its postings. A zero-token legacy doc left no
    // postings, so it stays invisible to id-only deletes
    def derive(spark: SparkSession, dir: String, m: IndexManifest,
        gone: Seq[String], ver: Long): IndexManifest =
      if (!gone.contains("docmap")) m
      else m.copy(docVersions = ManifestIO.writePartitioned(readPostingsAt(spark, dir, m)
          .groupBy(col("doc_id"))
          .agg(first(col("dl")).as("dl"), array_sort(collect_set(col("bucket"))).as("tbuckets"))
          .withColumn("dbucket", pmod(xxhash64(col("doc_id")), lit(m.buckets)).cast("int")),
        dir, ver, "docmap", "dbucket").map(_ -> Seq(ver)).toMap)

    def accreting(m: IndexManifest): Seq[ManifestIO.Accreting] = Seq(
      ManifestIO.Accreting("postings", "bucket", m.bucketVersions,
        Some(ManifestIO.Sidecar("termstats", perPartition = true))),
      ManifestIO.Accreting("docmap", "dbucket", m.docVersions))

    override def single(m: IndexManifest): Seq[(String, Long)] =
      Seq("stats" -> m.statsVersion)

    def read(spark: SparkSession, dir: String, m: IndexManifest, name: String,
        parts: Set[Int]): DataFrame =
      if (name == "postings") readPostingsAt(spark, dir, m, Some(parts))
      else readDocmapAt(spark, dir, m, Some(parts))

    def writeSidecar(spark: SparkSession, dir: String, m: IndexManifest,
        ver: Long, parts: Seq[Int]): Unit = writeTermstats(spark, dir, ver, parts)

    def updated(m: IndexManifest, version: Long,
        versions: Map[String, Map[Int, Seq[Long]]]): IndexManifest =
      m.copy(version = version, bucketVersions = versions("postings"),
        docVersions = versions("docmap"))

    def txns(m: IndexManifest): Map[String, Long] = m.txns

    def withTxns(m: IndexManifest, txns: Map[String, Long]): IndexManifest =
      m.copy(txns = txns)
  }

  /** Read the COMMITTED manifest — the index state every reader serves
    * from. Fails loudly on a dir with no committed index. */
  def readManifest(spark: SparkSession, dir: String): IndexManifest =
    Spec.current(spark, dir)

  /** The committed postings frame: every (version, bucket) dir the
    * manifest lists, read from its explicit path in one scan
    * ([[ManifestIO.readVersionedArtifact]]) — readers never see an
    * uncommitted tick's files. `onlyBuckets` restricts the read to the
    * given bucket ids — the serve path's partition pruning, made
    * literal: unneeded buckets are not even listed. */
  def readPostings(spark: SparkSession, dir: String,
      onlyBuckets: Option[Set[Int]] = None): DataFrame =
    readPostingsAt(spark, dir, readManifest(spark, dir), onlyBuckets)

  /** [[readPostings]] against an ALREADY-READ manifest — operations
    * that read several index artifacts (serve: stats + postings;
    * append: postings + stats) MUST read CURRENT once and thread the
    * manifest through, or an append committing between their reads
    * would hand them new stats against old postings — exactly the torn
    * state the commit protocol exists to prevent. */
  def readPostingsAt(spark: SparkSession, dir: String, m: IndexManifest,
      onlyBuckets: Option[Set[Int]] = None): DataFrame =
    // NO df column: document frequency is a READ-TIME aggregate (a
    // term's bucket is always read whole — every contributing version)
    ManifestIO.readVersionedArtifact(spark, dir, "postings", "bucket", PostingsDDL,
      m.bucketVersions, onlyBuckets)

  private val PostingsDDL = "t STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, bucket INT"

  /** The committed TERM-STATS sidecar (t, df, bucket) — the Lucene
    * term-dictionary idea applied to the accretive layout: every tick
    * that writes a postings version also writes that version's
    * per-(bucket, term) row counts, so a serve resolves df by reading
    * a VOCABULARY-sized artifact (summing the deltas across a bucket's
    * contributing versions) instead of scanning the pruned postings a
    * second time for the aggregate. Versions mirror the postings'
    * exactly (same ticks, same buckets), so the manifest needs no new
    * reference list and vacuum scopes it by the same refs. */
  def readTermstatsAt(spark: SparkSession, dir: String, m: IndexManifest,
      onlyBuckets: Option[Set[Int]] = None): DataFrame =
    ManifestIO.readVersionedArtifact(spark, dir, "termstats", "bucket",
      "t STRING, df BIGINT, bucket INT", m.bucketVersions, onlyBuckets)

  /** Derive one tick's term-stats sidecar from the `buckets` of
    * postings it JUST WROTE under `ver` (read-back, so the two artifacts
    * agree even for non-deterministic inputs — the MinhashIndex bands
    * discipline). The read names those leaf dirs and the postings
    * schema, so it runs no listing or schema-inference job. No-op when
    * the version wrote no postings. */
  private def writeTermstats(spark: SparkSession, dir: String, ver: Long,
      buckets: Seq[Int]): Unit =
    if (buckets.nonEmpty)
      ManifestIO.writePartitioned(ManifestIO.readVersionedArtifact(spark, dir, "postings",
          "bucket", PostingsDDL, buckets.map(_ -> Seq(ver)).toMap)
        .groupBy(col("bucket"), col("t")).agg(count(lit(1)).as("df"))
        .select(col("t"), col("df"), col("bucket")), dir, ver, "termstats", "bucket")

  /** Write one tick's postings rows under `ver` plus their term-stats
    * delta; returns the materialized buckets. */
  private def writePostings(rows: DataFrame, dir: String, ver: Long): Seq[Int] = {
    val present = ManifestIO.writePartitioned(rows, dir, ver, "postings", "bucket")
    writeTermstats(rows.sparkSession, dir, ver, present)
    present
  }

  /** Write one tick's 1-row (n, sdl) stats under `ver`. An explicit
    * schema needs no TypeTag-derived encoder, so this branch does no
    * Scala runtime reflection while the tick's other branches plan
    * their queries. */
  private def writeStats(spark: SparkSession, dir: String, ver: Long,
      n: Long, sdl: Long): Unit = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(java.util.Arrays.asList(org.apache.spark.sql.Row(n, sdl)),
        StructType(Seq(StructField("n", LongType, nullable = false),
          StructField("sdl", LongType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data/$ver/stats")
  }

  /** One (doc, term) tf pass with the doc length riding each row,
    * shared by the build/append/upsert tick writers — tokenized once
    * per DOC: dl is computed BELOW the explode so the Generate carries
    * an 8-byte long, never the raw text. (The previous shape projected
    * `size(tokens) AS dl` ABOVE `explode(tokens)`, which re-ran the
    * regex split once per TOKEN row — the r18 t40 profile's dominant
    * cost, ~16 s task time on the sf0.1 corpus.) Values identical:
    * same tokens, same per-doc dl. */
  private def tfRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("dl"),
        col("_toks"))
      .select(col("doc_id"), col("dl"), explode(col("_toks")).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** The doc→bucket REVERSE INDEX rows of one tick's documents — the
    * scale path for id-only takedowns: one row per ingested doc
    * (doc_id, dl, tbuckets = the distinct term buckets its tokens hash
    * to), partitioned by dbucket = pmod(xxhash64(doc_id), buckets), so
    * a takedown request's rows are found by a PURE FUNCTION of its ids
    * (read ≤ |ids| dbucket dirs — no postings scan) and carry
    * everything the tick needs: the term buckets to rewrite and the dl
    * to roll stats by. Null-text docs get dl = 0 and an empty bucket
    * set — which is exactly their contribution, so the id-only delete
    * over a docmap'd index has NO zero-token blind spot. One narrow
    * pass, no shuffle (array_distinct(transform(...)) folds in-task). */
  private def docmapRows(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        coalesce(size(tokens(col(textCol))).cast("long"), lit(0L)).as("dl"),
        coalesce(
          array_distinct(transform(tokens(col(textCol)),
            t => pmod(xxhash64(t), lit(buckets)).cast("int"))),
          array().cast("array<int>")).as("tbuckets"))
      .withColumn("dbucket", pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))

  /** The committed docmap frame (doc_id, dl, tbuckets, dbucket), each
    * wanted dbucket read whole across its CONTRIBUTING versions —
    * dbuckets are ACCRETIVE like term buckets (an append writes only
    * its batch's rows and appends its version to the touched dbuckets'
    * lists; delete/upsert consolidate a dbucket back to one version,
    * compact collapses long lists), so the append tick's reverse-map
    * IO is O(batch) at any index size. Superseded versions retire
    * through the ordinary vacuum. */
  def readDocmapAt(spark: SparkSession, dir: String, m: IndexManifest,
      onlyDbuckets: Option[Set[Int]] = None): DataFrame =
    ManifestIO.readVersionedArtifact(spark, dir, "docmap", "dbucket",
      "doc_id BIGINT, dl BIGINT, tbuckets ARRAY<INT>, dbucket INT", m.docVersions,
      onlyDbuckets)

  /** The committed 1-row stats table (n, sdl). */
  def readStats(spark: SparkSession, dir: String): DataFrame =
    readStatsAt(spark, dir, readManifest(spark, dir))

  /** [[readStats]] against an already-read manifest (see
    * [[readPostingsAt]] for why multi-artifact readers must pin one). */
  def readStatsAt(spark: SparkSession, dir: String, m: IndexManifest): DataFrame =
    spark.read.schema("n BIGINT, sdl BIGINT")
      .parquet(s"$dir/data/${m.statsVersion}/stats")

  /** Build the standing inverted index at `dir`: FULL postings — one
    * row per (term, doc) with tf, the doc's length and the term's df
    * denormalized onto the row (the Lucene norms/term-dictionary data,
    * flattened) — written `partitionBy(bucket)` where
    * bucket = pmod(xxhash64(t), `buckets`), plus a 1-row `stats` table
    * (n docs, total token count), committed under a versioned manifest
    * (see the storage note above). Serving reads ONLY the buckets of
    * the query's terms: unneeded buckets are never listed, the same
    * layout discipline as the IVF cell index (Ann.ivfIndexBuild).
    * `buckets` is persisted in the manifest — serve and append size
    * themselves from the index, so indexes built at different bucket
    * counts coexist freely.
    *
    * REBUILD over a dir that already holds a committed index allocates
    * the NEXT version (committed + 1) and writes only there — the
    * committed manifest's files are never touched, so a crash
    * mid-rebuild leaves readers on the intact old index and the commit
    * flip replaces it wholesale (every bucket re-owned by the new
    * version; the old data dirs become unreferenced garbage). A fixed
    * `data/1` target would overwrite files the live manifest still
    * references — the corruption class the versioning exists to kill. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String, dir: String,
      buckets: Int = IndexBuckets): Unit = {
    require(buckets > 0, s"bucket count must be positive, got $buckets")
    val spark = docs.sparkSession
    // a REBUILD carries the txn ledger forward (ManifestIO.buildSlot's
    // rebuild-over-union contract)
    val (ver, priorTxns) = ManifestIO.buildSlot(spark, dir)
    val dl = docs.select(col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"))
    // no df on the rows: document frequency became a read-time
    // aggregate when appends went accretive (see readPostingsAt) —
    // which also drops the build's df join entirely
    val rows = tfRows(docs, idCol, textCol)
      .withColumn("bucket", pmod(xxhash64(col("t")), lit(buckets)).cast("int"))
    ManifestIO.guardSlot(spark, dir, ver)
    // only buckets that materialized get an owner (a tiny corpus at a
    // large bucket count leaves most buckets empty)
    // the term-stats sidecar rides every build: serves resolve df from
    // it instead of scanning the pruned postings twice
    val present = writePostings(
      rows.select(col("t"), col("doc_id"), col("tf"), col("dl"), col("bucket")),
      dir, ver).map(_ -> Seq(ver)).toMap
    dl.agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data/$ver/stats")
    // the doc→bucket reverse index rides every build (doc-sized — one
    // row per doc, no per-term rows): id-only takedowns locate their
    // work through it instead of scanning the postings
    val presentD = ManifestIO.writePartitioned(docmapRows(docs, idCol, textCol, buckets),
      dir, ver, "docmap", "dbucket").map(_ -> Seq(ver)).toMap
    ManifestIO.commit(spark, dir, ver,
      Spec.render(IndexManifest(ver, buckets, ver, present, priorTxns, presentD)))
  }

  /** Serve-path regime boundary: a query batch of up to this many
    * rows is collected to the driver once, and its distinct terms are
    * pushed as a parquet row-group `t isin (...)` filter inside the
    * pruned buckets (the low-latency small-batch shape). Past it, the
    * serve flips to the distributed shape: a semi-join against the term
    * frame — NO term collect at any batch size, so a 100k-query sweep
    * never serializes through the driver. */
  val MaxServeTerms = 100000

  /** Serve a query batch from a persisted [[buildIndex]] index.
    * Matches [[batchTopK]] bit-exactly on the same corpus: same
    * pruning, same score arithmetic, same fold order.
    *
    * Driver traffic is REGIME-CONSTANT, never O(batch): one bounded
    * collect of ≤ [[MaxServeTerms]]+1 batch rows decides the regime.
    * In the small regime that snapshot is the whole plan input: the
    * bucket plan and the term filter come from it, one more bounded
    * collect brings (n, sdl) and the queried terms' termstats rows, the
    * prune rule runs on the driver, and scoring reads the pruned
    * postings against literal n/avgdl and one broadcast (qid, t, df)
    * relation. In the big regime the pinned term frame is planned from
    * (≤ bucket-count ids cross the driver) and semi-joined against —
    * no term list ever serializes through the driver at any batch
    * size. Buckets are selected by Spark's own xxhash64 — the function
    * that laid the partitions out — and only those buckets' committed
    * files are listed and read. */
  def serveTopK(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int): DataFrame =
    serveTopKBounded(spark, indexDir, queries, k, MaxServeTerms)

  /** [[serveTopK]] with an injectable small-batch bound (specs force
    * the distributed term-join path on small frames through it). */
  private[graft] def serveTopKBounded(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, maxCollectedTerms: Int): DataFrame =
    // pin ONE materialization of the query frame BEFORE anything reads
    // it: the regime probe, the bucket plan, the term filter/semi-join
    // and the scoring join must all see the same rows even when the
    // caller's frame is non-deterministic — without the pin, a term
    // materializing only at join time is silently dropped (its bucket
    // was never planned, the isin/semi-join filters it). The pin is a
    // narrow copy of the batch (no distinct shuffle: duplicates collapse
    // on the driver in the small regime, inside the plan in the big one)
    servePlanned(spark, indexDir, queryRows(queries).localCheckpoint(true),
      k, maxCollectedTerms)

  /** The serve's (qid, t) view of a (qid, term) query frame. */
  private def queryRows(queries: DataFrame): DataFrame =
    queries.select(col("qid").cast("long").as("qid"), col("term").as("t"))

  /** [[serveTopK]] for a caller that ALREADY pinned the query frame
    * (one localCheckpoint upstream, e.g. [[Hybrid.servedTopK]] pinning
    * once for both legs): skips the internal pin — every frame the
    * serve derives from an already-pinned input is deterministic, so a
    * second materialization buys nothing and costs one checkpoint per
    * serve (per micro-batch in
    * [[graft.streaming.HybridStream.serveStream]]). Contract: `queries`
    * (qid, term) must be a pinned frame or a deterministic derivation
    * of one. */
  private[graft] def serveTopKPinned(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int): DataFrame =
    serveTopKPinnedAt(spark, indexDir, queries, k,
      readManifest(spark, indexDir))

  /** [[serveTopKPinned]] against an already-read manifest — the
    * version-pinning caller's form ([[Hybrid.servedTopKVersioned]]
    * reads the manifest once to both serve from it and REPORT it). */
  private[graft] def serveTopKPinnedAt(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, m: IndexManifest): DataFrame =
    servePlannedAt(spark, indexDir, queryRows(queries), k, MaxServeTerms, m)

  /** TIME-TRAVEL serve: [[serveTopK]] against the index AS OF a
    * committed historical `version` — the reproducibility/debugging
    * read the versioned manifests already pay for (compare a score
    * before and after a tick, replay yesterday's serving state).
    * Reaches exactly as deep as the vacuum grace window
    * ([[ManifestIO.readVersion]]'s contract: orphan manifests refuse,
    * vacuumed versions fail loudly). */
  def serveTopKVersion(spark: SparkSession, indexDir: String, version: Long,
      queries: DataFrame, k: Int): DataFrame =
    servePlannedAt(spark, indexDir, queryRows(queries).localCheckpoint(true),
      k, MaxServeTerms, readManifestVersion(spark, indexDir, version))

  /** The committed manifest AS OF a historical version (time travel —
    * see [[ManifestIO.readVersion]] for the servability rules). */
  def readManifestVersion(spark: SparkSession, dir: String,
      version: Long): IndexManifest =
    Spec.at(spark, dir, version)

  /** The serve body over a deterministic (qid, t) frame `q` — see
    * [[serveTopKBounded]] for the pin rationale. */
  private def servePlanned(spark: SparkSession, indexDir: String,
      q: DataFrame, k: Int, maxCollectedTerms: Int): DataFrame =
    // ONE CURRENT read pins the whole serve: stats and postings are
    // both resolved from this manifest, so an append committing midway
    // can never pair new (n, avgdl) with old postings or vice versa
    servePlannedAt(spark, indexDir, q, k, maxCollectedTerms,
      readManifest(spark, indexDir))

  /** [[servePlanned]] against an already-read manifest — the shared
    * body of the CURRENT serve and the time-travel serve. `q` is
    * (qid, t) and may repeat rows. */
  private def servePlannedAt(spark: SparkSession, indexDir: String,
      q: DataFrame, k: Int, maxCollectedTerms: Int,
      m: IndexManifest): DataFrame = {
    val bucketOf = pmod(xxhash64(col("t")), lit(m.buckets)).cast("int")
    // one bounded driver round trip (≤ maxCollectedTerms+1 batch rows —
    // regime-constant, batch-size-independent) decides the regime AND,
    // in the small regime, is the whole query-side plan input
    val probe = ManifestIO.collectAtMost(q.select(col("qid"), col("t"), bucketOf.as("b")),
      maxCollectedTerms)
    val scored =
      if (probe.length <= maxCollectedTerms) scoreSmall(spark, indexDir, m, probe)
      else scoreBig(spark, indexDir, m, q, bucketOf)
    rankTopK(scored.groupBy(col("qid"), col("doc_id")).agg(sum(col("s")).as("score")), k)
      .select(col("qid"), col("doc_id"), col("score"), col("rank"))
  }

  /** Small-regime scoring from the collected batch `probe`
    * (qid, t, bucket rows): the distinct (qid, t) pairs, terms and
    * buckets are taken on the driver; ONE bounded collect brings the
    * 1-row stats and the queried terms' termstats rows (one row per
    * term per contributing version of its bucket); df sums and the
    * prune rule run on the driver; the postings of the
    * KEPT terms' buckets are scored against literal n/avgdl and one
    * broadcast (qid, t, df) relation. Null terms match nothing and are
    * dropped. (qid, doc_id, s) rows. */
  private def scoreSmall(spark: SparkSession, indexDir: String, m: IndexManifest,
      probe: Array[org.apache.spark.sql.Row]): DataFrame = {
    val rows = probe.filterNot(_.isNullAt(1))
    val termBucket = rows.map(r => r.getString(1) -> r.getInt(2)).toMap
    val terms = termBucket.keys.toSeq.sorted
    val dfRows = readTermstatsAt(spark, indexDir, m, Some(termBucket.values.toSet))
      .filter(col("t").isin(terms: _*)).select(col("t"), col("df"))
    // one row per term per contributing version of its bucket, plus
    // the stats row
    val bound = termBucket.values.toSeq
      .map(b => m.bucketVersions.get(b).fold(0)(_.distinct.size)).sum + 1
    val got = ManifestIO.collectAtMost(
      readStatsAt(spark, indexDir, m).select(lit(null).cast("string").as("t"),
          col("n").as("df"), col("sdl"))
        .unionByName(dfRows.select(col("t"), col("df"), lit(null).cast("long").as("sdl"))),
      bound)
    require(got.length <= bound,
      s"BM25 serve: the stats and termstats read returned more than $bound rows " +
        s"for ${terms.size} distinct batch terms at $indexDir — a termstats " +
        "partition holds duplicate term rows")
    val (statsRow, tsRows) = got.partition(_.isNullAt(0))
    require(statsRow.length == 1, s"BM25 serve: no 1-row stats at $indexDir")
    val n = statsRow.head.getLong(1)
    val avgdl = statsRow.head.getLong(2).toDouble / n
    val kept = tsRows.groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
      .filter { case (_, df) => df * PruneDfDen < n * PruneDfNum }
    val qtd = rows.map(r => (r.get(0), r.getString(1))).distinct
      .collect { case (qid, t) if kept.contains(t) =>
        org.apache.spark.sql.Row(qid, t, kept(t)) }
    val rel = spark.createDataFrame(java.util.Arrays.asList(qtd: _*),
      org.apache.spark.sql.types.StructType.fromDDL("qid BIGINT, t STRING, df BIGINT"))
    readPostingsAt(spark, indexDir, m, Some(kept.keys.map(termBucket).toSet))
      .filter(col("t").isin(kept.keys.toSeq.sorted: _*))
      .join(broadcast(rel), "t")
      .select(col("qid"), col("doc_id"),
        termScoreFp(col("tf"), col("df"), lit(n), col("dl"), lit(avgdl)).as("s"))
  }

  /** Big-regime scoring: the distinct-term frame is semi-joined, never
    * collected; ≤ bucket-count ids cross the driver for the bucket
    * plan. df is a READ-TIME aggregate (the accretive-append model): a
    * term's bucket is read whole across its contributing versions, so
    * rows-per-term IS the document frequency — the exact batchTopK
    * computation. It comes from the VOCABULARY-sized termstats
    * artifact (per-version deltas summed — the postings are scanned
    * exactly ONCE, by the scoring branch). The kept df map is
    * O(distinct batch terms), so it joins as an ordinary shuffle:
    * broadcasting it would collect an unbounded term frame
    * driver-side, the exact OOM the regime split prevents. */
  private def scoreBig(spark: SparkSession, indexDir: String, m: IndexManifest,
      q: DataFrame, bucketOf: Column): DataFrame = {
    val terms0 = q.select(col("t")).distinct()
    val bucketIds = terms0.select(bucketOf.as("b"))
      .distinct().collect().map(_.getInt(0)).toSet // ≤ m.buckets values
    val stats = readStatsAt(spark, indexDir, m).select(col("n"),
      (col("sdl").cast("double") / col("n")).as("avgdl"))
    val post = readPostingsAt(spark, indexDir, m, Some(bucketIds))
      .join(terms0, Seq("t"), "left_semi")
    val kept = readTermstatsAt(spark, indexDir, m, Some(bucketIds))
      .join(terms0, Seq("t"), "left_semi")
      .groupBy(col("t")).agg(sum(col("df")).as("df"))
      .crossJoin(broadcast(stats.select(col("n"))))
      .filter(col("df") * PruneDfDen < col("n") * PruneDfNum)
      .select(col("t"), col("df"))
    post.join(kept, "t")
      .crossJoin(broadcast(stats))
      .join(q.distinct(), "t")
      .select(col("qid"), col("doc_id"),
        termScoreFp(col("tf"), col("df"), col("n"), col("dl"), col("avgdl")).as("s"))
  }

  /** Monitoring profile of the committed BM25 index, computed from the
    * COMMITTED ARTIFACTS ALONE (one CURRENT read pins stats and every
    * postings bucket) — the 1-row invariants a standing deployment
    * alarms on: doc count, token mass (avgdl drift), vocabulary size,
    * postings mass, the serving-pruned stopword count
    * (df ≥ [[PruneDfNum]]/[[PruneDfDen]] of n — prune pressure is the
    * skew defense's health meter), and the max df.
    *
    * df is recomputed from committed artifacts (the accretive-append
    * model has no stored per-row df to audit — and therefore no
    * staleness class to alarm on); `sum_df` equals `postings_rows` by
    * construction (Σ_t df(t) = #(t, doc) pairs) and both columns stay
    * for the monitoring-schema contract. The whole row derives from
    * the VOCABULARY-sized termstats artifact — no postings scan at all.
    *
    * The vocabulary-sized read is this row's FLOOR, not an oversight
    * (contrast the minhash occupancy / IVF drift verdicts, whose
    * alarm reads went delta-sized in round 17): distinct_terms,
    * max_df and pruned_terms are not decomposable into per-tick
    * scalars — distinctness and max need the per-term aggregate, and
    * the prune predicate compares every term's df against the
    * CURRENT n, which moves with every tick. A deployment that wants
    * a cheaper cadence should alarm on the delta-derivable pieces
    * (n, sdl from the 1-row stats) and run this full row at a lower
    * frequency. */
  def indexProfile(spark: SparkSession, dir: String): DataFrame = {
    val m = readManifest(spark, dir)
    val stats = readStatsAt(spark, dir, m).select(col("n"), col("sdl"))
    // per-term df: version deltas summed from the sidecar
    val terms = readTermstatsAt(spark, dir, m)
      .groupBy(col("t")).agg(sum(col("df")).as("df"))
      .crossJoin(broadcast(stats.select(col("n"))))
      .agg(count(lit(1)).as("distinct_terms"),
        coalesce(sum(col("df")), lit(0L)).as("sum_df"),
        coalesce(sum(when(col("df") * PruneDfDen >= col("n") * PruneDfNum, 1L)
          .otherwise(0L)), lit(0L)).as("pruned_terms"),
        coalesce(max(col("df")), lit(0L)).as("max_df"))
    stats.crossJoin(terms)
      .select(col("n"), col("sdl"), col("distinct_terms"),
        col("sum_df").as("postings_rows"), col("sum_df"),
        col("pruned_terms"), col("max_df"))
  }

  /** EXPORT (deep clone) of the committed index AS OF `version`
    * (default CURRENT, -1) into the FRESH dir `destDir`: the postings
    * and termstats partitions, docmap partitions and the stats dir the
    * version references ([[ManifestIO.exportIndex]] — deep, tick-able
    * thereafter, dead history never crosses). Returns the exported
    * version. */
  def exportIndex(spark: SparkSession, srcDir: String, destDir: String,
      version: Long = -1L): Long =
    ManifestIO.exportIndex(spark, srcDir, destDir, version, Spec)

  /** VACUUM tick of the standing-index lifecycle: delete what no
    * servable manifest references — superseded bucket rewrites,
    * crashed ticks' orphans, replaced rebuilds — per artifact
    * (postings, termstats, docmap, stats), then whole versions
    * ([[ManifestIO.vacuum]]; run from the index's single writer;
    * `graceVersions` protects readers pinned a few commits back,
    * `graceMillis` adds the wall-clock floor). Returns the data
    * versions that lost their dir or any artifact subtree. */
  def vacuumIndex(spark: SparkSession, dir: String,
      graceVersions: Long = 2L, graceMillis: Long = 0L): Seq[Long] =
    ManifestIO.vacuum(spark, dir, Spec, graceVersions, graceMillis)

  /** COMPACT tick — the read-amplification bound the accretive
    * [[appendToIndex]] needs ([[ManifestIO.compact]]): every bucket
    * with ≥ `minVersions` distinct contributing versions is rewritten
    * into ONE new data version with its termstats; the docmap's
    * fragmented dbuckets (it accretes on append too) collapse in the
    * same tick; stats are untouched (their version carries forward).
    * Returns the compacted postings bucket ids. */
  def compactIndex(spark: SparkSession, dir: String,
      minVersions: Int = 2): Seq[Int] =
    ManifestIO.compact(spark, dir, Spec, minVersions, crashPoint = 0)

  /** APPEND tick of the standing-index lifecycle ([[buildIndex]]
    * builds, [[serveTopK]] serves, this grows) — ACCRETIVE: the tick
    * writes ONLY its own batch-derived postings rows (partitioned by
    * term bucket) under a fresh data version and appends that version
    * to the touched buckets' manifest lists; the committed files are
    * never read, so per-append cost is O(batch) however large the
    * index has grown — the IVF-cell/minhash accrete-then-compact
    * model. Document frequency is a read-time aggregate (the termstats
    * deltas of a bucket's every contributing version), so nothing
    * stored can go stale. [[compactIndex]] bounds
    * the read amplification a long append history accretes; the 1-row
    * stats table rolls forward from its old values + the batch's
    * (n, Σdl) — no corpus re-scan anywhere.
    *
    * Serving afterwards is bit-identical to an index built over the
    * union corpus in one shot: avgdl shifts globally, but serve-time
    * scoring reads avgdl from stats, never from postings rows.
    *
    * One [[ManifestIO.tick]] (crash-atomic; exactly-once under `txn`):
    * new postings can never be served against stale (n, avgdl). An
    * empty batch is a no-op (the index is already the correct
    * post-tick state); a nonempty batch whose docs all tokenize to zero
    * terms rewrites no postings but still rolls (n, sdl) forward —
    * rebuild-over-union counts such docs in avgdl, and append ==
    * rebuild is the contract. */
  def appendToIndex(spark: SparkSession, dir: String, newDocs: DataFrame,
      idCol: String, textCol: String, txn: Option[(String, Long)] = None): Unit =
    appendTick(spark, dir, newDocs, idCol, textCol, txn)

  /** The ACCRETING kernel behind [[appendToIndex]]; `crashPoint` and
    * `interleave` as in [[ManifestIO.tick]]. */
  private[graft] def appendTick(spark: SparkSession, dir: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      txn: Option[(String, Long)] = None, crashPoint: Int = 0,
      interleave: () => Unit = () => ()): Unit =
    ManifestIO.tick(spark, dir, Spec, txn, crashPoint, interleave) { m =>
      // ONE pinned, distinct materialization of the batch (the uniform
      // intra-batch rule all tick verbs share, ManifestIO.dedupBatch):
      // the stats roll and the postings and docmap writes must all see
      // the same rows even for a non-deterministic caller frame (a torn
      // batch would commit stats counting rows the postings never
      // gained); a row re-submitted within one micro-batch ingests ONCE
      // (rebuild-over-union of the DISTINCT batch is the contract), and
      // two texts under one id in one batch reject loudly instead of
      // double-counting n/sdl
      val docs = ManifestIO.pinDistinct(newDocs, idCol, Seq(textCol))
      val plan = planBatch(spark, dir, m, docs, idCol, textCol, "BM25 append")
      // the no-op gate is the batch ROW count, not the touched-bucket
      // count: a nonempty batch of zero-token docs rewrites no postings
      // but must still roll (n, sdl) forward
      if (plan.rows == 0L) None
      else Some { newVer =>
        // the ACCRETIVE writes, side by side: the batch's postings rows
        // (plus their batch-vocabulary-sized term-stats delta) and its
        // doc-sized reverse-map rows only — the committed files are
        // neither read nor rewritten, so the tick's IO is O(batch) at
        // any index size (df resolves at read time; see readPostingsAt)
        val Seq(touched, dbuckets, _) = ManifestIO.sideBySide(spark)(
          // Σdl = 0: no doc has a token, so there are no postings rows
          () => if (plan.sdl == 0L) Seq.empty[Int]
            else writePostings(tfRows(docs, idCol, textCol)
              .withColumn("bucket", pmod(xxhash64(col("t")), lit(m.buckets)).cast("int"))
              .select(postingCols: _*), dir, newVer),
          () => ManifestIO.writePartitioned(docmapRows(docs, idCol, textCol, m.buckets),
            dir, newVer, "docmap", "dbucket"),
          () => {
            writeStats(spark, dir, newVer, plan.committedN + plan.rows,
              plan.committedSdl + plan.sdl)
            Nil
          })
        m.copy(version = newVer, statsVersion = newVer,
          bucketVersions = ManifestIO.accrete(m.bucketVersions, touched, newVer),
          docVersions = ManifestIO.accrete(m.docVersions, dbuckets, newVer))
      }
    }

  /** A pinned batch's (rows, Σdl) and the committed (n, sdl) of `m`. */
  private final case class BatchPlan(rows: Long, sdl: Long, committedN: Long,
      committedSdl: Long)

  /** The ONE plan aggregate of a text-carrying tick over its
    * [[ManifestIO.pinDistinct]] batch: rows, distinct ids (a batch with
    * more rows than ids carries two texts under one id and is
    * rejected), Σdl, and the committed (n, sdl) from a cross-join with
    * the stats row — one driver round trip where the batch count, the
    * conflict check and the stats read each took their own. */
  private def planBatch(spark: SparkSession, dir: String, m: IndexManifest,
      docs: DataFrame, idCol: String, textCol: String, what: String): BatchPlan = {
    val r = docs.select(struct(col(idCol)).as("_id"),
        size(tokens(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)), countDistinct(col("_id")), coalesce(sum(col("dl")), lit(0L)))
      .crossJoin(readStatsAt(spark, dir, m))
      .head()
    ManifestIO.requireOneRevision(docs, idCol, what, r.getLong(0), r.getLong(1))
    BatchPlan(r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  private val postingCols = Seq("t", "doc_id", "tf", "dl", "bucket").map(col)

  /** What a consolidating tick takes out of the index, located against
    * the tick's pinned manifest: the doc ids leaving, the (n, Σdl) the
    * stats roll back by, the materialized term buckets holding their
    * postings, the materialized docmap dbuckets to rewrite, and the
    * committed (n, sdl) the roll starts from — read in the locate's
    * own plan round trip. */
  private[graft] final case class Removal(ids: DataFrame, n: Long, sdl: Long,
      buckets: Seq[Int], dbuckets: Seq[Int], committedN: Long, committedSdl: Long)

  /** A removal locator: None = nothing to do, no commit. */
  private[graft] type Locate = (SparkSession, String, IndexManifest) => Option[Removal]

  /** The CONSOLIDATING kernel behind every delete, upsert and CDC verb:
    * each touched bucket — the located removal's plus, for an upsert,
    * the new rows' — is rewritten ONCE as (committed − removed ids) ∪
    * new rows, consolidating its manifest entry to the new version (df
    * is read-time, so nothing else needs refreshing; a bucket emptied
    * by the rewrite leaves the manifest); the stats roll by
    * (− removal + new rows); the docmap's located dbuckets rewrite the
    * same way. The three artifacts write side by side. `upserts` are
    * pinned, id-distinct (doc_id, text) rows. The verbs differ only in
    * how they locate. Contract: tick == rebuild over
    * (corpus − removed) ∪ upserts. */
  private[graft] def changeTick(spark: SparkSession, dir: String,
      upserts: Option[DataFrame], locate: Locate,
      txn: Option[(String, Long)] = None, crashPoint: Int = 0): Unit =
    ManifestIO.tick(spark, dir, Spec, txn, crashPoint) { m =>
      locate(spark, dir, m).map { rm =>
        require(rm.committedN >= rm.n && rm.committedSdl >= rm.sdl,
          s"delete batch (${rm.n} docs, ${rm.sdl} tokens) exceeds " +
            s"the index stats (${rm.committedN}, ${rm.committedSdl}) — " +
            "the batch must be previously ingested documents")
        newVer => {
          val add = upserts.map(_
            .select(coalesce(size(tokens(col("text"))).cast("long"), lit(0L)).as("dl"))
            .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
            .head())
          val newTf = upserts.map(tfRows(_, "doc_id", "text")
            .withColumn("bucket", pmod(xxhash64(col("t")), lit(m.buckets)).cast("int"))
            .select(postingCols: _*))
          val touched = (rm.buckets ++ newTf.toSeq.flatMap(_.select(col("bucket"))
            .distinct().collect().map(_.getInt(0)))).distinct // ≤ bucket count values
          val kept = readPostingsAt(spark, dir, m, Some(touched.toSet))
            .select(postingCols: _*).join(rm.ids, Seq("doc_id"), "left_anti")
          // an id's old and new docmap rows share one dbucket (a pure
          // function of the id)
          val docmapTouched = rm.dbuckets.nonEmpty || upserts.nonEmpty
          val Seq(present, presentD, _) = ManifestIO.sideBySide(spark)(
            () => if (touched.isEmpty) Seq.empty[Int]
              else writePostings(newTf.fold(kept)(t => kept.unionByName(t)), dir, newVer),
            () => if (!docmapTouched) Seq.empty[Int] else {
              val keptD = readDocmapAt(spark, dir, m, Some(rm.dbuckets.toSet))
                .join(rm.ids, Seq("doc_id"), "left_anti")
              ManifestIO.writePartitioned(upserts.fold(keptD)(d => keptD.unionByName(
                docmapRows(d, "doc_id", "text", m.buckets))), dir, newVer, "docmap", "dbucket")
            },
            () => {
              writeStats(spark, dir, newVer,
                rm.committedN - rm.n + add.fold(0L)(_.getLong(0)),
                rm.committedSdl - rm.sdl + add.fold(0L)(_.getLong(1)))
              Nil
            })
          m.copy(version = newVer, statsVersion = newVer,
            bucketVersions = ManifestIO.consolidate(m.bucketVersions, touched, present, newVer),
            docVersions =
              if (docmapTouched) ManifestIO.consolidate(m.docVersions, rm.dbuckets, presentD, newVer)
              else m.docVersions)
        }
      }
    }

  /** The distinct docmap dbuckets of `ids` (doc_id) — a pure function
    * of the ids; materialized or not. */
  private def dbucketsOf(ids: DataFrame, m: IndexManifest): Seq[Int] =
    ids.select(pmod(xxhash64(col("doc_id")), lit(m.buckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq // ≤ bucket count values

  /** Locate a text-carrying takedown batch ([[deleteFromIndex]]): one
    * pinned, id-distinct copy (the [[ManifestIO.dedupBatch]] rule — a
    * torn batch could plan buckets for one row set and anti-join
    * another, leaving a legally deleted document servable with its
    * epoch applied; two texts under one id reject, since the roll
    * trusts the text) and its plan aggregate; the term buckets come
    * from its tokens, the roll from its own (count, Σdl). None for an
    * empty batch. */
  private[graft] def byText(docs: DataFrame, idCol: String, textCol: String): Locate =
    (spark, dir, m) => {
      val pinned = ManifestIO.pinDistinct(docs, idCol, Seq(textCol))
      val plan = planBatch(spark, dir, m, pinned, idCol, textCol, "BM25 delete")
      if (plan.rows == 0L) None
      else {
        val buckets = pinned
          .select(explode(tokens(col(textCol))).as("t"))
          .select(pmod(xxhash64(col("t")), lit(m.buckets)).cast("int"))
          .distinct().collect().map(_.getInt(0)).toSeq // ≤ bucket count values
          .filter(m.bucketVersions.contains) // only materialized buckets hold rows
        val ids = pinned.select(col(idCol).cast("long").as("doc_id")).distinct()
        Some(Removal(ids, plan.rows, plan.sdl, buckets,
          dbucketsOf(ids, m).filter(m.docVersions.contains), plan.committedN, plan.committedSdl))
      }
    }

  /** Locate by id ([[deleteByIds]], [[upsertIndex]], [[applyChanges]]):
    * the ids' dbuckets are a PURE FUNCTION of the ids, so the docmap
    * rows of the committed copies are read from ≤ |ids| dbucket dirs —
    * no postings scan — and carry both the term buckets to rewrite and
    * the dl to roll back by (a null-text doc's (1, 0) included). One
    * collect of the pinned ids' dbuckets (none: no ids), then ONE
    * aggregate over the matched docmap rows brings the roll, the term
    * buckets, the matched dbuckets and the committed stats. The roll
    * derives from the INDEX: ids never ingested, deleted earlier or
    * repeated roll nothing. One row per docmap ROW, not per doc: an id
    * re-ingested under a violated append contract loses EVERY copy.
    * Only the dbuckets holding a match are rewritten, plus every
    * candidate dbucket of the `upserted` ids, where their new rows
    * land; a pure delete whose ids match nothing is no tick. */
  private[graft] def byIds(ids0: DataFrame, upserted: Option[DataFrame]): Locate =
    (spark, dir, m) => {
      val ids = ids0.select(col("doc_id")).localCheckpoint(true)
      val candidates = dbucketsOf(ids, m)
      if (candidates.isEmpty) None
      else {
        // each docmap row once at its first term bucket (or its one
        // null row when it has none) for the roll; every term bucket
        // for the rewrite plan — the sets are ≤ bucket count values
        val first = col("pos").isNull || col("pos") === 0
        val r = readDocmapAt(spark, dir, m, Some(candidates.filter(m.docVersions.contains).toSet))
          .join(ids, Seq("doc_id"), "left_semi")
          .select(col("dl"), col("dbucket"), posexplode_outer(col("tbuckets")).as(Seq("pos", "b")))
          .agg(count(when(first, lit(1))), coalesce(sum(when(first, col("dl"))), lit(0L)),
            collect_set(col("b")), collect_set(col("dbucket")))
          .crossJoin(readStatsAt(spark, dir, m))
          .head()
        if (r.getLong(0) == 0L && upserted.isEmpty) None
        else Some(Removal(ids, r.getLong(0), r.getLong(1),
          r.getSeq[Int](2).filter(m.bucketVersions.contains),
          (r.getSeq[Int](3) ++ upserted.toSeq.flatMap(dbucketsOf(_, m))
            .filter(m.docVersions.contains)).distinct,
          r.getLong(4), r.getLong(5)))
      }
    }

  /** DELETE tick of the standing-index lifecycle — the takedown /
    * opt-out verb a training-data deployment legally needs, and the
    * exact INVERSE of [[appendToIndex]]: `docs` carries the documents
    * to remove, WITH their text (a takedown request has the content;
    * the text is what locates the work — a term lives in exactly one
    * bucket, so only the buckets of the batch's terms are read,
    * filtered and rewritten — no full-index scan). The 1-row stats roll
    * BACK by the batch's (count, Σdl). Serving afterwards is
    * bit-identical to an index built over the corpus MINUS the batch —
    * delete == rebuild is the contract, mirroring append == rebuild (so
    * deleted docs stop influencing df/avgdl immediately, not at some
    * later merge — stricter than Lucene's tombstone-until-merge model).
    *
    * Contract: the batch must be documents previously ingested with the
    * same (id, text) — the tick trusts it like append trusts its batch
    * (a batch exceeding the stats is rejected); INTRA-BATCH duplicate
    * rows are collapsed by id, but a CROSS-EPOCH re-delete — a doc
    * already removed by an earlier committed tick — is outside this
    * tick's sight and would double-roll the stats: epoch re-deliveries
    * are the txn ledger's job, and an id-level re-delete feed belongs
    * on [[deleteByIds]], whose roll derives from the index itself.
    * Zero-token docs carry no postings but still roll (n, sdl) back.
    * One [[ManifestIO.tick]]. */
  def deleteFromIndex(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, txn: Option[(String, Long)] = None): Unit =
    changeTick(spark, dir, None, byText(docs, idCol, textCol), txn)

  /** ID-ONLY takedown — the real opt-out feed shape
    * ([[deleteFromIndex]] needs the document TEXT to locate its term
    * buckets; legal takedown requests often carry only ids/URLs),
    * located through the doc→bucket reverse index ([[byIds]]): no
    * postings scan on any index this lifecycle built, re-delete-proof
    * stats. Ids that match nothing commit nothing. Same contract as
    * every tick: delete == rebuild-over-remaining, one
    * [[ManifestIO.tick]]. */
  def deleteByIds(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String, txn: Option[(String, Long)] = None): Unit =
    changeTick(spark, dir, None,
      byIds(ids.select(col(idCol).cast("long").as("doc_id")), None), txn)

  /** UPGRADE tick ([[ManifestIO.upgrade]]): bring a dir written before
    * the docmap or the term-stats sidecar existed to the current layout
    * — every postings bucket rewritten with its termstats, the docmap
    * derived from one full postings scan. Every other verb refuses such
    * a dir until this ran. False (no tick) when nothing is missing. */
  def upgrade(spark: SparkSession, dir: String): Boolean =
    ManifestIO.upgrade(spark, dir, Spec)

  /** UPSERT tick of the standing-index lifecycle — the REFRESH verb:
    * `docs` carries (id, text) rows that REPLACE any committed copy of
    * the same id and plain-append ids the index has never seen, in ONE
    * crash-atomic commit (a delete tick then an append tick would leave
    * a crash window in which the document is simply absent). Semantics:
    * upsert == rebuild over (corpus − batch ids) ∪ batch; old copies
    * stop influencing df/avgdl in the same flip that publishes the new
    * ones. LOCATE is [[deleteByIds]]'s; each bucket of the old copies
    * or the new texts is rewritten ONCE. Two revisions of one id in a
    * batch reject loudly ([[ManifestIO.dedupBatch]]); the index must
    * already exist (build first). */
  def upsertIndex(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, txn: Option[(String, Long)] = None): Unit = {
    val up = ManifestIO.dedupBatch(docs, idCol, Seq(textCol), "BM25 upsert")
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    changeTick(spark, dir, Some(up), byIds(up, Some(up)), txn)
  }

  /** CHANGE-APPLY tick — the CDC verb: ONE mixed micro-batch of
    * upserts AND deletes folds into the index in ONE crash-atomic
    * commit. `changes` carries (opCol, idCol, textCol) rows with op
    * `'upsert'` (the [[upsertIndex]] semantics) or `'delete'` (the
    * [[deleteByIds]] semantics — text ignored). This is what a
    * change-capture stream delivers: two verb ticks would need two
    * commits under one (appId, epoch), which the ledger refuses.
    * Contract: apply == rebuild over (corpus − all change ids) ∪ upsert
    * rows; an id carrying BOTH ops in one batch is rejected
    * ([[ManifestIO.splitChanges]]). */
  def applyChanges(spark: SparkSession, dir: String, changes: DataFrame,
      opCol: String, idCol: String, textCol: String,
      txn: Option[(String, Long)] = None): Unit = {
    val (ups, dels) = ManifestIO.splitChanges(changes, opCol, idCol, Seq(textCol))
    val up = ups.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    changeTick(spark, dir, Some(up), byIds(up.select(col("doc_id"))
      .unionByName(dels.select(col(idCol).as("doc_id"))), Some(up)), txn)
  }
}
