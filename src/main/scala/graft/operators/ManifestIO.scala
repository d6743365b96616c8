package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Versioned-manifest storage shared by the three standing indexes:
  * [[Bm25]] (term-bucket postings), the IVF half of [[Ann]] (cell-
  * partitioned vectors) and [[MinhashIndex]] (sid-bucket signature
  * rows plus band partitions).
  *
  * Layout under an index dir:
  *   data/<v>/<artifact>/<partCol>=<p>/…  the partitions an ACCRETING
  *                       artifact gained at tick v (BM25 postings and
  *                       docmap, IVF cells and cidmap, minhash rows and
  *                       bands)
  *   data/<v>/<sidecar>/… a derived artifact whose versions mirror its
  *                       parent's (termstats, cellstats, bandstats)
  *   data/<v>/<single>/  a one-version artifact (BM25 stats, IVF
  *                       centroids)
  *   manifest/v<v>.txt   the index state at version v: `key=value`
  *                       lines, one `p:v1|v2,…` version map per
  *                       accreting artifact, the txn ledger
  *   CURRENT             the committed version — ONE atomic rename flips it
  *
  * An append writes only its batch's partitions and appends its version
  * to their lists; delete/upsert consolidate a touched partition back to
  * one version; compact collapses long lists; vacuum retires what no
  * servable manifest references. Every write tick runs through the one
  * skeleton [[tick]]; the verbs that are identical across the families
  * (compact, vacuum, export) are written once here against a small
  * per-family [[IndexSpec]].
  *
  * A tick writes only NEW files, then its manifest, then renames
  * CURRENT (FileContext rename-with-overwrite: atomic on HDFS and
  * POSIX). A writer crash at any point leaves CURRENT on the previous
  * version, whose manifest references only previous files — readers see
  * the old index or the new index, never a mix; uncommitted data dirs
  * are garbage, not corruption. Single writer per index dir (index
  * ticks are sequential maintenance), any number of readers. The same
  * pointer-flip discipline as a Lucene segments_N / Iceberg
  * version-hint commit.
  */
private[graft] object ManifestIO {

  def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  def writeText(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, content: String): Unit = {
    val out = fs.create(path, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readText(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write manifest v<version>, then flip CURRENT atomically — the one
    * operation that makes a tick's data files visible.
    *
    * LOST-UPDATE GUARD: every tick allocates `version` as the committed
    * version it pinned at start + 1 (a fresh dir commits 1), so at flip
    * time CURRENT must still read `version - 1`. If another writer
    * committed in between — a violated single-writer discipline — the
    * stale tick's flip would silently REPLACE the interloper's commit
    * (last CURRENT wins, its data unreferenced); this check turns that
    * quiet data loss into an exception, and the loser's uncommitted
    * data dir is ordinary vacuum food. Detection, not locking: two
    * writers can still race inside the check-to-rename window, but any
    * interleaving where one tick COMMITS while another is mid-tick —
    * the operator error the discipline forbids — now fails loudly. */
  def commit(spark: SparkSession, dir: String, version: Long,
      manifestBody: String): Unit = {
    checkParent(spark, dir, version, "committing")
    writeManifestOnly(spark, dir, version, manifestBody)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/CURRENT.tmp$version")
    writeText(fs(spark, dir), tmp, version.toString)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new org.apache.hadoop.fs.Path(dir).toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/CURRENT"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** [[commit]] behind the injectable writer-death points of
    * [[tick]]: 1 = the writer died after its data writes (no manifest
    * lands), 2 = it died between the manifest write and the CURRENT flip
    * (the manifest is unreferenced garbage); 0, the production value,
    * commits. True iff committed. */
  def commit(spark: SparkSession, dir: String, version: Long,
      manifestBody: String, crashPoint: Int): Boolean = crashPoint match {
    case 1 => false
    case 2 => writeManifestOnly(spark, dir, version, manifestBody); false
    case _ => commit(spark, dir, version, manifestBody); true
  }

  /** Pre-write half of the lost-update guard: a tick calls this with
    * the data version it is ABOUT TO WRITE (its pinned committed
    * version + 1), before the first byte lands under `data/<version>`.
    * If an interleaved writer committed since the pin, that slot is
    * now referenced by the LIVE manifest — writing into it would
    * clobber committed files, strictly worse than a lost flip — so the
    * stale tick dies here, before any destruction, and the interloper's
    * commit keeps serving. A commit landing between this check and the
    * tick's writes still stops at the flip guard (detection, not
    * locking — see [[commit]]). */
  def guardSlot(spark: SparkSession, dir: String, version: Long): Unit =
    checkParent(spark, dir, version, "writing data slot")

  private def checkParent(spark: SparkSession, dir: String, version: Long,
      doing: String): Unit = {
    val f = fs(spark, dir)
    val curPath = new org.apache.hadoop.fs.Path(s"$dir/CURRENT")
    val committed =
      if (f.exists(curPath)) Some(readText(f, curPath).trim.toLong) else None
    if (committed != Some(version - 1) && !(committed.isEmpty && version == 1L))
      throw new IllegalStateException(
        s"lost-update detected $doing version $version at $dir: expected " +
          s"committed version ${version - 1}, found ${committed.getOrElse("none")} — " +
          "another writer committed since this tick pinned its manifest " +
          "(single-writer discipline violated); this tick's files are " +
          "uncommitted garbage for the next vacuum")
  }

  /** The manifest write alone, WITHOUT the CURRENT flip — the
    * crash-simulation hook (a writer dying between the two). */
  def writeManifestOnly(spark: SparkSession, dir: String, version: Long,
      manifestBody: String): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/manifest"))
    writeText(f, new org.apache.hadoop.fs.Path(s"$dir/manifest/v$version.txt"),
      manifestBody)
  }

  /** The committed (version, manifest body), failing loudly when the
    * dir holds no committed index. */
  def readCurrent(spark: SparkSession, dir: String, what: String): (Long, String) = {
    val f = fs(spark, dir)
    val cur = new org.apache.hadoop.fs.Path(s"$dir/CURRENT")
    require(f.exists(cur), s"no committed $what at $dir (missing CURRENT)")
    val v = readText(f, cur).trim.toLong
    (v, readText(f, new org.apache.hadoop.fs.Path(s"$dir/manifest/v$v.txt")))
  }

  // ───────────────────────── export / clone ─────────────────────────

  /** Deep-copy one subtree of an index dir verbatim (e.g.
    * `data/5/postings/bucket=3`), creating parents at the destination.
    * Returns false when the source subtree does not exist (an export
    * caller's referenced-but-optional artifact, e.g. a version that
    * wrote no docmap). Refuses to overwrite: the destination of an
    * export is a FRESH dir by contract. */
  private[graft] def copySubtree(spark: SparkSession, srcDir: String,
      destDir: String, rel: String): Boolean = {
    // source and destination resolve their OWN filesystems — the
    // promotion/DR shape is exactly a cross-cluster (or hdfs→file)
    // copy, where addressing dst through the source FS would throw
    // "Wrong FS"
    val srcFs = fs(spark, srcDir)
    val dstFs = fs(spark, destDir)
    val src = new org.apache.hadoop.fs.Path(s"$srcDir/$rel")
    if (!srcFs.exists(src)) return false
    val dst = new org.apache.hadoop.fs.Path(s"$destDir/$rel")
    require(!dstFs.exists(dst), s"export destination $dst already exists — " +
      "export targets a fresh dir")
    dstFs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst,
      /* deleteSource = */ false, spark.sessionState.newHadoopConf())
  }

  /** The export's UPFRONT freshness guard — run BEFORE the first byte
    * is copied: a destination that already holds a committed index (or
    * any data/ debris, e.g. a crashed export's) must refuse here, not
    * after the full live mass has been copied into a live dir whose
    * next tick would then accrete foreign partitions. A crashed
    * export's debris must be deleted before retrying (fail-loud, like
    * every half-written state in this protocol). */
  private[graft] def requireFreshExportDest(spark: SparkSession,
      destDir: String): Unit = {
    val f = fs(spark, destDir)
    require(!f.exists(new org.apache.hadoop.fs.Path(s"$destDir/CURRENT")),
      s"export destination $destDir already holds a committed index")
    require(!f.exists(new org.apache.hadoop.fs.Path(s"$destDir/data")),
      s"export destination $destDir already holds index data " +
        "(a crashed export's debris? delete it first) — export targets a fresh dir")
  }

  /** The shared export skeleton: freshness guard, copy every referenced
    * subtree (`required = false` marks sidecars a legacy version may
    * legitimately lack), publish the manifest body verbatim. Each
    * family supplies only its manifest→subtree mapping, so the
    * copy/publish protocol lives exactly once. */
  private[graft] def exportReferenced(spark: SparkSession, srcDir: String,
      destDir: String, version: Long, manifestBody: String,
      subtrees: Seq[(String, Boolean)]): Long = {
    requireFreshExportDest(spark, destDir)
    subtrees.foreach { case (rel, required) =>
      val copied = copySubtree(spark, srcDir, destDir, rel)
      require(copied || !required,
        s"referenced subtree $rel is missing at $srcDir (vacuumed?)")
    }
    publishExport(spark, destDir, version, manifestBody)
    version
  }

  /** Publish an EXPORTED manifest at the destination: write
    * `manifest/v<version>.txt` verbatim and flip CURRENT — without
    * [[commit]]'s lost-update guard, which a fresh dir adopting an
    * existing version number (the export keeps the source's version
    * so the manifest body's data-version references stay valid) would
    * trip. Refuses a destination that is already an index. */
  private[graft] def publishExport(spark: SparkSession, destDir: String,
      version: Long, manifestBody: String): Unit = {
    val f = fs(spark, destDir)
    require(!f.exists(new org.apache.hadoop.fs.Path(s"$destDir/CURRENT")),
      s"export destination $destDir already holds a committed index")
    writeManifestOnly(spark, destDir, version, manifestBody)
    val tmp = new org.apache.hadoop.fs.Path(s"$destDir/CURRENT.tmp$version")
    writeText(f, tmp, version.toString)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new org.apache.hadoop.fs.Path(destDir).toUri,
      spark.sessionState.newHadoopConf())
    fc.rename(tmp, new org.apache.hadoop.fs.Path(s"$destDir/CURRENT"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // ───────────────────────── writer lease ─────────────────────────
  //
  // The lost-update guards above DETECT a violated single-writer
  // discipline; the lease primitives below let [[WriterLease]] ENFORCE
  // it — concurrent well-meaning writers serialize instead of dying on
  // the guard (and, worse, instead of a concurrent vacuum reclaiming
  // another writer's in-flight uncommitted data dir). Readers never
  // touch the lock.

  private val LockName = "WRITER_LOCK"

  /** Acquire `dir`'s writer lease: an atomic create-if-absent of
    * `WRITER_LOCK` holding a fresh random token (an atomic NameNode op
    * on HDFS; the O_EXCL equivalent on the POSIX local FS). A lock
    * whose mtime is older than `leaseMs` belongs to a DEAD writer
    * (live holders renew) and is taken over by renaming it to a
    * token-unique tomb — rename succeeds for exactly one contender,
    * so the takeover itself cannot race. Waits up to `waitMs` for a
    * live holder, then fails loudly. Returns the holder token. */
  private[graft] def acquireLease(spark: SparkSession, dir: String,
      leaseMs: Long, waitMs: Long): String = {
    require(leaseMs > 0, "leaseMs must be positive")
    val f = fs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/$LockName")
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + waitMs
    var backoff = 20L
    while (true) {
      f.mkdirs(dirPath)
      // create-if-absent: the acquire. On HDFS, create(path, false) is
      // one atomic NameNode op. The LOCAL FileSystem's create is
      // check-then-create (NOT atomic — simultaneous contenders all
      // pass the exists check and double-admit), so the file scheme
      // takes java.io.File.createNewFile, the POSIX O_CREAT|O_EXCL
      // atom; the token lands right after (the reserved-but-empty
      // window reads as a token mismatch, which every reader treats
      // as "not mine" — safe).
      val acquired =
        if (f.getUri.getScheme == "file") {
          new java.io.File(lock.toUri.getPath).createNewFile()
        } else {
          try { f.create(lock, false).close(); true }
          catch { case _: java.io.IOException => false }
        }
      if (acquired) {
        writeText(f, lock, token)
        return token
      }
      val heldSince = try {
        Some(f.getFileStatus(lock).getModificationTime)
      } catch { case _: java.io.IOException => None } // released mid-check
      var tookOver = false
      heldSince.foreach { t =>
        if (System.currentTimeMillis() - t > leaseMs) {
          val tomb = new org.apache.hadoop.fs.Path(s"$dir/$LockName.usurped.$token")
          if (f.rename(lock, tomb)) {
            // TOCTOU re-check: the holder may have RENEWED between our
            // staleness read and the rename — the rename wins either
            // way, so decide from the tomb's own mtime. Stale: the
            // holder is dead, complete the takeover. Fresh: give the
            // lock back (if a new lock appeared meanwhile the
            // rename-back fails and the tomb is deleted — the
            // displaced holder's next renew/release reads a token
            // mismatch and stands down, the documented overrun path).
            val tombMtime = try {
              f.getFileStatus(tomb).getModificationTime
            } catch { case _: java.io.IOException => 0L }
            if (System.currentTimeMillis() - tombMtime > leaseMs) {
              f.delete(tomb, false)
              tookOver = true
            } else if (!f.rename(tomb, lock)) f.delete(tomb, false)
          }
        }
      }
      // a successful takeover earns one immediate create retry even at
      // the deadline — throwing "still held" right after proving the
      // holder dead and freeing the lock would be a lie that also
      // leaves the dir unlocked
      if (!tookOver) {
        if (System.currentTimeMillis() >= deadline)
          throw new IllegalStateException(
            s"writer lease at $dir still held after $waitMs ms — a live " +
              "writer is mid-tick (its heartbeat is younger than " +
              s"$leaseMs ms); retry later or raise waitMs")
        Thread.sleep(backoff)
        backoff = math.min(200L, backoff * 2)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Heartbeat: refresh the lock's mtime iff `token` still holds it.
    * False = usurped — the polite early exit for a tick that overran
    * its lease (its commit would die on the lost-update guard anyway;
    * the guard stays the last line of defense). */
  private[graft] def renewLease(spark: SparkSession, dir: String,
      token: String): Boolean = {
    val f = fs(spark, dir)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/$LockName")
    try {
      if (readText(f, lock) != token) false
      else { f.setTimes(lock, System.currentTimeMillis(), -1); true }
    } catch { case _: java.io.IOException => false }
  }

  /** Release iff `token` still holds the lock — a holder that overran
    * its lease and was usurped must NOT delete the usurper's lock. */
  private[graft] def releaseLease(spark: SparkSession, dir: String,
      token: String): Unit = {
    val f = fs(spark, dir)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/$LockName")
    try { if (readText(f, lock) == token) f.delete(lock, false) }
    catch { case _: java.io.IOException => () }
  }

  /** TIME-TRAVEL read: the manifest body of a COMMITTED historical
    * version — the Delta/Iceberg `VERSION AS OF` primitive the
    * versioned layout already pays for. Only versions ≤ the committed
    * CURRENT are servable: a crashed tick's orphan manifest at
    * current+1 exists on disk but was never published, and reading it
    * would serve a state no reader ever saw. A version retired by
    * [[vacuum]] (manifest or any referenced data file) fails loudly —
    * time travel is reliable exactly as deep as the vacuum grace
    * window, the standard trade. */
  def readVersion(spark: SparkSession, dir: String, version: Long,
      what: String): String = {
    val (current, _) = readCurrent(spark, dir, what)
    require(version <= current,
      s"$what at $dir has no committed version $version (CURRENT is " +
        s"$current; a crashed tick's orphan manifest is not a committed state)")
    val f = fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest/v$version.txt")
    require(f.exists(p),
      s"$what version $version at $dir was vacuumed away (or never " +
        s"existed); time travel reaches only versions inside the vacuum grace window")
    readText(f, p)
  }

  /** The dir's committed history: every manifest version still on
    * disk, whether it is ≤ the committed CURRENT (servable by
    * [[readVersion]] — an orphan at current+1 is not), and whether it
    * IS the current one. The monitoring/debugging surface behind the
    * index_history TVF; layout-agnostic, so one implementation serves
    * all three index families.
    *
    * "Servable" means COMMITTED AND MANIFEST PRESENT — not "data
    * guaranteed intact": a vacuum that crashed between its artifact
    * pass and its manifest pass (or an earlier vacuum run with a
    * larger grace than a later one) can leave a listed version whose
    * data files are already reclaimed; actually serving it fails
    * loudly at read time ([[readVersionedArtifact]] lists explicit
    * committed paths). Versions older than the last vacuum cutoff are
    * best-effort by construction — time travel is reliable exactly as
    * deep as the grace window, the [[readVersion]] contract. */
  def history(spark: SparkSession, dir: String): Seq[(Long, Boolean, Boolean)] = {
    val f = fs(spark, dir)
    // a dir with no committed index (fresh, or mid-first-build) has an
    // empty history, not an error — this is a monitoring surface
    if (!f.exists(new org.apache.hadoop.fs.Path(s"$dir/CURRENT")))
      return Seq.empty
    val (current, _) = readCurrent(spark, dir, "index")
    versionsUnder(f, s"$dir/manifest").map(_._1).sorted
      .map(v => (v, v <= current, v == current))
  }

  /** The numbered entries of `dir` — `manifest/v<n>.txt` files or
    * `data/<n>` dirs — with their statuses; empty when `dir` is absent. */
  private def versionsUnder(f: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!f.exists(path)) Seq.empty
    else f.listStatus(path).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val v = if (n.startsWith("v") && n.endsWith(".txt"))
        n.stripPrefix("v").stripSuffix(".txt") else n
      scala.util.Try(v.toLong).toOption.map(_ -> st)
    }
  }

  /** The `key=value` lines of a manifest body — every index module's
    * manifest is this shape (values may themselves contain '=': only
    * the FIRST one splits). */
  def parseKv(text: String): Map[String, String] =
    text.linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

  /** Validate and split a CDC change batch — the shared preamble of
    * the three indexes' applyChanges ticks: pin the RAW frame (the op
    * validation, the both-ops check and the verb split must all see
    * the same rows), reject unknown ops, any id carrying BOTH ops in
    * one batch, and any id carrying two upsert rows with DIFFERENT
    * payloads (no meaningful order inside a set — a per-id dedup
    * would silently resolve either conflict, and the committed state
    * would depend on partitioning), then return the (id-distinct,
    * PINNED upsert half with `payload`, delete-ids half cast to long
    * under `idCol`'s name). The upsert half is pinned because the
    * cores evaluate it in several independent jobs (stats roll,
    * postings write, reverse-map write) — their own "must already be
    * pinned" precondition now holds by construction. */
  def splitChanges(changes: DataFrame, opCol: String, idCol: String,
      payload: Seq[String]): (DataFrame, DataFrame) = {
    val keep = (idCol +: payload).map(col)
    val pinned = changes.select(col(opCol).as("_op") +: keep: _*)
      .localCheckpoint(true)
    val ops = pinned.select(col("_op")).distinct()
      .collect().map(_.getString(0)).toSet
    require(ops.subsetOf(Set("upsert", "delete")),
      s"ops must be 'upsert' or 'delete', got $ops")
    val dups = pinned.select(col("_op"), col(idCol).cast("long").as("_id"))
      .distinct()
      .groupBy(col("_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).collect()
    require(dups.isEmpty,
      s"id ${dups.headOption.map(_.get(0)).orNull} carries both ops in one batch")
    // payload-distinct duplicate upserts pass the both-ops check but
    // have no defined winner either: two revisions of doc 42 in one
    // micro-batch would commit an arbitrary one (and a crash-before-
    // commit retry could legally commit the OTHER) — reject loudly,
    // the both-ops rule's rationale applied to revisions. Exact
    // duplicate rows collapse in the distinct and pass. A feed with
    // several revisions per epoch must collapse per key upstream
    // (e.g. last-wins under its own sequence column) before the tick.
    val ups = pinned.filter(col("_op") === "upsert").select(keep: _*)
      .distinct().localCheckpoint(true)
    val conflicts = ups.groupBy(col(idCol)).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).collect()
    require(conflicts.isEmpty,
      s"id ${conflicts.headOption.map(_.get(0)).orNull} carries conflicting " +
        "upsert payloads in one batch — collapse revisions per key upstream")
    (ups,
      pinned.filter(col("_op") === "delete")
        .select(col(idCol).cast("long").as(idCol)))
  }

  /** ONE intra-batch duplicate-id rule for every ingest-side tick verb
    * (append / admission / upsert / text-carrying delete, across all
    * three index families): pin one distinct materialization of the
    * batch's (id, payload…) rows — a row re-submitted within one
    * micro-batch counts ONCE (set semantics; the txn ledger gates
    * epochs, not rows) — and REJECT payload-distinct same-id rows
    * loudly (two revisions of one document in one batch have no
    * defined winner; a silent per-id dedup would commit a
    * partitioning-dependent choice). The returned frame is pinned and
    * id-distinct, so callers may evaluate it in several independent
    * jobs (stats roll, postings write, reverse maps) without tearing. */
  def dedupBatch(docs: DataFrame, idCol: String, payload: Seq[String],
      what: String): DataFrame = {
    val uniq = docs.select((idCol +: payload).map(col): _*)
      .distinct().localCheckpoint(true)
    val conflicts = uniq.groupBy(col(idCol)).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).collect()
    require(conflicts.isEmpty,
      s"id ${conflicts.headOption.map(_.get(0)).orNull} carries conflicting " +
        s"payloads in one $what batch — collapse revisions per key upstream")
    uniq
  }

  /** BUILD/REBUILD slot allocation, shared by the three index builds:
    * the data version the build writes (committed + 1, or 1 on a fresh
    * dir) and the committed txn ledger to carry forward — a rebuild's
    * corpus is expected to contain every ingested epoch's rows
    * (rebuild-over-union is the maintenance contract), so a stream
    * re-delivering an already-ingested epoch after the rebuild must
    * still see its exactly-once record and no-op. Only the generic
    * manifest lines are read here; the module re-reads its own fields
    * when it needs them. */
  def buildSlot(spark: SparkSession, dir: String): (Long, Map[String, Long]) = {
    val f = fs(spark, dir)
    if (f.exists(new org.apache.hadoop.fs.Path(s"$dir/CURRENT"))) {
      val (v, body) = readCurrent(spark, dir, "index")
      (v + 1, parseTxns(parseKv(body)))
    } else (1L, Map.empty[String, Long])
  }

  /** Shared union reader for the version-owned, partition-pruned index
    * artifacts (BM25 postings/docmap, IVF cells, minhash rows): each
    * wanted (version, partition) pair is read from its EXPLICIT
    * committed path — `dir/data/<v>/<artifact>/<partCol>=<p>` —
    * grouped into one parquet read per contributing data version
    * (basePath keeps the partition column), so uncommitted ticks'
    * files are invisible and unwanted partitions are never even
    * listed: the serve/delete paths' pruning, made literal.
    * `schemaDDL` orders the data columns and names the partition
    * column LAST (cast to int — a path-derived partition value parses
    * as int); no pairs → an empty frame of that schema. */
  def readVersionedArtifact(spark: SparkSession, dir: String,
      artifact: String, partCol: String, schemaDDL: String,
      pairs: Seq[(Long, Int)]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)
    require(schema.fields.last.name == partCol,
      s"schemaDDL must end with the partition column $partCol: $schemaDDL")
    val byVer = pairs.groupBy(_._1).toSeq.sortBy(_._1)
    if (byVer.isEmpty) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      val dataCols = schema.fields.init.map(f => col(f.name)).toSeq
      byVer.map { case (v, ps) =>
        spark.read.option("basePath", s"$dir/data/$v/$artifact")
          .parquet(ps.map(_._2).distinct.sorted
            .map(p => s"$dir/data/$v/$artifact/$partCol=$p"): _*)
          .select(dataCols :+ col(partCol).cast("int").as(partCol): _*)
      }.reduce(_ unionByName _)
    }
  }

  /** [[readVersionedArtifact]] for artifacts whose partition column is
    * a PURE FUNCTION of the data columns (BM25 term buckets and
    * termstats — bucket = hash(t); the docmap — dbucket = hash(id);
    * minhash signature rows — bucket = hash(sid); minhash band rows —
    * bb = hash(band, bucket)): every wanted (version, partition) leaf
    * dir is read in ONE scan with an explicit schema and the partition
    * column RECOMPUTED via `partValue`, instead of one read group per
    * contributing version unioned together. An accreted partition then
    * costs extra FILES in one scan stage, never extra scan stages — on
    * a 2-version BM25 index this halved serve latency (the grouped
    * union ran a full extra scan stage per version). IVF cells keep
    * the grouped reader (a member's cell is assignment state, not a
    * function of its columns). */
  def readVersionedArtifactFused(spark: SparkSession, dir: String,
      artifact: String, partCol: String, schemaDDL: String,
      pairs: Seq[(Long, Int)],
      partValue: org.apache.spark.sql.Column): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)
    require(schema.fields.last.name == partCol,
      s"schemaDDL must end with the partition column $partCol: $schemaDDL")
    val dataSchema = org.apache.spark.sql.types.StructType(schema.fields.init)
    if (pairs.isEmpty) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      val dataCols = dataSchema.fields.map(f => col(f.name)).toSeq
      // the explicit schema pins the read across versions (a legacy
      // file's extra columns — e.g. a pre-r16 stored df — are pruned,
      // never inferred); leaf dirs are listed explicitly, so
      // uncommitted ticks' files stay invisible
      spark.read.schema(dataSchema)
        .parquet(pairs.distinct.sorted
          .map { case (v, p) => s"$dir/data/$v/$artifact/$partCol=$p" }: _*)
        .select(dataCols :+ partValue.cast("int").as(partCol): _*)
    }
  }

  /** Writer-transaction LEDGER manifest line
    * (`txns2=<appId>:<epoch>;<appId>:<epoch>;…`, keys escaped) — the
    * Delta-style
    * `txnAppId`→`txnVersion` idempotence map for STREAMING index
    * maintenance: every committed tick carries the WHOLE ledger
    * forward (its own entry merged in via [[mergeTxn]]), so a tick
    * from one writer — a manual txn-free append interleaved with a
    * maintenance stream, a second stream on its own appId — can never
    * erase another app's exactly-once record. A retried micro-batch
    * (foreachBatch re-delivers the same epoch after a failure between
    * the sink call and the engine's own commit) is recognized and
    * skipped. Epochs per app id must be monotone, which Structured
    * Streaming's batchId is. */
  def renderTxns(txns: Map[String, Long]): String =
    if (txns.isEmpty) ""
    else "txns2=" + txns.toSeq.sorted
      .map { case (app, epoch) => s"${escapeTxnKey(app)}:$epoch" }.mkString(";") + "\n"

  /** Percent-escape the ledger's structural bytes in an app id. New
    * entries are kept clean by [[mergeTxn]]'s validation, but a LEGACY
    * single-slot `txn=` record predates that rule: an old appId
    * containing ';' or a newline, carried forward verbatim, would
    * render a ledger line the next read cannot parse
    * (NumberFormatException on the mangled epoch field) — bricking the
    * index dir. Escaping at render + unescaping at parse makes
    * render∘parse the identity for ANY legacy key instead. The escaped
    * map renders under its OWN manifest key (`txns2=`): unescaping a
    * PRE-escape `txns=` line would silently corrupt an appId that
    * legally contained a literal percent sequence (the old rule forbade
    * only ';'/newlines — "job%25east" would read back as "job%east"
    * and its exactly-once record would stop matching), so each format
    * is parsed with exactly the semantics it was written under. ':'
    * needs no escape (the epoch is everything after the LAST colon). */
  private def escapeTxnKey(app: String): String = app
    .replace("%", "%25").replace(";", "%3B")
    .replace("\n", "%0A").replace("\r", "%0D")

  private def unescapeTxnKey(s: String): String = s
    .replace("%3B", ";").replace("%0A", "\n").replace("%0D", "\r")
    .replace("%25", "%")

  /** The ledger back out of a parsed key→value manifest map. App ids
    * may contain ':' (each entry's epoch is everything after its LAST
    * colon); ';'/newlines survive via [[escapeTxnKey]].
    * A legacy single-slot `txn=` record (the pre-ledger manifest
    * format) is read too — RAW, the old writer never escaped — so an
    * index committed by the old writer keeps its exactly-once record
    * across the upgrade; without it, a maintenance stream restarting on
    * the new code would re-apply its last re-delivered epoch. */
  def parseTxns(kv: Map[String, String]): Map[String, Long] = {
    def entry(v: String): (String, Long) = {
      val i = v.lastIndexOf(':')
      (v.take(i), v.drop(i + 1).toLong)
    }
    def entries(key: String): Iterator[(String, Long)] =
      kv.get(key).iterator.flatMap(_.split(";")).filter(_.nonEmpty).map(entry)
    // three generations, each read with the semantics it was written
    // under, newest winning per app: txn= (single slot, raw),
    // txns= (pre-escape map, raw), txns2= (escaped map)
    kv.get("txn").map(entry).toMap ++
      entries("txns").toMap ++
      entries("txns2").map { case (app, e) => unescapeTxnKey(app) -> e }.toMap
  }

  /** The ledger a committing tick writes: the previous manifest's map
    * carried forward, this tick's own (appId, epoch) — if it has one —
    * merged in. Carrying the map forward on EVERY commit (including
    * txn-free manual ticks and rebuilds) is the whole point: the
    * exactly-once record must survive writers that don't know about
    * the stream that made it. */
  def mergeTxn(previous: Map[String, Long],
      txn: Option[(String, Long)]): Map[String, Long] = {
    requireAppId(txn)
    previous ++ txn
  }

  private def requireAppId(txn: Option[(String, Long)]): Unit =
    txn.foreach { case (app, _) =>
      require(!app.contains(";") && !app.contains("\n"),
        s"txn appId must not contain ';' or newlines: $app")
    }

  /** THE TICK SKELETON — every write of the three index families
    * (append, delete, upsert, CDC, compact, the reverse-map and band
    * migrations) runs through it, so the commit protocol is spelled
    * once:
    *   1. a malformed txn appId is rejected before anything is read or
    *      written;
    *   2. CURRENT is read ONCE and every artifact the tick reads
    *      resolves from that pinned manifest;
    *   3. EXACTLY-ONCE: a `txn` (appId, epoch) the committed ledger
    *      already records — the app at this or a later epoch — makes
    *      the tick a no-op, so a micro-batch re-delivered by
    *      foreachBatch's at-least-once delivery cannot apply twice (the
    *      ledger is the idempotent sink of the Structured Streaming
    *      argument); a tick that died before its flip left no record,
    *      so its retry applies cleanly;
    *   4. `plan` sees the pinned manifest and returns None when the
    *      index already is the post-tick state (no commit), else the
    *      write step;
    *   5. [[guardSlot]] on version current + 1, the write step (it
    *      writes only under `data/<version>` and returns the next
    *      manifest), then [[commit]] with the ledger carried forward and
    *      this tick's (appId, epoch) merged in.
    * `crashPoint` injects the writer deaths of the crash-atomicity
    * specs (1 = after the data writes, 2 = between manifest and flip;
    * 0, production, commits); `interleave` runs right after the txn
    * check — the lost-update spec's hook for committing a second writer
    * mid-tick. True iff the tick committed. */
  def tick[M](spark: SparkSession, dir: String, spec: IndexSpec[M],
      txn: Option[(String, Long)], crashPoint: Int = 0,
      interleave: () => Unit = () => ())(plan: M => Option[Long => M]): Boolean = {
    requireAppId(txn)
    val (cur, body) = readCurrent(spark, dir, spec.what)
    val m = spec.parse(body)
    if (txnAlreadyApplied(spec.txns(m), txn)) return false
    interleave()
    plan(m).exists { write =>
      val ver = cur + 1
      guardSlot(spark, dir, ver)
      val next = spec.withTxns(write(ver), mergeTxn(spec.txns(m), txn))
      commit(spark, dir, ver, spec.render(next), crashPoint)
    }
  }

  /** True iff the committed ledger proves this (appId, epoch) tick
    * already ran: the app's recorded epoch >= this epoch. A tick that
    * crashed BEFORE its commit left no ledger entry, so its retry
    * applies cleanly — at-most-once commit + at-least-once delivery =
    * exactly-once index maintenance. */
  def txnAlreadyApplied(committed: Map[String, Long],
      txn: Option[(String, Long)]): Boolean = txn.exists { case (app, e) =>
    committed.get(app).exists(_ >= e)
  }

  /** Partition subdirectory names of `dataDir` with the given partition
    * column prefix, e.g. `bucket=` → the bucket ids materialized by a
    * write (partitionBy skips empty partitions). */
  def partitionIds(spark: SparkSession, dataDir: String, prefix: String): Seq[Int] = {
    val f = fs(spark, dataDir)
    f.listStatus(new org.apache.hadoop.fs.Path(dataDir))
      .map(_.getPath.getName).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toInt).toSeq.sorted
  }

  /** The one write shape of every partitioned index artifact: one
    * exchange on the partition column, so each partition lands in ONE
    * task and ONE file per (version, partition). Without it every task
    * holding rows for a partition leaves its own file (tasks ×
    * partitions — measured 448 files for 16 BM25 buckets at sf0.1),
    * and every later read of the partition pays a parquet reader init
    * per file; a rewrite must not inherit its read's fan-out either.
    * Returns the partition ids that materialized (partitionBy skips
    * empty ones). */
  def writePartitioned(df: DataFrame, dir: String, ver: Long,
      artifact: String, partCol: String): Seq[Int] = {
    val out = s"$dir/data/$ver/$artifact"
    df.repartition(col(partCol)).write.partitionBy(partCol)
      .mode("overwrite").parquet(out)
    partitionIds(df.sparkSession, out, s"$partCol=")
  }

  // ───────────────────────── shared lifecycle ─────────────────────────

  /** `p:v1|v2,…` — the version-map codec of every accreting artifact,
    * sorted by partition. A legacy single-owner entry (`p:v`) parses as
    * a one-element list, so pre-accretion dirs read unchanged. */
  def renderVersions(vs: Map[Int, Seq[Long]]): String =
    vs.toSeq.sortBy(_._1).map { case (p, v) => s"$p:${v.mkString("|")}" }.mkString(",")

  def parseVersions(s: String): Map[Int, Seq[Long]] =
    s.split(",").filter(_.nonEmpty).map { e =>
      val Array(p, vs) = e.split(":")
      p.toInt -> vs.split("\\|").map(_.toLong).toSeq
    }.toMap

  /** `vs` with `ver` appended to the lists of `parts` — an ACCRETING
    * write's manifest update. */
  def accrete(vs: Map[Int, Seq[Long]], parts: Iterable[Int],
      ver: Long): Map[Int, Seq[Long]] =
    vs ++ parts.map(p => p -> (vs.getOrElse(p, Seq.empty) :+ ver))

  /** `vs` after a CONSOLIDATING rewrite of the `touched` partitions into
    * `ver`: each collapses to `ver` where it re-materialized (`present`)
    * and leaves the map where the rewrite emptied it. */
  def consolidate(vs: Map[Int, Seq[Long]], touched: Iterable[Int],
      present: Iterable[Int], ver: Long): Map[Int, Seq[Long]] =
    (vs -- touched) ++ present.map(_ -> Seq(ver))

  /** A derived artifact written by the same ticks as its parent, from
    * the parent's just-written partitions — so its versions mirror the
    * parent's and the manifest needs no reference list of its own:
    * per partition (`data/<v>/<name>/<partCol>=<p>`) or one directory
    * per version (`data/<v>/<name>`). `present` is the manifest's flag;
    * a dir built before the sidecar existed lacks it. */
  final case class Sidecar(name: String, perPartition: Boolean, present: Boolean)

  /** An accreting artifact as one manifest references it: every version
    * listed under partition `p` owns `data/<v>/<name>/<partCol>=<p>`. */
  final case class Accreting(name: String, partCol: String,
      versions: Map[Int, Seq[Long]], sidecar: Option[Sidecar] = None)

  /** What one index family supplies to the shared verbs: its manifest
    * codec, the artifacts a manifest references (accreting ones primary
    * first, plus single-version ones), the readers and sidecar writer
    * it already has, and "this manifest at a new version with new
    * version maps" (the ledger rides along unchanged). */
  trait IndexSpec[M] {
    def what: String
    def parse(body: String): M
    def render(m: M): String
    def accreting(m: M): Seq[Accreting]
    def single(m: M): Seq[(String, Long)] = Seq.empty
    /** Artifact `name`'s committed rows of `parts`, columns as written
      * (partition column last). */
    def read(spark: SparkSession, dir: String, m: M, name: String,
        parts: Set[Int]): DataFrame
    /** Write the sidecar of the artifact just rewritten under `ver`. */
    def writeSidecar(spark: SparkSession, dir: String, m: M, ver: Long): Unit
    def updated(m: M, version: Long, versions: Map[String, Map[Int, Seq[Long]]]): M
    def txns(m: M): Map[String, Long]
    def withTxns(m: M, txns: Map[String, Long]): M

    /** The committed manifest. */
    def current(spark: SparkSession, dir: String): M =
      parse(readCurrent(spark, dir, what)._2)

    /** The manifest AS OF a committed historical version ([[readVersion]]). */
    def at(spark: SparkSession, dir: String, version: Long): M =
      parse(readVersion(spark, dir, version, what))
  }

  /** COMPACT tick — the read-amplification bound accreting appends
    * need: a partition fed by N ticks reads a union of N file groups at
    * every serve, and its manifest entry grows without bound. Every
    * partition of every accreting artifact with ≥ `minVersions`
    * distinct contributing versions is rewritten into ONE new data
    * version (a pure physical rewrite: rows, scores and verdicts are
    * bit-identical before and after) with its sidecar recomputed, and
    * its entry collapses to that version; unpicked partitions are never
    * listed. The superseded history is the next vacuum's food. The txn
    * ledger rides forward untouched, so a maintenance stream's
    * exactly-once record survives a compaction. One [[tick]]
    * (`crashPoint` as there).
    * Returns the compacted partitions of the PRIMARY artifact — the
    * others compact in the same tick, unreported. */
  def compact[M](spark: SparkSession, dir: String, spec: IndexSpec[M],
      minVersions: Int, crashPoint: Int): Seq[Int] = {
    require(minVersions >= 2, "minVersions < 2 would rewrite single-version " +
      s"partitions for nothing: $minVersions")
    var primary = Seq.empty[Int]
    val committed = tick(spark, dir, spec, None, crashPoint) { m =>
      val picked = spec.accreting(m).map(a => a -> a.versions
        .collect { case (p, vs) if vs.distinct.size >= minVersions => p }.toSeq.sorted)
      if (picked.forall(_._2.isEmpty)) None // nothing fragmented: no tick
      else Some { newVer =>
        primary = picked.head._2
        spec.updated(m, newVer, picked.map { case (a, ps) =>
          val present = if (ps.isEmpty) Seq.empty else {
            val out = writePartitioned(spec.read(spark, dir, m, a.name, ps.toSet),
              dir, newVer, a.name, a.partCol)
            if (a.sidecar.exists(_.present)) spec.writeSidecar(spark, dir, m, newVer)
            out
          }
          a.name -> consolidate(a.versions, ps, present, newVer)
        }.toMap)
      }
    }
    if (committed) primary else Seq.empty
  }

  /** EXPORT (deep clone) of the index AS OF `version` (default CURRENT,
    * -1) into the FRESH dir `destDir` — the promotion / DR / branching
    * verb: copy exactly the subtrees the version's manifest references
    * and publish the manifest body VERBATIM through
    * [[exportReferenced]]; the version number is kept so the body's
    * data-version references stay valid. The clone OWNS its files
    * (deep, where a Delta SHALLOW CLONE's pointers would dangle after a
    * source vacuum), serves bit-identically, and accepts its own ticks
    * thereafter (next slot = version + 1, its own compact/vacuum
    * cadence, the txn ledger carried verbatim so a resumed maintenance
    * stream stays exactly-once across the promotion). Unreferenced
    * partitions of partially superseded source versions are NOT copied
    * — dead history never crosses, and copy IO moves the live index
    * mass once, never the accumulated history. History below the
    * exported version does not exist at the clone; time travel there
    * fails loudly, like a vacuumed version at the source. Fails loudly
    * when `version` is uncommitted or already vacuumed — so an export
    * racing a maintenance stream's vacuum can die mid-copy like any
    * deep reader; run it under [[WriterLease.withLease]] there, or
    * export a version the grace window protects. Sidecars are optional
    * subtrees (a legacy version may lack them). Returns the exported
    * version. */
  def exportIndex[M](spark: SparkSession, srcDir: String, destDir: String,
      version: Long, spec: IndexSpec[M]): Long = {
    val ver = if (version < 0) readCurrent(spark, srcDir, spec.what)._1 else version
    val body = readVersion(spark, srcDir, ver, spec.what)
    val m = spec.parse(body)
    val subtrees = spec.accreting(m).flatMap { a =>
      val side = a.sidecar.filter(_.present)
      a.versions.toSeq.flatMap { case (p, vs) =>
        vs.distinct.flatMap(v =>
          (s"data/$v/${a.name}/${a.partCol}=$p", true) +:
            side.filter(_.perPartition)
              .map(sc => (s"data/$v/${sc.name}/${a.partCol}=$p", false)).toSeq)
      } ++ side.filterNot(_.perPartition).toSeq.flatMap(sc =>
        a.versions.values.flatten.toSeq.distinct.map(v => (s"data/$v/${sc.name}", false)))
    } ++ spec.single(m).map { case (name, v) => (s"data/$v/$name", true) }
    exportReferenced(spark, srcDir, destDir, ver, body, subtrees)
  }

  /** VACUUM tick: delete the `data/<v>` trees, `data/<v>/<artifact>`
    * subtrees and `manifest/v<v>.txt` files that no servable manifest
    * references — crashed ticks' orphans, history superseded by
    * consolidation, compaction or rebuild. Without it a long-lived
    * index keeps every rewrite it ever made (the commit protocol's
    * "garbage, not corruption").
    *
    * The keep-set is, per artifact, the references of CURRENT plus
    * those of every committed manifest still inside the grace window:
    * in-window manifests are still servable (pinned readers, time
    * travel), and one commit back can reference data versions far older
    * than the window — a compaction re-owns every fragmented partition
    * at once, un-referencing the whole accreted history from CURRENT
    * while the pre-compaction manifest still points at all of it.
    *
    * `graceVersions` counts the SUPERSEDED GENERATIONS kept for
    * in-flight readers (the Delta/Iceberg retention idea, counted in
    * versions): grace g keeps every version newer than
    * `current - 1 - g`, so g = 0 deletes all unreferenced history.
    * `graceMillis` is the WALL-CLOCK floor on the same window: a
    * version committed within graceMillis of now survives however many
    * generations have passed. Without it the guarantee is
    * load-DEPENDENT — a hot maintenance stream at seconds-per-tick
    * burns a grace-2 window in seconds; 0 = no time floor. A version's
    * AGE is its commit time, the mtime of its (immutable) manifest; a
    * data dir's own mtime is only the fallback for manifest-less
    * versions (crashed ticks' orphans, an export clone's non-exported
    * versions) — never 0, which would void the wall-clock floor for
    * exactly those.
    *
    * Two passes over ONE listing of each directory and one clock
    * reading. The whole-version pass deletes out-of-window versions no
    * artifact references. The ARTIFACT pass then deletes, inside the
    * surviving out-of-window versions, the subtrees of artifacts whose
    * own references dropped the version: artifacts supersede
    * independently (an append can re-own every postings bucket while
    * old docmap dbuckets stay live), and without this pass one live
    * kilobyte of reverse map would pin gigabytes of dead postings.
    * Sidecars are scoped by their parent's references. Manifests go
    * last; the current one is always load-bearing.
    *
    * Run it from the index's single writer. Deleting garbage is
    * idempotent, so a vacuum that crashes midway leaves garbage for the
    * next one. A crashed tick's orphan at current+1 is newer than
    * current, so the grace rule never touches it — safe, because the
    * next tick allocates the same slot and overwrites it. Returns the
    * data versions that lost their dir or any artifact subtree. */
  def vacuum[M](spark: SparkSession, dir: String, spec: IndexSpec[M],
      graceVersions: Long, graceMillis: Long): Seq[Long] = {
    require(graceVersions >= 0, s"graceVersions must be >= 0, got $graceVersions")
    require(graceMillis >= 0, s"graceMillis must be >= 0, got $graceMillis")
    val f = fs(spark, dir)
    val (current, body) = readCurrent(spark, dir, spec.what)
    val cutoff = current - 1 - graceVersions
    val tCutoff =
      if (graceMillis > 0L) System.currentTimeMillis() - graceMillis
      else Long.MaxValue
    val manifests = versionsUnder(f, s"$dir/manifest")
    val commitTime = manifests.map { case (v, st) => v -> st.getModificationTime }.toMap
    val servable = spec.parse(body) +: manifests.collect {
      case (v, st) if v < current && (v > cutoff || st.getModificationTime >= tCutoff) =>
        spec.parse(readText(f, st.getPath))
    }
    val refs: Map[String, Set[Long]] = servable.flatMap { m =>
      spec.accreting(m).flatMap { a =>
        val vs = a.versions.values.flatten.toSet
        (a.name -> vs) +: a.sidecar.map(_.name -> vs).toSeq
      } ++ spec.single(m).map { case (name, v) => name -> Set(v) }
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
    val live = refs.values.flatten.toSet + current
    val (dead, kept) = versionsUnder(f, s"$dir/data")
      .filter { case (v, st) =>
        v <= cutoff && commitTime.getOrElse(v, st.getModificationTime) < tCutoff }
      .partition { case (v, _) => !live(v) }
    dead.foreach { case (_, st) => f.delete(st.getPath, true) }
    val trimmed = kept.filter { case (v, st) =>
      refs.count { case (art, rs) =>
        val sub = new org.apache.hadoop.fs.Path(st.getPath, art)
        !rs(v) && f.exists(sub) && f.delete(sub, true)
      } > 0
    }
    manifests
      .filter { case (v, st) =>
        v != current && v <= cutoff && st.getModificationTime < tCutoff }
      .foreach { case (_, st) => f.delete(st.getPath, false) }
    (dead ++ trimmed).map(_._1).distinct.sorted
  }
}
