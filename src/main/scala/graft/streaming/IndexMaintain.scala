package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Ann, Bm25, MinhashIndex}

/** Streaming maintenance of the standing indexes: every micro-batch
  * runs one committed write tick of any index verb via `foreachBatch`
  * ([[txnSink]]) — append or admission, with compaction, vacuum and
  * monitoring on a cadence ([[bm25Sink]], [[ivfSink]], [[minhashSink]]),
  * or a takedown, refresh or CDC feed.
  *
  * Exactly-once, spelled out: Structured Streaming gives foreachBatch
  * AT-LEAST-ONCE delivery — after a failure between the sink call and
  * the engine's own commit, the SAME (batch, batchId) is re-delivered
  * on restart. Each verb's `txn` argument (appId, batchId) makes the
  * pair exactly-once through the manifest's txn ledger
  * ([[graft.operators.ManifestIO.tick]]). The ledger is a MAP carried
  * forward on every commit, so an interleaved manual tick (or a second
  * stream on its own appId, or a rebuild) can never erase this
  * stream's record. `appId` must be stable across restarts (choose it
  * like a Delta txnAppId) and epochs per appId monotone, which batchId
  * is; the checkpoint must be durable.
  *
  * Single writer per index dir, as everywhere in the lifecycle: one
  * maintenance stream per index. A deployment that must share the dir
  * with OTHER writers — an external compaction job, a manual backfill
  * — wraps its sink in [[leased]] (and wraps those jobs' ticks in
  * [[graft.operators.WriterLease.withLease]]) so the writers
  * serialize instead of dying on the commit protocol's lost-update
  * guard. */
object IndexMaintain {

  /** Wrap any sink body in the index dir's WRITER LEASE
    * ([[graft.operators.WriterLease]]) — the mixed-deployment form:
    * `leased(dir)(bm25Sink(dir, …))` makes each micro-batch tick
    * acquire the dir's `WRITER_LOCK` before writing and release it
    * after, serializing against any other leased writer on the same
    * dir. A daemon timer HEARTBEATS the lease every leaseMs/3 for the
    * duration of the tick — the `(DataFrame, Long) => Unit` sink shape
    * cannot reach the lease itself, and without renewal any
    * maintenance-cadence micro-batch outliving `leaseMs` (a compact +
    * vacuum epoch, say) would silently go stale and re-admit the
    * concurrent-writer hazard the lease exists to close.
    * Single-stream deployments don't need the wrapper (the stream IS
    * the single writer); it costs two filesystem ops per tick plus the
    * heartbeat when used. */
  def leased(dir: String, leaseMs: Long = 600000L, waitMs: Long = 60000L)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, epoch) =>
      graft.operators.WriterLease.withLease(batch.sparkSession, dir,
        leaseMs, waitMs) { lease =>
        val period = math.max(1000L, leaseMs / 3)
        val timer = new java.util.Timer("graft-lease-renew", /* daemon = */ true)
        timer.schedule(new java.util.TimerTask {
          override def run(): Unit = lease.renew()
        }, period, period)
        try sink(batch, epoch)
        finally timer.cancel()
      }

  /** THE streaming rail of the index write verbs: a foreachBatch sink
    * running `verb(batch, Some((appId, epoch)))` once per micro-batch —
    * e.g. an id-only takedown feed:
    * `txnSink(app)((b, txn) => Bm25.deleteByIds(b.sparkSession, dir, b, "doc_id", txn))`.
    * Run ONE maintenance stream per index dir (single-writer
    * discipline): ingest and takedown for the same index belong in one
    * stream's foreachBatch, or in separate streams that never run
    * concurrently, on DISTINCT appIds. A CDC feed interleaving upserts
    * and deletes runs the applyChanges verb, whose ONE commit carries
    * both (two verb ticks under one (appId, epoch) would be refused by
    * the ledger). */
  def txnSink(appId: String)(
      verb: (DataFrame, Option[(String, Long)]) => Unit): (DataFrame, Long) => Unit =
    (batch, epoch) => verb(batch, Some((appId, epoch)))

  /** Start `input` through `sink` under a durable checkpoint. */
  private def start(input: DataFrame, checkpoint: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()

  /** True when epoch `epoch` is a maintenance-cadence tick (vacuum or
    * monitoring) under cadence `every` (0 = off). Epoch-keyed, so a
    * re-started stream re-delivering an epoch re-runs the same
    * decision — and every cadence action here is idempotent (deleting
    * deleted garbage, overwriting an epoch's own monitoring dir). */
  private def due(every: Int, epoch: Long): Boolean =
    every > 0 && epoch % every == (every - 1).toLong

  /** The monitoring half of the cadence: write a 1-shot report frame
    * under `alarmDir/epoch=<id>` in overwrite mode — re-delivery
    * rewrites the same dir, so at-least-once cannot duplicate alarm
    * rows. A monitoring job tails the alarm dir instead of scanning
    * the index. */
  private def writeAlarm(report: org.apache.spark.sql.DataFrame,
      alarmDir: String, epoch: Long): Unit =
    report.write.mode("overwrite").parquet(s"$alarmDir/epoch=$epoch")

  /** The BM25 foreachBatch sink body: one idempotent committed append
    * tick per micro-batch, plus — every `vacuumEvery` epochs — a
    * maintenance tick: compact ([[Bm25.compactIndex]]), then vacuum
    * ([[Bm25.vacuumIndex]]). Appends accrete: every tick adds its
    * version to each touched bucket's list, so without the compaction
    * a serve would read more files per bucket the longer the stream
    * runs; the vacuum then reclaims what compaction and deletes
    * superseded. Both are idempotent under re-delivery. The sink IS
    * the index's single writer, so running maintenance here honors
    * the vacuum's writer discipline. */
  def bm25Sink(dir: String, idCol: String, textCol: String, appId: String,
      vacuumEvery: Int = 0, graceVersions: Long = 2L,
      profileEvery: Int = 0, alarmDir: String = ""): (DataFrame, Long) => Unit = {
    require(profileEvery <= 0 || alarmDir.nonEmpty,
      "profileEvery needs an alarmDir — the cadence would write to the filesystem root")
    txnSink(appId) { (batch, txn) =>
      Bm25.appendToIndex(batch.sparkSession, dir, batch, idCol, textCol, txn)
      val epoch = txn.get._2
      if (due(vacuumEvery, epoch)) {
        Bm25.compactIndex(batch.sparkSession, dir)
        Bm25.vacuumIndex(batch.sparkSession, dir, graceVersions)
      }
      if (due(profileEvery, epoch))
        writeAlarm(Bm25.indexProfile(batch.sparkSession, dir), alarmDir, epoch)
    }
  }

  /** Maintain a standing BM25 index from a streaming document frame.
    * `checkpoint` must be durable and paired with `appId` for the
    * exactly-once contract to hold across restarts. `vacuumEvery` > 0
    * runs [[Bm25.compactIndex]] then [[Bm25.vacuumIndex]] every
    * that-many epochs (grace counted in versions, see
    * [[graft.operators.ManifestIO.vacuum]]). */
  def maintainBm25(docs: DataFrame, dir: String, idCol: String,
      textCol: String, appId: String, checkpoint: String,
      vacuumEvery: Int = 0, graceVersions: Long = 2L,
      profileEvery: Int = 0, alarmDir: String = ""): StreamingQuery =
    start(docs, checkpoint, bm25Sink(dir, idCol, textCol, appId, vacuumEvery,
      graceVersions, profileEvery, alarmDir))

  /** The IVF foreachBatch sink body: arriving vectors are assigned
    * under the index's own committed centroids, one idempotent tick
    * per micro-batch. Batch frame needs (cid, cvec). Appends never
    * supersede data, so the optional vacuum cadence only recycles
    * crashed ticks' orphans and replaced rebuilds. */
  def ivfSink(dir: String, appId: String, vacuumEvery: Int = 0,
      graceVersions: Long = 2L, driftEvery: Int = 0,
      alarmDir: String = "",
      rebuildDropPct: Int = 25, compactEvery: Int = 0,
      compactMinVersions: Int = 2): (DataFrame, Long) => Unit = {
    require(driftEvery <= 0 || alarmDir.nonEmpty,
      "driftEvery needs an alarmDir — the cadence would write to the filesystem root")
    txnSink(appId) { (batch, txn) =>
      Ann.ivfIndexAppend(batch.sparkSession, dir, batch, txn)
      val epoch = txn.get._2
      // compaction BEFORE vacuum: the compaction's freshly superseded
      // history is the same epoch's vacuum food (grace still guards
      // pinned readers). A re-delivered cadence epoch re-runs both —
      // idempotent: the already-compacted cells hold one version, so
      // the re-run picks nothing
      if (due(compactEvery, epoch))
        Ann.ivfIndexCompact(batch.sparkSession, dir, compactMinVersions)
      if (due(vacuumEvery, epoch))
        Ann.ivfVacuum(batch.sparkSession, dir, graceVersions)
      // the rebuild alarm on a cadence — a VERDICT, not a time series:
      // one row comparing the latest appended mass's mean cosine to
      // the trained reference version's under the FROZEN centroids,
      // with `rebuild_due` flipping when the drop exceeds
      // `rebuildDropPct` percent ([[Ann.ivfDriftVerdict]]) — the
      // monitoring job tails a boolean; the per-version series stays
      // available via [[Ann.ivfGeometryDrift]] / the ivf_index_drift
      // TVF for the deep dive
      if (due(driftEvery, epoch))
        writeAlarm(Ann.ivfDriftVerdict(batch.sparkSession, dir, rebuildDropPct),
          alarmDir, epoch)
    }
  }

  /** Maintain a committed IVF index from a streaming vector frame.
    * `driftEvery` > 0 writes [[Ann.ivfDriftVerdict]] (threshold
    * `rebuildDropPct`) to `alarmDir/epoch=<id>` every that-many
    * epochs — the rebuild verdict produced by the maintenance stream
    * itself. */
  def maintainIvf(vecs: DataFrame, dir: String, appId: String,
      checkpoint: String, vacuumEvery: Int = 0, graceVersions: Long = 2L,
      driftEvery: Int = 0, alarmDir: String = "",
      rebuildDropPct: Int = 25, compactEvery: Int = 0,
      compactMinVersions: Int = 2): StreamingQuery =
    start(vecs, checkpoint, ivfSink(dir, appId, vacuumEvery, graceVersions,
      driftEvery, alarmDir, rebuildDropPct, compactEvery, compactMinVersions))

  // ── minhash-index maintenance: the third committed lifecycle on the
  // same rail ([[graft.operators.MinhashIndex]]) — each micro-batch of
  // arriving documents runs one committed ADMISSION tick (gate against
  // the committed corpus, append only the non-duplicates), with the
  // per-doc verdicts landing under `decisionsDir/epoch=<id>` in
  // overwrite mode (idempotent under re-delivery, the alarm-dir
  // discipline) so a downstream router can act on them.

  /** The minhash admission foreachBatch sink body. */
  def minhashSink(dir: String, idCol: String, textCol: String,
      threshold: Double, appId: String, decisionsDir: String,
      vacuumEvery: Int = 0,
      graceVersions: Long = 2L, compactEvery: Int = 0,
      compactMinVersions: Int = 2, driftEvery: Int = 0,
      alarmDir: String = "",
      occupancyGrowPct: Int = 50): (DataFrame, Long) => Unit = {
    require(driftEvery <= 0 || alarmDir.nonEmpty,
      "driftEvery needs an alarmDir — the cadence would write to the filesystem root")
    txnSink(appId) { (batch, txn) =>
      val epoch = txn.get._2
      // verdicts land from INSIDE the tick, before its commit: a crash
      // on either side of the commit re-delivers the epoch and leaves
      // the decisions dir correct (recomputed-and-rewritten before an
      // uncommitted tick; already-written after a committed one, whose
      // retry no-ops through the ledger without touching the dir)
      MinhashIndex.admit(batch.sparkSession, dir, batch, idCol, textCol, threshold,
        txn = txn, onDecisions = d => d.write.mode("overwrite")
          .parquet(s"$decisionsDir/epoch=$epoch"))
      // the ivfSink cadence rationale: compact first, vacuum eats the
      // superseded history; both idempotent under re-delivery
      if (due(compactEvery, epoch))
        MinhashIndex.compact(batch.sparkSession, dir, compactMinVersions)
      if (due(vacuumEvery, epoch))
        MinhashIndex.vacuum(batch.sparkSession, dir, graceVersions)
      // the ivfSink drift cadence, occupancy flavor: the VERDICT row
      // ([[MinhashIndex.occupancyVerdict]] — rebuild_due when mean
      // band occupancy grew > occupancyGrowPct % over the oldest
      // servable reference) lands under alarmDir/epoch=<id>, the
      // idempotent alarm-dir discipline all three families share
      if (due(driftEvery, epoch))
        writeAlarm(MinhashIndex.occupancyVerdict(batch.sparkSession, dir,
          occupancyGrowPct), alarmDir, epoch)
    }
  }

  /** Maintain a committed minhash index from a streaming document
    * frame: one exactly-once admission tick per micro-batch, verdicts
    * under `decisionsDir/epoch=<id>`; `driftEvery` > 0 writes the
    * occupancy drift verdict to `alarmDir/epoch=<id>` every that-many
    * epochs (the ivf maintenance stream's alarm parity). */
  def maintainMinhash(docs: DataFrame, dir: String, idCol: String,
      textCol: String, threshold: Double, appId: String,
      decisionsDir: String, checkpoint: String, vacuumEvery: Int = 0,
      graceVersions: Long = 2L, compactEvery: Int = 0,
      compactMinVersions: Int = 2, driftEvery: Int = 0,
      alarmDir: String = "", occupancyGrowPct: Int = 50): StreamingQuery =
    start(docs, checkpoint, minhashSink(dir, idCol, textCol, threshold, appId,
      decisionsDir, vacuumEvery, graceVersions, compactEvery,
      compactMinVersions, driftEvery, alarmDir, occupancyGrowPct))
}
