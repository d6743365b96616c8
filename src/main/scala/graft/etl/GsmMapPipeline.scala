package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Pcap

/** SS7 GSM-MAP end-to-end (SURVEY §3 `gsm_map.py` shape):
  * pcap → SCTP chunks (PPID 3) → M3UA unwrap → SCCP parse →
  * (optional R6 segmentation reassembly keyed by segmentation ref) →
  * TCAP targeted BER parse → flat ss7map rows (`models.py:30-50`).
  */
/** SCCP regroup key: a segmented message groups per (file, endpoints,
  * segmentation reference) for R6 reassembly; a direct message groups
  * per frame (`ref` = frame number). Top-level so Spark's bean/encoder
  * codegen can construct it. */
final case class SegKey(file: String, srcIp: String, dstIp: String, segmented: Boolean, ref: Long)

/** One TCAP packet with the sigshark transaction-key fields
  * (`sigshark.py` tshark columns CGSSN/CGPA/OTID, CDSSN/CDPA/DTID).
  * `frameNos` (default empty) OVERRIDES `frameNo` when non-empty: a
  * reassembled message contributes its fragment frames instead of its
  * own — the tool's sccp.msg.fragment / sctp.fragment expansion
  * (`sigshark.py:460-466`); the native pipeline reassembles upstream
  * and leaves it empty. */
final case class TcapPkt(
    pcapFilename: String,
    frameNo: Long,
    tsSec: Long,
    tsUsec: Int,
    messType: String,
    otid: Long,
    dtid: Long,
    cgSsn: Int,
    cgGt: String,
    cdSsn: Int,
    cdGt: String,
    frameNos: Seq[Long] = Seq.empty)

object GsmMapPipeline {

  final case class Ss7Row(
      framesList: String,
      timeEpoch: Long,
      usecondsEpoch: Int,
      srcIp: String,
      dstIp: String,
      pcapFilename: String,
      mtp3Opc: Int,
      mtp3Dpc: Int,
      tcapMessType: String,
      tcapTid: Long,
      tcapOtid: Long,
      tcapDtid: Long,
      gsmComponent: Int,
      gsmOpCode: Int,
      gsmErrorCode: Int,
      imsi: String,
      msisdn: String)

  /** Shared SCCP extraction: DLT 141 frames are MTP3 on the wire (no IP
    * layer — `gsm_map.py:15-20`); every other DLT goes through the
    * IP → SCTP → M3UA unwrap. One flatMap, no extra pass over the frames. */
  private[etl] def sccpMessages(spark: SparkSession, path: String)
      : org.apache.spark.sql.Dataset[(SctpChunk, SccpMsg)] = {
    import spark.implicits._
    Pcap.frames(spark, path).flatMap { f =>
      if (f.dlt == 141) {
        GsmMap.mtp3Data(f.data).flatMap { case (opc, dpc, data) =>
          GsmMap.sccpParse(opc, dpc, data).map { m =>
            // MTP3-on-wire carries no IP/SCTP layer; synthesize the chunk
            // envelope so downstream rows keep one shape (ips empty, like
            // the reference's null ip columns on this path).
            (SctpChunk(f.pcapFilename, f.frameNo, f.tsSec, f.tsUsec,
              "", "", 0, 0, 0, -1, -1, GsmMap.PpidM3ua, data), m)
          }
        }.toSeq
      } else {
        Packets.decode(f).toSeq
          .filter(_.ipProto == Packets.ProtoSctp)
          .flatMap(Packets.sctpChunks _)
          .filter(c => c.chunkType == 0 && c.ppid == GsmMap.PpidM3ua && c.payload.nonEmpty)
          .flatMap { c =>
            GsmMap.m3uaData(c.payload).flatMap { case (opc, dpc, _, data) =>
              GsmMap.sccpParse(opc, dpc, data).map(m => (c, m))
            }
          }
      }
    }
  }

  /** One exchange over [[sccpMessages]], so the capture is read once:
    * a direct group emits one row per message, a segmented group
    * reassembles first. */
  def records(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    sccpMessages(spark, path)
      .groupByKey { case (c, m) =>
        m.segmentation match {
          case Some((_, _, ref)) => SegKey(c.pcapFilename, c.srcIp, c.dstIp, segmented = true, ref)
          case None => SegKey(c.pcapFilename, c.srcIp, c.dstIp, segmented = false, c.frameNo)
        }
      }
      .flatMapGroups { (k, it) =>
        if (!k.segmented) it.flatMap { case (c, m) => toRow(c, m, m.data, c.frameNo.toString) }
        else {
          val parts = it.toSeq.sortBy(_._1.frameNo)
          val frames = parts.map(_._1.frameNo).mkString(" ")
          GsmMap.reassembleSegments(parts.map(_._2)).iterator.flatMap { data =>
            val (c, m) = parts.head
            toRow(c, m, data, frames)
          }
        }
      }
      .toDF()
  }

  /** TCAP packets with sigshark key fields — the input to
    * [[Sigshark.tcapTransactions]]. Unsegmented SCCP only: sigshark's
    * tshark front-end likewise sees TCAP fields on whole messages
    * (`sigshark.py:386-403` requires --flatten for multi-chunk packets).
    * For the same reason each TCAP packet carries ONE frame number —
    * the reference's SEGS/FRAGS multi-frame attribution per packet
    * (`sigshark.py:459-466`) doesn't arise in the native-decode design,
    * where SCCP segments are reassembled before the TCAP parse.
    *
    * `excludeCidrs` is sigshark's `--exclude-ip` (`sigshark.py:447-456`):
    * packets whose src OR dst falls in any block never reach the
    * transaction machine. */
  def tcapPackets(spark: SparkSession, path: String,
      excludeCidrs: Seq[String] = Nil): org.apache.spark.sql.Dataset[TcapPkt] = {
    import spark.implicits._
    sccpMessages(spark, path)
      .filter(_._2.segmentation.isEmpty)
      .filter { case (c, _) =>
        excludeCidrs.isEmpty ||
          !(graft.operators.Cidr.inAnySubnetValue(c.srcIp, excludeCidrs)
            || graft.operators.Cidr.inAnySubnetValue(c.dstIp, excludeCidrs))
      }
      .flatMap { case (c, m) =>
        GsmMap.tcapParse(m.data).map { t =>
          TcapPkt(c.pcapFilename, c.frameNo, c.tsSec, c.tsUsec,
            t.messType, t.otid, t.dtid,
            m.calling.ssn, m.calling.gt, m.called.ssn, m.called.gt)
        }
      }
  }

  private def toRow(c: SctpChunk, m: SccpMsg, data: Array[Byte], frames: String): Option[Ss7Row] =
    GsmMap.tcapParse(data).map { t =>
      Ss7Row(frames, c.tsSec, c.tsUsec, c.srcIp, c.dstIp, c.pcapFilename,
        m.opc, m.dpc, t.messType, t.tcapTid, t.otid, t.dtid,
        t.gsmComponent, t.gsmOpCode, t.gsmErrorCode, t.imsi, t.msisdn)
    }
}
