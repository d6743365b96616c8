package graft.etl

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.Stateful
import graft.operators.Stateful.{Assembled, Piece}
import graft.sources.Pcap

/** End-to-end Diameter ingestion (SURVEY §3.1), Spark-shaped:
  *
  * {{{
  * pcap frames → decode L2-L4 → (flow key, piece) per SCTP DATA chunk
  *   and per TCP ACK/PSH+ACK segment (narrow, one scan)
  *   → Exchange(flow key) → reassembly (flatMapGroups)
  *   → Exchange(correlation key) → correlation+enrichment (flatMapGroups)
  * }}}
  *
  * Two shuffles total, both on keys whose cardinality grows with traffic
  * (flows / transactions), never a global ordering step. SCTP and TCP
  * share the one flow exchange, so the capture is read once per call.
  * The per-file frame counter provides in-group order (§7.3 #1).
  */
/** R1/R2 reassembly key: one byte stream per (transport, file,
  * endpoints, a, b, c). SCTP (R1, `diameter.py:52-71`) is (stream id,
  * stream seq, 0); TCP (R2, `diameter.py:74-96`) is (src port, dst
  * port, ack). */
final case class FlowKey(
    transport: Int, file: String, srcIp: String, dstIp: String, a: Long, b: Long, c: Long)

/** J1 correlation key — `diameter.py:30-49`. */
final case class CorrKey(
    file: String, commandCode: Int, hopByHopId: Long, endToEndId: Long, sessionId: String)

object DiameterPipeline {

  def records(spark: SparkSession, path: String): Dataset[DiameterRec] = {
    import spark.implicits._

    val decoded = Pcap.frames(spark, path)
      .flatMap(Packets.decode _)
      .filter(p => p.srcPort == Diameter.Port || p.dstPort == Diameter.Port)
      .flatMap { p =>
        def piece(payload: Array[Byte]) =
          Piece(p.frameNo, p.tsSec, p.tsUsec, p.srcIp, p.dstIp, p.pcapFilename, payload)
        if (p.ipProto == Packets.ProtoSctp)
          // chunk explode (R7) → DATA filter (P8)
          Packets.sctpChunks(p).filter(c => c.chunkType == 0 && c.payload.nonEmpty).map(c =>
            (FlowKey(Packets.ProtoSctp, p.pcapFilename, p.srcIp, p.dstIp,
              c.streamId, c.streamSeq, 0L), piece(c.payload)))
        else if (p.ipProto == Packets.ProtoTcp
            && (p.tcpFlags == 16 || p.tcpFlags == 24) && p.payload.nonEmpty) // P5, P6
          Seq((FlowKey(Packets.ProtoTcp, p.pcapFilename, p.srcIp, p.dstIp,
            p.srcPort, p.dstPort, p.tcpAck), piece(p.payload)))
        else Nil
      }
      .groupByKey(_._1)
      .flatMapGroups((_, it) => Stateful.reassemble(it.map(_._2).toSeq, Diameter.expectedLength))
      .flatMap { a: Assembled =>
        Diameter.decode(a.payload)
          .filter(_.commandCode != Diameter.CmdDeviceWatchdog) // P7
          .map(m => DiameterRec(a.framesList, a.tsSec, a.tsUsec, a.srcIp, a.dstIp,
            a.pcapFilename, m.request, m.commandCode, m.hopByHopId, m.endToEndId,
            m.sessionId, m.originHost, m.originRealm, m.destinationHost,
            m.destinationRealm, m.resultCode, m.expResultCode, m.msisdn, m.imsi))
      }

    // J1: correlation + bidirectional msisdn/imsi fill + residue flush
    decoded
      .groupByKey(r => CorrKey(r.pcapFilename, r.commandCode, r.hopByHopId, r.endToEndId, r.sessionId))
      .flatMapGroups { (_, it) =>
        Stateful.correlate[DiameterRec](
          it.toSeq,
          orderOf = _.framesList.split(" ").head.toLong,
          isRequest = _.request,
          merge = { (req, res) =>
            val msisdn = if (req.msisdn.nonEmpty) req.msisdn else res.msisdn
            val imsi = if (req.imsi.nonEmpty) req.imsi else res.imsi
            (req.copy(msisdn = msisdn, imsi = imsi), res.copy(msisdn = msisdn, imsi = imsi))
          })
      }
  }
}
