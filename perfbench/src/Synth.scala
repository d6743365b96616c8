package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.sources.{Frame, PcapWriter}

/** Wire-format builders for the synthetic captures: Ethernet/IPv4/TCP/
  * UDP/SCTP framing plus the application encodings the ten pipelines
  * decode (Diameter AVPs, M3UA/SCCP/TCAP BER, GTPv1/v2 IEs, SMPP PDUs,
  * SIP and HTTP text). */
object Wire {
  def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  def be24(v: Long): Array[Byte] = Array((v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  def le32(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)

  def cat(parts: Array[Byte]*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    parts.foreach(bos.write)
    bos.toByteArray
  }

  /** Nibble-swapped BCD with an 0xf filler for odd digit counts. */
  def tbcd(digits: String): Array[Byte] =
    digits.grouped(2).map { p =>
      val lo = p(0) - '0'
      val hi = if (p.length > 1) p(1) - '0' else 0xf
      ((hi << 4) | lo).toByte
    }.toArray

  def ether(payload: Array[Byte], ethertype: Int = 0x0800): Array[Byte] =
    cat(Array.fill[Byte](12)(2), be16(ethertype), payload)

  def ipv4(proto: Int, src: Int, dst: Int, payload: Array[Byte],
      ipId: Int = 0, moreFrags: Boolean = false): Array[Byte] =
    cat(Array[Byte](0x45, 0), be16(20 + payload.length), be16(ipId),
      Array[Byte]((if (moreFrags) 0x20 else 0x40).toByte, 0), Array[Byte](64, proto.toByte),
      be16(0), be32(src & 0xffffffffL), be32(dst & 0xffffffffL), payload)

  def tcp(sp: Int, dp: Int, seq: Long, ack: Long, flags: Int, payload: Array[Byte]): Array[Byte] =
    cat(be16(sp), be16(dp), be32(seq), be32(ack), Array[Byte](0x50, flags.toByte),
      be16(65535), be16(0), be16(0), payload)

  def udp(sp: Int, dp: Int, payload: Array[Byte]): Array[Byte] =
    cat(be16(sp), be16(dp), be16(8 + payload.length), be16(0), payload)

  def sctpData(sp: Int, dp: Int, tsn: Long, streamId: Int, streamSeq: Int, ppid: Long,
      payload: Array[Byte]): Array[Byte] = {
    val chunkLen = 16 + payload.length
    cat(be16(sp), be16(dp), be32(0x5eed), be32(0), Array[Byte](0, 3), be16(chunkLen),
      be32(tsn), be16(streamId), be16(streamSeq & 0xffff), be32(ppid), payload,
      Array.fill[Byte]((4 - chunkLen % 4) % 4)(0))
  }

  /** BER TLV, short or long definite length. */
  def ber(tag: Int, value: Array[Byte]): Array[Byte] = {
    val n = value.length
    val len =
      if (n < 128) Array(n.toByte)
      else if (n < 256) Array(0x81.toByte, n.toByte)
      else cat(Array(0x82.toByte), be16(n))
    cat(Array(tag.toByte), len, value)
  }

  def avp(code: Int, value: Array[Byte]): Array[Byte] = {
    val len = 8 + value.length
    cat(be32(code), Array[Byte](0x40), be24(len), value, Array.fill[Byte]((4 - len % 4) % 4)(0))
  }
  def strAvp(code: Int, s: String): Array[Byte] = avp(code, ascii(s))
  def u32Avp(code: Int, v: Long): Array[Byte] = avp(code, be32(v))

  def diameterMsg(request: Boolean, cmd: Int, hbh: Long, e2e: Long, avps: Array[Byte]*): Array[Byte] = {
    val body = cat(avps: _*)
    cat(Array[Byte](1), be24(20 + body.length),
      Array[Byte]((if (request) 0xc0 else 0x40).toByte), be24(cmd),
      be32(4), be32(hbh), be32(e2e), body)
  }

  /** Q.713 party address: route on GT, SSN present, GTI 4. */
  def sccpAddr(ssn: Int, digits: String): Array[Byte] =
    cat(Array[Byte](0x12, ssn.toByte, 0, 0x11, 0x04), tbcd(digits))

  def sccpUdt(called: Array[Byte], calling: Array[Byte], data: Array[Byte]): Array[Byte] =
    cat(Array[Byte](9, 0x81.toByte),
      Array[Byte](3, (3 + called.length).toByte, (3 + called.length + calling.length).toByte),
      Array(called.length.toByte), called, Array(calling.length.toByte), calling,
      Array(data.length.toByte), data)

  /** SCCP XUDT carrying one segment (Q.713 segmentation parameter). */
  def sccpXudt(called: Array[Byte], calling: Array[Byte], data: Array[Byte],
      first: Boolean, remaining: Int, ref: Long): Array[Byte] = {
    val p1 = 4
    val p2 = p1 + called.length
    val p3 = p2 + calling.length
    val p4 = p3 + data.length
    cat(Array[Byte](17, 0x81.toByte, 15, p1.toByte, p2.toByte, p3.toByte, p4.toByte),
      Array(called.length.toByte), called, Array(calling.length.toByte), calling,
      Array(data.length.toByte), data,
      Array[Byte](16, 4, ((if (first) 0x80 else 0) | (remaining & 0x0f)).toByte), be24(ref),
      Array[Byte](0))
  }

  def m3uaTransfer(opc: Long, dpc: Long, sccp: Array[Byte]): Array[Byte] = {
    val pd = cat(be32(opc), be32(dpc), Array[Byte](3, 2, 0, 0), sccp)
    val padded = cat(pd, Array.fill[Byte]((4 - pd.length % 4) % 4)(0))
    val param = cat(be16(0x0210), be16(4 + pd.length), padded)
    cat(Array[Byte](1, 0, 1, 1), be32(8L + param.length), param)
  }
}

/** Expected output rows, one multiset per table. Each row is the
  * projection [[Checks]] compares: its fields rendered as strings
  * (`null` for SQL NULL) and joined with `|`. */
final class Truth {
  val rows: mutable.LinkedHashMap[String, ArrayBuffer[String]] = mutable.LinkedHashMap.empty
  def add(table: String, fields: Any*): Unit =
    rows.getOrElseUpdate(table, ArrayBuffer.empty) += Truth.render(fields)
  var malformed = 0L
  var frames = 0L
}

object Truth {
  def render(fields: Seq[Any]): String = fields.map {
    case null | None => "null"
    case Some(v) => v.toString
    case v => v.toString
  }.mkString("|")
}

/** One capture file under construction: frames in order, numbered
  * 1..N exactly as the whole-file readers number them. */
final class Capture(val name: String) {
  val frames: ArrayBuffer[Array[Byte]] = ArrayBuffer.empty
  var bytes = 0L
  def add(data: Array[Byte]): Long = {
    frames += data
    bytes += 16 + data.length
    frames.size.toLong
  }
  private def ts(i: Int): (Long, Int) = (1700000000L + i / 5000, (i % 5000) * 200)

  def classicBytes: Array[Byte] =
    PcapWriter.toBytes(frames.indices.map { i =>
      val (s, us) = ts(i)
      Frame(name, i + 1L, s, us, 1, frames(i))
    }, dlt = 1)

  /** pcapng: SHB + one Ethernet IDB + one EPB per frame (µs ticks). */
  def ngBytes: Array[Byte] = {
    import Wire._
    val bos = new ByteArrayOutputStream(frames.map(_.length + 36).sum + 64)
    def block(t: Long, body: Array[Byte]): Unit = {
      val len = 12 + body.length
      bos.write(le32(t)); bos.write(le32(len)); bos.write(body); bos.write(le32(len))
    }
    block(0x0a0d0d0aL, cat(le32(0x1a2b3c4dL), le16(1), le16(0), Array.fill[Byte](8)(-1)))
    block(1L, cat(le16(1), le16(0), le32(262144)))
    for (i <- frames.indices) {
      val (s, us) = ts(i)
      val t = s * 1000000L + us
      val d = frames(i)
      block(6L, cat(le32(0), le32(t >>> 32), le32(t & 0xffffffffL), le32(d.length),
        le32(d.length), d, Array.fill[Byte]((4 - d.length % 4) % 4)(0)))
    }
    bos.toByteArray
  }
}

/** Seeded traffic synthesizer. `split` turns on the single-capture
  * shapes: messages cut across SCTP chunks, TCP segments, IP fragments
  * and SCCP XUDT segments, HTTP retransmissions, and long-lived flows.
  * Every message it writes is also written to [[Truth]] as the rows
  * the pipelines must produce for it. */
final class Synth(seed: Long, split: Boolean, truth: Truth) {
  import Wire._

  private val rng = new java.util.SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))
  private def digits(n: Int): String = {
    val sb = new StringBuilder
    for (_ <- 0 until n) sb.append(('0' + rng.nextInt(10)).toChar)
    sb.toString
  }
  private def chance(p: Double): Boolean = rng.nextDouble() < p
  private def ip(family: Int, host: Int): Int = (10 << 24) | (family << 16) | (host & 0xffff)

  // ids unique across the whole input, so no correlation key collides
  private var uid = 1L
  private def next(): Long = { uid += 1; uid }

  /** Cut `b` into 2-3 pieces (only in split mode and only when long
    * enough to leave every piece >= 24 bytes). */
  private def pieces(b: Array[Byte], p: Double): Seq[Array[Byte]] =
    if (!split || b.length < 96 || !chance(p)) Seq(b)
    else {
      val k = 2 + rng.nextInt(2)
      val cuts = (1 until k).map(i => i * b.length / k + rng.nextInt(8)).sorted
      ((0 +: cuts) zip (cuts :+ b.length)).map { case (a, e) => java.util.Arrays.copyOfRange(b, a, e) }
    }

  /** A TCP connection with running sequence numbers per direction. */
  private final class Conn(val c: Int, val s: Int, val cp: Int, val sp: Int) {
    var cSeq: Long = rng.nextInt(1 << 30).toLong
    var sSeq: Long = rng.nextInt(1 << 30).toLong
    var uses = 0
    def send(cap: Capture, fromClient: Boolean, data: Array[Byte], p: Double,
        retransmit: Boolean = false): Seq[Long] = {
      val out = ArrayBuffer.empty[Long]
      for ((piece, i) <- pieces(data, p).zipWithIndex) {
        val seg =
          if (fromClient) ether(ipv4(6, c, s, tcp(cp, sp, cSeq, sSeq, 24, piece)))
          else ether(ipv4(6, s, c, tcp(sp, cp, sSeq, cSeq, 24, piece)))
        out += cap.add(seg)
        if (retransmit && i == 0) cap.add(seg) // same (seq, ack): dropped downstream
        if (fromClient) cSeq += piece.length else sSeq += piece.length
      }
      out.toSeq
    }
  }

  private val conns = mutable.Map.empty[String, ArrayBuffer[Conn]]
  /** A connection from the protocol's pool: long-lived in split mode
    * (a few hot flows), short-lived otherwise. */
  private def conn(proto: String, family: Int, sp: Int): Conn = {
    val pool = conns.getOrElseUpdate(proto, ArrayBuffer.empty)
    val size = if (split) 3 else 48
    val maxUses = if (split) Int.MaxValue else 6
    if (pool.size < size) pool += new Conn(ip(family, 1 + rng.nextInt(200)),
      ip(family, 1000 + rng.nextInt(4)), 20000 + rng.nextInt(40000), sp)
    val i = rng.nextInt(pool.size)
    val cn = pool(i)
    cn.uses += 1
    if (cn.uses >= maxUses) pool.remove(i)
    cn
  }

  private def frameList(fs: Seq[Long]): String = fs.mkString(" ")

  // ---- Diameter over SCTP (60%) and TCP (40%) ----
  private var tsn = 1L
  private def diameter(cap: Capture): Unit = {
    val cmd = pick(Vector(272, 316, 318))
    val watchdog = chance(0.02)
    val code = if (watchdog) 280 else cmd
    val hbh = next() & 0xffffffffL
    val e2e = (hbh * 7919 + 13) & 0xffffffffL
    val sid = s"pgw.bench;${next()};${digits(6)}"
    val msisdn = "52155" + digits(8)
    val imsi = "33402" + digits(10)
    val answered = watchdog || !chance(0.03)
    val pad = avp(1000 + rng.nextInt(50), Array.fill[Byte](40 + rng.nextInt(360))('x'.toByte))
    val req = diameterMsg(request = true, code, hbh, e2e, strAvp(263, sid),
      strAvp(264, "pgw.bench.epc"), strAvp(296, "bench.epc"),
      avp(443, cat(u32Avp(450, 0), strAvp(444, msisdn))), pad)
    val ans = diameterMsg(request = false, code, hbh, e2e, strAvp(263, sid),
      u32Avp(268, 2001), strAvp(1, s"$imsi@nai.bench.epc"))
    val (reqFrames, ansFrames) =
      if (chance(0.6)) {
        val c = ip(1, 1 + rng.nextInt(32)); val s = ip(1, 1000 + rng.nextInt(2))
        val sid0 = rng.nextInt(16)
        def send(src: Int, dst: Int, m: Array[Byte]): Seq[Long] = {
          val seq = next().toInt
          pieces(m, 0.5).map { p =>
            tsn += 1
            cap.add(ether(ipv4(132, src, dst, sctpData(3868, 3868, tsn, sid0, seq, 46, p))))
          }
        }
        (send(c, s, req), if (answered) send(s, c, ans) else Nil)
      } else {
        val cn = conn("diameter", 2, 3868)
        // each message carries its own ack, as the flow key expects
        cn.sSeq += 1 + rng.nextInt(1000)
        val rf = cn.send(cap, fromClient = true, req, 0.5)
        cn.cSeq += 1
        (rf, if (answered) cn.send(cap, fromClient = false, ans, 0.5) else Nil)
      }
    if (!watchdog) {
      val fillImsi = if (answered) imsi else ""
      truth.add("diameter", true, code, hbh, e2e, sid, msisdn, fillImsi, frameList(reqFrames))
      if (answered) {
        truth.add("diameter", false, code, hbh, e2e, sid, msisdn, imsi, frameList(ansFrames))
        truth.add("sigshark_diameter", s"$code|$hbh|$e2e|$sid", frameList(reqFrames ++ ansFrames))
      }
    }
  }

  // ---- GSM-MAP: TCAP over SCCP over M3UA over SCTP ----
  private def gsmMap(cap: Capture): Unit = {
    val c = ip(3, 1 + rng.nextInt(16)); val s = ip(3, 1000 + rng.nextInt(2))
    val msc = "5255" + digits(8); val hlr = "5255" + digits(8)
    val otid = next() & 0x7fffffffL
    val invokeId = 1 + rng.nextInt(100)
    val op = pick(Vector(2, 45, 46, 56))
    val segmented = split && chance(0.2)
    val filler = if (segmented) ber(0x04, Array.fill[Byte](200 + rng.nextInt(200))(0x5a)) else Array.emptyByteArray
    val param = ber(0x30, cat(ber(0x04, tbcd("33402" + digits(10))), filler))
    val begin = ber(0x62, cat(ber(0x48, be32(otid)),
      ber(0x6c, ber(0xa1, cat(ber(0x02, Array(invokeId.toByte)), ber(0x02, Array(op.toByte)), param)))))
    val end = ber(0x64, cat(ber(0x49, be32(otid)),
      ber(0x6c, ber(0xa2, cat(ber(0x02, Array(invokeId.toByte)),
        ber(0x30, cat(ber(0x02, Array(op.toByte)), ber(0x04, tbcd("52" + digits(10))))))))))
    def send(src: Int, dst: Int, opc: Long, dpc: Long, sccp: Array[Byte]): Long = {
      tsn += 1
      cap.add(ether(ipv4(132, src, dst, sctpData(2905, 2905, tsn, 1, next().toInt, 3,
        m3uaTransfer(opc, dpc, sccp)))))
    }
    val calledHlr = sccpAddr(6, hlr); val callingMsc = sccpAddr(8, msc)
    val beginFrames =
      if (!segmented) Seq(send(c, s, 101, 202, sccpUdt(calledHlr, callingMsc, begin)))
      else {
        val ref = next() & 0xffffff
        val segs = begin.grouped(180).toSeq
        segs.zipWithIndex.map { case (seg, i) =>
          send(c, s, 101, 202, sccpXudt(calledHlr, callingMsc, seg, i == 0, segs.length - 1 - i, ref))
        }
      }
    val endFrame = send(s, c, 202, 101, sccpUdt(callingMsc, calledHlr, end))
    truth.add("gsm_map", "begin", otid, otid, -1, 1, frameList(beginFrames))
    truth.add("gsm_map", "end", otid, -1, otid, 2, endFrame)
    if (!segmented) truth.add("sigshark_tcap", frameList(beginFrames :+ endFrame))
  }

  // ---- SIP over UDP, with IP fragmentation in split mode ----
  private var ipId = 1
  private def sip(cap: Capture): Unit = {
    val c = ip(4, 1 + rng.nextInt(64)); val s = ip(4, 1000 + rng.nextInt(2))
    val callId = s"${digits(12)}@bench.sip"
    val from = digits(10); val to = digits(10)
    val sess = digits(9); val ver = (1 + rng.nextInt(9)).toString
    def msg(first: String, sdp: Boolean): String = {
      val head = Seq(first, s"Via: SIP/2.0/UDP 10.4.0.1:5060;branch=z9hG4bK${digits(8)}",
        s"From: <sip:$from@bench.sip>;tag=${digits(6)}", s"To: <tel:+$to>",
        s"Call-ID: $callId", "CSeq: 1 INVITE", "Max-Forwards: 70")
      val body =
        if (!sdp) Seq.empty[String]
        else Seq("", "v=0", s"o=bench $sess $ver IN IP4 10.4.0.1", "s=-", "c=IN IP4 10.4.0.1",
          "t=0 0", "m=audio 4000 RTP/AVP 0 8 18") ++
          (0 until 4 + rng.nextInt(12)).map(i => s"a=rtpmap:$i PCMU/8000/${digits(4)}")
      (head ++ body).mkString("\r\n") + "\r\n"
    }
    def send(src: Int, dst: Int, text: String): Seq[Long] = {
      ipId = (ipId + 1) & 0xffff
      val b = ascii(text)
      if (split && b.length > 400 && chance(0.5)) {
        // the second fragment has no UDP header: its first eight bytes
        // land where the decoder looks for one, so they are filler
        val cut = b.length / 2
        val f1 = cap.add(ether(ipv4(17, src, dst, udp(5060, 5060, java.util.Arrays.copyOfRange(b, 0, cut)),
          ipId, moreFrags = true)))
        val f2 = cap.add(ether(ipv4(17, src, dst,
          cat(ascii("a=frag:1"), java.util.Arrays.copyOfRange(b, cut, b.length)), ipId)))
        Seq(f1, f2)
      } else Seq(cap.add(ether(ipv4(17, src, dst, udp(5060, 5060, b), ipId))))
    }
    val flow = Seq(
      (true, s"INVITE sip:$to@bench.sip SIP/2.0", true, "INVITE", None),
      (false, "SIP/2.0 200 OK", true, "", Some(200)),
      (true, s"ACK sip:$to@bench.sip SIP/2.0", false, "ACK", None),
      (true, s"BYE sip:$to@bench.sip SIP/2.0", false, "BYE", None),
      (false, "SIP/2.0 200 OK", false, "", Some(200)))
    for ((fromClient, first, sdp, method, status) <- flow) {
      val text = msg(first, sdp)
      if (fromClient) send(c, s, text) else send(s, c, text)
      truth.add("sip", method, status, callId, from, to, if (sdp) sess else "")
    }
  }

  // ---- SMPP over TCP ----
  private def smpp(cap: Capture): Unit = {
    val cn = conn("smpp", 5, 2775)
    val seq = next() & 0x7fffffffL
    val src = digits(10); val dst = digits(10)
    val (cmd, name, respName) =
      if (chance(0.5)) (4L, "submit_sm", "submit_sm_resp") else (5L, "deliver_sm", "deliver_sm_resp")
    val text = ascii("x" * (20 + rng.nextInt(140)))
    val body = cat(ascii("CMT"), Array[Byte](0, 1, 1), ascii(src), Array[Byte](0, 1, 1),
      ascii(dst), Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 0, 0, text.length.toByte), text)
    def pdu(id: Long, b: Array[Byte]) = cat(be32(16L + b.length), be32(id), be32(0), be32(seq), b)
    cn.send(cap, fromClient = true, pdu(cmd, body), 0.4)
    cn.send(cap, fromClient = false, pdu(cmd | 0x80000000L, ascii("msg" + seq) :+ 0.toByte), 0.0)
    truth.add("smpp", name, seq, src, dst)
    truth.add("smpp", respName, seq, src, dst)
  }

  // ---- GTPv1-C / GTPv2-C over UDP ----
  private var gtpSeq = 0L
  private def gtp(cap: Capture): Unit = {
    val c = ip(6, 1 + rng.nextInt(32)); val s = ip(6, 1000 + rng.nextInt(2))
    val imsi = "33402" + digits(10); val msisdn = "52155" + digits(8)
    gtpSeq += 1
    val v1 = gtpSeq < 65000 && chance(0.3)
    val teid = next() & 0xffffffffL
    val (req, resp, reqName, respName, ver) =
      if (v1) {
        def v1msg(t: Int, ies: Array[Byte]) =
          cat(Array[Byte](0x32, t.toByte), be16(4 + ies.length), be32(teid), be16(gtpSeq.toInt), Array[Byte](0, 0), ies)
        (v1msg(16, cat(Array[Byte](2), tbcd(imsi), Array[Byte](0x86.toByte), be16(1 + tbcd(msisdn).length),
          Array[Byte](0x91.toByte), tbcd(msisdn))),
          v1msg(17, Array[Byte](1, 128.toByte)), "Create PDP Context Request", "Create PDP Context Response", "v1")
      } else {
        def ie(t: Int, v: Array[Byte]) = cat(Array(t.toByte), be16(v.length), Array[Byte](0), v)
        def v2msg(t: Int, ies: Array[Byte]) =
          cat(Array[Byte](0x48, t.toByte), be16(8 + ies.length), be32(teid), be24(gtpSeq), Array[Byte](0), ies)
        (v2msg(32, cat(ie(1, tbcd(imsi)), ie(76, tbcd(msisdn)), ie(82, Array[Byte](6)))),
          v2msg(33, ie(2, Array[Byte](16, 0))), "Create Session Request", "Create Session Response", "v2")
      }
    cap.add(ether(ipv4(17, c, s, udp(2123, 2123, req), next().toInt & 0xffff)))
    cap.add(ether(ipv4(17, s, c, udp(2123, 2123, resp), next().toInt & 0xffff)))
    truth.add("gtp", ver, reqName, gtpSeq, imsi, msisdn)
    truth.add("gtp", ver, respName, gtpSeq, imsi, msisdn)
  }

  // ---- HTTP carrying SMPP / CAMEL / DIAMETER / SS7 / OCS XML ----
  private def http(cap: Capture): Unit = {
    val cn = conn("http", 7, 8080)
    val msisdn = "52155" + digits(8); val imsi = "33402" + digits(10)
    val kind = rng.nextInt(5)
    // (xml, ss7 type, ss7 msisdn_orig, ss7 imsi, ocs type, ocs msisdn)
    val (xml, ss7Type, ss7Msisdn, ss7Imsi, ocsType, ocsMsisdn): (String, String, String, String, String, String) =
      kind match {
        case 0 => pick(Vector("sriForSm", "smsmo", "alertSC")) match {
          case "sriForSm" => (s"""<sriForSm><msisdn ton="1">$msisdn</msisdn><imsi>$imsi</imsi><sccpCdAdr ssn="6">5255${digits(8)}</sccpCdAdr></sriForSm>""",
            "sriForSm", msisdn, imsi, null, null)
          case "smsmo" => (s"""<smsmo><orig ton="1">$msisdn</orig><dest ton="1">${digits(10)}</dest><imsi>$imsi</imsi><sessionId>${digits(8)}</sessionId></smsmo>""",
            "smsmo", msisdn, imsi, null, null)
          case _ => (s"""<alertSC><msisdn ton="1">$msisdn</msisdn></alertSC>""", "alertSC", msisdn, null, null, null)
        }
        case 1 =>
          val t = pick(Vector("mo-acr-request", "mo-idp-request", "shadow-number-request"))
          (s"""<$t id="${rng.nextInt(10000)}"><msisdn>$msisdn</msisdn><cdpa>${digits(10)}</cdpa><periodduration>60</periodduration><callactive>true</callactive></$t>""",
            null, null, null, t, msisdn)
        case 2 => (s"""<submitSm><source>$msisdn</source><text>${"y" * (10 + rng.nextInt(100))}</text></submitSm>""", null, null, null, null, null)
        case 3 => (s"""<camelIdp><serviceKey>100</serviceKey><callingParty>$msisdn</callingParty></camelIdp>""", null, null, null, null, null)
        case _ => (s"""<diameterCcr><sessionId>ocs;${digits(9)}</sessionId><msisdn>$msisdn</msisdn></diameterCcr>""", null, null, null, null, null)
      }
    val body = xml + "\n" + "<!-- " + ("p" * rng.nextInt(300)) + " -->"
    val req = s"POST /api/${pick(Vector("ss7", "ocs", "smpp", "camel", "diameter"))} HTTP/1.1\r\n" +
      s"Host: 10.7.0.1:8080\r\nContent-Type: text/xml\r\nContent-Length: ${body.length}\r\n\r\n$body"
    val res = "HTTP/1.1 200 OK\r\nServer: bench\r\n\r\n"
    val reqSeq = cn.cSeq; val reqAck = cn.sSeq
    cn.send(cap, fromClient = true, ascii(req), 0.5, retransmit = split && chance(0.1))
    val resSeq = cn.sSeq; val resAck = cn.cSeq
    cn.send(cap, fromClient = false, ascii(res), 0.0)
    truth.add("http", true, None, Some(body.length), "content", reqSeq, reqAck)
    truth.add("http", false, Some(200), None, "noContent", resSeq, resAck)
    truth.add("http_ss7", true, ss7Type, "linked", ss7Msisdn, ss7Imsi, reqSeq)
    truth.add("http_ss7", false, "noContent", "linked", ss7Msisdn, ss7Imsi, resSeq)
    if (ocsType != null) truth.add("http_ocs", true, ocsType, "linked", ocsMsisdn, reqSeq)
    truth.add("http_ocs", false, "noContent", if (ocsType != null) "linked" else "unlinked", ocsMsisdn, resSeq)
  }

  /** A frame no decoder accepts: IPv4 ethertype, truncated header. */
  private def malformed(cap: Capture): Unit = {
    cap.add(ether(Array.fill[Byte](4 + rng.nextInt(12))(0x45)))
    truth.malformed += 1
  }

  /** Fill `cap` with a protocol mix until it holds `targetBytes`. */
  def fill(cap: Capture, targetBytes: Long): Unit =
    while (cap.bytes < targetBytes) {
      val r = rng.nextInt(1000)
      if (r < 5) malformed(cap)
      else if (r < 300) diameter(cap)
      else if (r < 440) gsmMap(cap)
      else if (r < 560) sip(cap)
      else if (r < 700) smpp(cap)
      else if (r < 840) gtp(cap)
      else http(cap)
    }

  /** tshark-style `-T json` CAMEL export: `n` records. */
  def camelJson(n: Int, pcapName: String): String = {
    val ops = graft.etl.Camel.OpNames.keys.toVector.sorted
    (1 to n).map { i =>
      val local = pick(ops)
      val otid = next() & 0x7fffffffL
      val dtid = next() & 0x7fffffffL
      val sec = 1700000000L + i / 100
      val usec = f"${(i % 100) * 10000 + rng.nextInt(9999)}%06d"
      truth.add("camel", i, sec, usec.toInt, local, graft.etl.Camel.OpNames(local),
        if (local == 0) otid else dtid)
      s"""{"_index":"packets","_source":{"layers":{"frame.number":["$i"],"frame.time_epoch":["$sec.$usec"],""" +
        s""""ip.src":["10.8.0.${1 + i % 200}"],"ip.dst":["10.8.1.1"],"tcap.otid":["${f"0x$otid%08x"}"],""" +
        s""""tcap.dtid":["${f"$dtid%08x".grouped(2).mkString(":")}"],"camel.local":["$local"]}}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** A synthesized ingest input on disk plus its expected rows. */
final case class IngestInput(dir: Path, captureGlob: String, camelPath: String,
    camelPcapName: String, bytes: Long, files: Int, truth: Truth, sha256: String)

object Synth {

  /** Write the ingest input for `seed` under `root`: `files` classic
    * pcaps, or (files == 1, pcapng) one split-shaped capture. */
  def ingest(root: Path, seed: Long, totalBytes: Long, files: Int, pcapng: Boolean): IngestInput = {
    val truth = new Truth
    val synth = new Synth(seed, split = pcapng, truth)
    val dir = Files.createDirectories(root.resolve("captures"))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var total = 0L
    for (i <- 0 until files) {
      val name = f"cap_$i%03d.${if (pcapng) "pcapng" else "pcap"}"
      val cap = new Capture(name)
      synth.fill(cap, totalBytes / files)
      truth.frames += cap.frames.size
      val bytes = if (pcapng) cap.ngBytes else cap.classicBytes
      md.update(bytes)
      total += bytes.length
      Files.write(dir.resolve(name), bytes)
    }
    val camelName = "camel_000.pcap"
    val json = synth.camelJson(2000, camelName)
    md.update(Wire.ascii(json))
    val camelPath = root.resolve("camel.json")
    Files.write(camelPath, Wire.ascii(json))
    IngestInput(dir, dir.toString + "/*", camelPath.toString, camelName, total, files, truth,
      md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
