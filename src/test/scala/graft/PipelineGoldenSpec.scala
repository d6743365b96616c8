package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestBytes._
import graft.etl.{DiameterPipeline, GsmMapPipeline, Http, HttpOcs, HttpSs7, Sigshark}

/** One fixed capture exercising every shape the multi-branch
  * pipelines correlate:
  *
  *   - Diameter over SCTP (a request split over two DATA chunks of one
  *     stream sequence) and over TCP (a request split over two segments
  *     of one ack), an unanswered request, a watchdog;
  *   - GSM-MAP direct SCCP UDT and an XUDT message segmented in two;
  *   - HTTP with SS7 and OCS XML bodies: matched pairs, a request with
  *     no partner, a response with no partner, two requests on one slot
  *     (D4), a retransmitted segment (D2), and a segment carrying the
  *     tail of one request plus the whole next one.
  */
object GoldenCapture {

  private def ip(net: Int, host: Int): Array[Byte] = Array[Byte](10, net.toByte, 0, host.toByte)

  private def be24(v: Long): Array[Byte] = Array((v >> 16).toByte, (v >> 8).toByte, v.toByte)

  /** Nibble-swapped BCD digits, odd length padded with 0xf. */
  private def tbcd(d: String): Array[Byte] =
    d.grouped(2).map { p =>
      val lo = p(0) - '0'
      val hi = if (p.length > 1) p(1) - '0' else 0xf
      ((hi << 4) | lo).toByte
    }.toArray

  /** SCCP XUDT carrying one segment (Q.713 segmentation parameter). */
  private def sccpXudt(called: Array[Byte], calling: Array[Byte], data: Array[Byte],
      first: Boolean, remaining: Int, ref: Long): Array[Byte] = {
    val p2 = 4 + called.length
    val p3 = p2 + calling.length
    val p4 = p3 + data.length
    cat(Array[Byte](17, 0x81.toByte, 15, 4, p2.toByte, p3.toByte, p4.toByte),
      Array(called.length.toByte), called, Array(calling.length.toByte), calling,
      Array(data.length.toByte), data,
      Array[Byte](16, 4, ((if (first) 0x80 else 0) | (remaining & 0x0f)).toByte), be24(ref),
      Array[Byte](0))
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(UTF_8)

  val bytes: Array[Byte] = {
    val frames = ArrayBuffer.empty[Array[Byte]]
    def add(f: Array[Byte]): Unit = frames += ether(f)

    // ── Diameter ──
    val dc = ip(1, 1); val ds = ip(1, 2)
    def subId(msisdn: String) = avp(443, cat(u32Avp(450, 0), strAvp(444, msisdn)))
    def sctp(src: Array[Byte], dst: Array[Byte], sid: Int, seq: Int, b: Array[Byte]) =
      add(ipv4(132, src, dst, sctpData(3868, 3868, sid, seq, 46, b)))
    def tcpD(src: Array[Byte], dst: Array[Byte], sp: Int, dp: Int, seq: Long, ack: Long,
        b: Array[Byte]) = add(ipv4(6, src, dst, tcp(sp, dp, seq, ack, 24, b)))
    val ccr = diameterMsg(request = true, 272, 1, 11, strAvp(263, "pgw;1"),
      strAvp(264, "pgw.golden"), strAvp(296, "golden"), subId("5215500000001"))
    val cca = diameterMsg(request = false, 272, 1, 11, strAvp(263, "pgw;1"),
      u32Avp(268, 2001), strAvp(1, "334020000000001@nai.golden"))
    sctp(dc, ds, 1, 5, ccr.take(30))
    sctp(dc, ds, 1, 5, ccr.drop(30))
    sctp(ds, dc, 1, 6, cca)
    val ulr = diameterMsg(request = true, 316, 2, 22, strAvp(263, "mme;2"),
      strAvp(264, "mme.golden"), strAvp(1, "334020000000002@nai.golden"))
    val ula = diameterMsg(request = false, 316, 2, 22, strAvp(263, "mme;2"),
      u32Avp(268, 2001), subId("5215500000002"))
    tcpD(dc, ds, 50000, 3868, 100, 900, ulr.take(25))
    tcpD(dc, ds, 50000, 3868, 125, 900, ulr.drop(25))
    tcpD(ds, dc, 3868, 50000, 900, 100 + ulr.length, ula)
    // unanswered request, then a watchdog (P7 drops it)
    tcpD(dc, ds, 50000, 3868, 100 + ulr.length, 900 + ula.length,
      diameterMsg(request = true, 318, 3, 33, strAvp(263, "mme;3"), subId("5215500000003")))
    tcpD(ds, dc, 3868, 50000, 900 + ula.length, 7000,
      diameterMsg(request = true, 280, 4, 44))

    // ── GSM-MAP over M3UA/SCTP ──
    val mc = ip(3, 1); val ms = ip(3, 2)
    val hlr = sccpAddrGt(6, tbcd("525500001111")); val msc = sccpAddrGt(8, tbcd("525500002222"))
    def m3(src: Array[Byte], dst: Array[Byte], opc: Long, dpc: Long, seq: Int, sccp: Array[Byte]) =
      add(ipv4(132, src, dst, sctpData(2905, 2905, 1, seq, 3, m3uaTransfer(opc, dpc, sccp))))
    def begin(otid: Long, op: Int, imsi: String, filler: Int) = ber(0x62, cat(ber(0x48, be32(otid)),
      ber(0x6c, ber(0xa1, cat(ber(0x02, Array[Byte](1)), ber(0x02, Array(op.toByte)),
        ber(0x30, cat(ber(0x04, tbcd(imsi)),
          if (filler > 0) ber(0x04, Array.fill[Byte](filler)(0x5a)) else Array.emptyByteArray)))))))
    def end(dtid: Long, op: Int, msisdn: String) = ber(0x64, cat(ber(0x49, be32(dtid)),
      ber(0x6c, ber(0xa2, cat(ber(0x02, Array[Byte](1)),
        ber(0x30, cat(ber(0x02, Array(op.toByte)), ber(0x04, tbcd(msisdn)))))))))
    m3(mc, ms, 101, 202, 1, sccpUdt(hlr, msc, begin(0x1001, 2, "334021234567890", 0)))
    m3(ms, mc, 202, 101, 2, sccpUdt(msc, hlr, end(0x1001, 2, "5212345678")))
    val segmented = begin(0x2002, 45, "334029876543210", 40)
    m3(mc, ms, 101, 202, 3, sccpXudt(hlr, msc, segmented.take(40), first = true, 1, 0x777))
    m3(mc, ms, 101, 202, 4, sccpXudt(hlr, msc, segmented.drop(40), first = false, 0, 0x777))
    m3(ms, mc, 202, 101, 5, sccpUdt(msc, hlr, end(0x2002, 45, "5298765432")))

    // ── HTTP: SS7 bodies on client port 40001, OCS bodies on 40002 ──
    val hc = ip(7, 1); val hs = ip(7, 2)
    def up(sp: Int, seq: Long, ack: Long, s: String) =
      add(ipv4(6, hc, hs, tcp(sp, 8080, seq, ack, 24, ascii(s))))
    def down(dp: Int, seq: Long, ack: Long, s: String) =
      add(ipv4(6, hs, hc, tcp(8080, dp, seq, ack, 24, ascii(s))))
    def post(path: String, body: String) =
      s"POST /$path HTTP/1.1\r\nContent-Type: text/xml\r\nContent-Length: ${body.length}\r\n\r\n$body"
    def ok(body: String) =
      s"HTTP/1.1 200 OK\r\nContent-Type: text/xml\r\nContent-Length: ${body.length}\r\n\r\n$body"

    // pair 1: a request split over two segments (the second retransmitted)
    val req1 = post("ss7", """<smsmo><orig a="1">5215511110001</orig><dest a="1">5599</dest>""" +
      """<imsi>334021111000001</imsi><sessionId>s1</sessionId></smsmo>""")
    up(40001, 1000, 5000, req1.take(60))
    up(40001, 1060, 5000, req1.drop(60))
    up(40001, 1060, 5000, req1.drop(60))
    down(40001, 5000, 1000 + req1.length, ok("<error><text>ok</text></error>"))
    // D4: two requests on slot 6000; the response fills the request's imsi
    val req2 = post("ss7", """<sriForSm><msisdn a="1">5215511110002</msisdn></sriForSm>""")
    val req3 = post("ss7", """<alertSC><msisdn a="1">5215511110003</msisdn></alertSC>""")
    up(40001, 2000, 6000, req2)
    up(40001, 2000 + req2.length, 6000, req3)
    down(40001, 6000, 2000 + req2.length + req3.length,
      ok("""<sms><orig a="1">5215511110002</orig><imsi>334021111000002</imsi></sms>"""))
    // one segment carrying req4's tail and all of req5 (slot 7100, no partner)
    val req4 = post("ss7", """<alertSC><msisdn a="1">5215511110004</msisdn></alertSC>""")
    val req5 = post("ss7", """<smsmo><orig a="1">5215511110005</orig></smsmo>""")
    up(40001, 3000, 7000, req4.take(50))
    up(40001, 3050, 7100, req4.drop(50) + req5)
    down(40001, 7000, 3000 + req4.length, "HTTP/1.1 204 No Content\r\n\r\n")
    // a response nobody asked for
    down(40001, 9000, 3999, ok("<error><text>late</text></error>"))

    // OCS: a matched pair filling in both directions, a non-whitelisted
    // request, an unmatched response
    val acr = post("ocs", """<mo-acr-request id="7"><msisdn>5215522220001</msisdn>""" +
      """<called>5512</called><cdpa>77</cdpa><periodduration>60</periodduration>""" +
      """<callactive>true</callactive></mo-acr-request>""")
    up(40002, 100, 800, acr)
    down(40002, 800, 100 + acr.length, ok("""<mo-acr-response id="7"><calling>5599</calling>""" +
      """<phone>5511</phone><imsi>334022222000001</imsi><status>ok</status>""" +
      """<status_code>0</status_code></mo-acr-response>"""))
    up(40002, 100 + acr.length, 850, post("ocs", "<submitSm><source>5215522220002</source></submitSm>"))
    down(40002, 990, 1, ok("""<shadow-number-response id="9"><phone>5215522220003</phone>""" +
      """</shadow-number-response>"""))

    pcapFile(frames.toSeq.zipWithIndex.map { case (f, i) =>
      (1700000000L + i / 4, (i % 4) * 250000, f)
    })
  }

  /** Writes the capture into a fresh temp dir; returns the dir. */
  def write(): String = {
    val dir = Files.createTempDirectory("golden-capture")
    Files.write(dir.resolve("golden.pcap"), bytes)
    dir.toString
  }
}

/** Every column of the multi-branch pipelines' outputs on
  * [[GoldenCapture]], ids included, against literals captured from the
  * committed behaviour: row count plus an order-independent digest
  * (SHA-256 over the schema and the sorted rendered rows). A plan
  * rewrite of the correlation steps must leave these unchanged. */
class PipelineGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private lazy val dir = GoldenCapture.write()
  private lazy val path = dir + "/*.pcap"

  /** One cell as text; the temp dir in `pcapFilename` reads as `<dir>`. */
  private def render(v: Any): String = v match {
    case null => "null"
    case s: String => s.replace(dir, "<dir>")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(render).mkString("|")).sorted.toSeq

  private def digest(df: DataFrame): (Long, String) = {
    val rows = rendered(df)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").getBytes(UTF_8))
    rows.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }

  private def check(name: String, df: => DataFrame, rows: Long, hash: String): Unit =
    test(s"$name: every column equals the committed output") {
      val got = digest(df)
      assert(got == ((rows, hash)),
        s"$name drifted: got (${got._1}L, \"${got._2}\")\n" + rendered(df).mkString("\n"))
    }

  test("pairAndEnrich: a null file or slot never pairs; D4 keeps the first; sideless rows drop") {
    import spark.implicits._
    val msgs = Seq(
      ("f", "a", 1, "b", 80, Some(10L), None, Some(true), 1L, "1"),
      ("f", "a", 1, "b", 80, Some(11L), None, Some(true), 2L, "2"),
      ("f", "b", 80, "a", 1, None, Some(99L), Some(false), 3L, "3"),
      (null, "a", 1, "b", 80, Some(20L), Some(7L), Some(true), 4L, "4"),
      (null, "b", 80, "a", 1, Some(7L), Some(21L), Some(false), 5L, "5"),
      ("f", "a", 1, "b", 80, Some(30L), Some(8L), Some(true), 6L, "6"),
      ("f", "b", 80, "a", 1, Some(8L), Some(31L), Some(false), 7L, "7"),
      // neither side: dropped
      ("f", "a", 1, "b", 80, Some(40L), Some(9L), None, 8L, "8"))
      .toDF("pcapFilename", "srcIp", "srcPort", "dstIp", "dstPort",
        "tcpSequence", "tcpAcknowledge", "httpIsRequest", "firstFrame", "framesList")
    val got = HttpSs7.pairAndEnrich(msgs, Nil)
      .select("q_frame", "r_frame", "link_state").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2))).toSet
    assert(got == Set((Some(1L), None, "unlinked"), (None, Some(3L), "unlinked"),
      (Some(4L), None, "unlinked"), (None, Some(5L), "unlinked"),
      (Some(6L), Some(7L), "linked")))
  }

  test("link: a request missing a key column links to nothing; sideless rows drop") {
    import spark.implicits._
    val msgs = Seq(
      ("f", null, 1, "b", 80, 1L, 1L, Some(true)),
      ("f", "b", 80, null, 1, 2L, 2L, Some(false)),
      ("f", "a", 1, "b", 80, 3L, 3L, Some(true)),
      ("f", "b", 80, "a", 1, 4L, 4L, Some(false)),
      // neither side: takes an id, then is dropped
      ("f", "b", 80, "a", 1, 5L, 5L, None))
      .toDF("pcapFilename", "srcIp", "srcPort", "dstIp", "dstPort",
        "firstFrame", "tcpSequence", "httpIsRequest")
    val got = Http.link(msgs).select("firstFrame", "id", "http_response_in").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(got == Set((1L, 1L, None), (2L, 2L, None), (3L, 3L, Some(4L)), (4L, 4L, None)))
  }

  check("diameter", DiameterPipeline.records(spark, path).toDF(), 5L, "090ed0db3617a55d")
  check("gsm_map", GsmMapPipeline.records(spark, path), 4L, "955fcd770f46085b")
  check("http", Http.records(spark, path), 13L, "d5c2f286bfdae585")
  check("http_ss7", HttpSs7.records(spark, path), 12L, "6dc90015f1431536")
  check("http_ocs", HttpOcs.records(spark, path), 4L, "fc60b1306661266f")
  check("sigshark_diameter", Sigshark.diameterTransactions(spark, path).toDF(),
    2L, "0a285bd3ef9210e7")
  check("sigshark_diameter keepPartial",
    Sigshark.diameterTransactions(spark, path, keepPartial = true).toDF(), 3L, "a604c5a459708f5f")
}
