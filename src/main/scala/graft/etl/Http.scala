package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Stateful.Piece
import graft.sources.Pcap

/** HTTP-over-TCP ingestion (SURVEY §2: P5-P6, P10-P11, R3, D2, F9-F10,
  * F28, J4; `http_ingestor.py`).
  *
  * Reassembly (R3): segments of a 4-tuple flow are walked in frame order;
  * a segment whose first line parses as an HTTP request/response starts a
  * new message, anything else is a continuation appended to the in-flight
  * message (`http_ingestor.py:433-448`). Retransmissions (same seq+ack as
  * an already-seen segment) are dropped first (D2).
  *
  * Linking (J4): the reference bulk-inserts responses first to obtain DB
  * ids, then patches each request's `http_response_in` — redesigned here
  * as engine-assigned `row_number()` ids + one window keyed by the
  * requester-side 4-tuple, preserving the reference's "last response
  * wins" rule (`http_ingestor.py:484-492`; SURVEY §7.3 #2 documents the
  * id-value deviation).
  */
final case class HttpMsg(
    framesList: String,
    firstFrame: Long,
    timeEpoch: Long,
    usecondsEpoch: Int,
    srcIp: String,
    dstIp: String,
    pcapFilename: String,
    srcPort: Int,
    dstPort: Int,
    tcpSequence: Long,
    tcpAcknowledge: Long,
    httpIsRequest: Boolean,
    method: String,
    uri: String,
    responseCode: Option[Int],
    contentType: String,
    contentLength: Option[Int],
    bodyType: String,
    body: String)

object Http {

  private val RequestLine = "(?i)^[a-z]+ +\\S+ +http/1\\.[01]$".r
  private val ResponseLine = "(?i)^http/1\\.[01] +[1-5][0-9]{2}.*$".r

  /** P10: does this payload start an HTTP message?
    * (`http_ingestor.py:167-174`). */
  def isHttpStart(s: String): Boolean = {
    val line = s.takeWhile(c => c != '\r' && c != '\n')
    RequestLine.matches(line) || ResponseLine.matches(line)
  }

  /** P11: permissive UTF-8 decode; None = undecodable → dropped
    * (`http_ingestor.py:148-155`). */
  def utf8(b: Array[Byte]): Option[String] =
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      Some(dec.decode(java.nio.ByteBuffer.wrap(b)).toString)
    } catch { case _: java.nio.charset.CharacterCodingException => None }

  /** F9/F10/F28: parse one reassembled HTTP payload into a message.
    * Returns None when the text does not start with an HTTP line. */
  def parse(framesList: String, firstFrame: Long, tsSec: Long, tsUsec: Int,
      srcIp: String, dstIp: String, file: String, srcPort: Int, dstPort: Int,
      seq: Long, ack: Long, text: String): Option[HttpMsg] = {
    if (!isHttpStart(text)) return None
    val headEnd = text.indexOf("\r\n\r\n")
    val (head, body) =
      if (headEnd >= 0) (text.substring(0, headEnd), text.substring(headEnd + 4))
      else (text, "")
    val lines = head.split("\r\n")
    val first = lines.head
    val isReq = !first.toLowerCase.startsWith("http/")

    def header(name: String): Option[String] = lines.tail.collectFirst {
      case l if l.toLowerCase.contains(name.toLowerCase + ":") =>
        l.split(":", 2)(1).trim
    }
    val contentLength = header("Content-Length").flatMap(_.toIntOption)
    val contentType = header("Content-Type").getOrElse("")
    // F28 body-status typing (`http_ocs_ingestor.py:304-313`)
    val bodyType =
      if (contentLength.isEmpty) "noContent"
      else if (body.isEmpty) "httpIncomplete"
      else "content"
    if (isReq) {
      val parts = first.split(" +")
      val method = parts.headOption.getOrElse("")
      val path = if (parts.length > 1) parts(1) else ""
      // F10: URI synthesis incl. the reference's trailing space
      val uri = s"http://$dstIp:$dstPort$path "
      Some(HttpMsg(framesList, firstFrame, tsSec, tsUsec, srcIp, dstIp, file,
        srcPort, dstPort, seq, ack, httpIsRequest = true, method, uri, None,
        contentType, contentLength, bodyType, body))
    } else {
      val code = first.split(" +").lift(1).flatMap(_.toIntOption)
      Some(HttpMsg(framesList, firstFrame, tsSec, tsUsec, srcIp, dstIp, file,
        srcPort, dstPort, seq, ack, httpIsRequest = false, "", "", code,
        contentType, contentLength, bodyType, body))
    }
  }

  /** Longest a buffered candidate start line may grow before it is
    * declared not-a-start and dropped (bounds the stash on \r-less
    * garbage). Real request/status lines are far shorter. */
  private val MaxStartLine = 4096

  /** R3 segment accumulation for one 4-tuple flow: HTTP-start segments
    * open a message; continuations append; (seq, ack) duplicates drop
    * (D2). Emits raw (meta, text) per message. Ports must be passed in
    * (Piece carries none) so the F10 URI synthesis sees the real
    * destination port.
    *
    * Length-driven framing (round-8 hardening, the Diameter header-cut
    * bug class — a length field straddling a segment boundary): bytes
    * past a message's declared Content-Length end go to a PENDING
    * buffer instead of the body, and are classified once their line
    * structure resolves:
    *
    *   - the pending bytes concatenate into an HTTP start line → the
    *     cut split the next message's start ("P" + "OST /x HTTP/1.1…");
    *     the current message emits with exactly its declared body and
    *     the next opens from the pending bytes (pipelining / arbitrary
    *     segmentation handled);
    *   - a LATER pending segment starts a message on its own → the
    *     earlier pending bytes are body overrun (a capture whose body
    *     exceeds its declared length) and are appended back to the
    *     body — the reference's per-segment behavior
    *     (`http_ingestor.py:167-174`) for its own captures;
    *   - nothing starts a message → all pending bytes are overrun;
    *     the message reverts to unframed mode (delimited by the next
    *     start-at-a-segment-boundary, exactly the reference rule).
    *
    * A segment arriving with NO message in flight that is not itself a
    * start is likewise stashed until its first line completes, then
    * promoted or dropped — the analogue of Diameter's "too short to
    * read the length field → stash, don't emit". On boundary-aligned
    * captures the machine reduces to the reference's start detection,
    * including flush-on-start for length-less and truncated messages.
    * Undecidable by construction: newline-free alphabetic overrun
    * abutting a real start line in one byte run reads as a longer
    * method token — the stream itself is ambiguous there. */
  def reassembleFlow(segs: Seq[(Piece, Long, Long)],
      srcPort: Int = 0, dstPort: Int = 0): Seq[HttpMsg] = {
    val sorted = segs.sortBy(_._1.frameNo)
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val out = Seq.newBuilder[HttpMsg]
    // meta of a message/stash: opening segment + its (seq, ack)
    // in-flight message: (meta, text, frameNos reversed)
    var cur: (Piece, Long, Long, StringBuilder, List[Long]) = null
    // once true, cur's body overran its declared length: stop length
    // accounting, delimit by next start-at-segment-boundary (reference)
    var curUnframed = false
    // bytes past cur's declared body end, classification pending;
    // (text, piece, seq, ack) per contributing segment
    val pend = scala.collection.mutable.ArrayBuffer.empty[(String, Piece, Long, Long)]
    var stash: (Piece, Long, Long, StringBuilder, List[Long]) = null

    def hasNl(s: String) = s.indexOf('\r') >= 0 || s.indexOf('\n') >= 0

    def emit(p: Piece, seq: Long, ack: Long, text: String, frames: List[Long]): Unit =
      parse(frames.reverse.mkString(" "), p.frameNo, p.tsSec, p.tsUsec,
        p.srcIp, p.dstIp, p.pcapFilename, srcPort, dstPort, seq, ack, text)
        .foreach(out += _)

    def flushCur(): Unit = if (cur != null) {
      val (p, seq, ack, sb, frames) = cur
      emit(p, seq, ack, sb.toString, frames)
      cur = null
      curUnframed = false
    }

    def addFrame(no: Long): Unit =
      if (cur._5.head != no) cur = cur.copy(_5 = no :: cur._5)

    /** (bodyStart, contentLength) once the head is complete and
      * declares a length — the same header extraction [[parse]] uses. */
    def framing(text: String): Option[(Int, Int)] = {
      val headEnd = text.indexOf("\r\n\r\n")
      if (headEnd < 0) None
      else text.substring(0, headEnd).split("\r\n").tail.collectFirst {
        case l if l.toLowerCase.contains("content-length:") =>
          l.split(":", 2)(1).trim
      }.flatMap(_.toIntOption).map(cl => (headEnd + 4, cl))
    }

    /** Move bytes past cur's declared body end into the pending buffer
      * (they arrived in segment `(p, seq, ack)`) and try to classify. */
    def settle(p: Piece, seq: Long, ack: Long): Unit =
      if (cur != null && !curUnframed) {
        val text = cur._4.toString
        framing(text) match {
          case Some((bodyStart, cl)) if text.length > bodyStart + cl =>
            val excess = text.substring(bodyStart + cl)
            cur._4.setLength(bodyStart + cl)
            pend += ((excess, p, seq, ack))
            decidePend()
          case _ => () // head incomplete, no length, or body not yet full
        }
      }

    /** Open a new message and settle it (a single segment can span
      * several complete messages). `last*` is the latest segment that
      * contributed bytes — any excess past this message's body end
      * physically lives there, so pending attribution uses it, not the
      * opening segment. */
    def openCur(p: Piece, seq: Long, ack: Long, text: String,
        frames: List[Long], lastP: Piece, lastSeq: Long, lastAck: Long): Unit = {
      cur = (p, seq, ack, new StringBuilder(text), frames)
      curUnframed = false
      settle(lastP, lastSeq, lastAck)
    }

    def decidePend(): Unit = if (cur != null && pend.nonEmpty) {
      val concat = pend.map(_._1).mkString
      def promote(k: Int): Unit = {
        // pending bytes before k are body overrun (reference semantics)
        for ((t, p, _, _) <- pend.take(k)) { cur._4.append(t); addFrame(p.frameNo) }
        val kept = pend.drop(k).toList
        pend.clear()
        flushCur()
        val frames = kept.map(_._2.frameNo).distinct.reverse
        val (_, p0, s0, a0) = kept.head
        val (_, pl, sl, al) = kept.last
        openCur(p0, s0, a0, kept.map(_._1).mkString, frames, pl, sl, al)
      }
      // continuation reading first: the bytes are one contiguous
      // stream, and a suffix like "OST /x HTTP/1.1" passes the method
      // regex while belonging to a split "POST". The start check needs
      // a complete first line to be trustworthy either way.
      if (hasNl(concat) && isHttpStart(concat)) promote(0)
      else if (hasNl(pend.last._1) || concat.length > MaxStartLine) {
        // every suffix is now line-complete: the earliest pending
        // segment that starts a message on its own delimits overrun
        // from the next message
        pend.indices.drop(1)
          .find(k => isHttpStart(pend.drop(k).map(_._1).mkString)) match {
          case Some(k) => promote(k)
          case None =>
            for ((t, p, _, _) <- pend) { cur._4.append(t); addFrame(p.frameNo) }
            pend.clear()
            curUnframed = true
        }
      } // else: wait for more bytes
    }

    def feed(p: Piece, seq: Long, ack: Long, text: String): Unit = {
      if (cur != null) {
        if (pend.nonEmpty) {
          pend += ((text, p, seq, ack))
          decidePend()
        } else if (isHttpStart(text)) {
          // start at a segment boundary: delimits a length-less or
          // unframed message, flushes a truncated body (capture loss)
          flushCur()
          openCur(p, seq, ack, text, List(p.frameNo), p, seq, ack)
        } else {
          cur._4.append(text)
          addFrame(p.frameNo)
          settle(p, seq, ack)
        }
      } else if (stash == null && isHttpStart(text)) {
        openCur(p, seq, ack, text, List(p.frameNo), p, seq, ack)
      } else {
        // no message in flight: possibly the prefix of a start line the
        // cut split — stash until the first line completes, then decide.
        // A pending stash absorbs the next segment BEFORE the start
        // check (same continuation-first rule as decidePend).
        if (stash == null) stash = (p, seq, ack, new StringBuilder(text), List(p.frameNo))
        else {
          stash._4.append(text)
          if (stash._5.head != p.frameNo) stash = stash.copy(_5 = p.frameNo :: stash._5)
        }
        val s = stash._4.toString
        if (hasNl(s) || s.length > MaxStartLine) {
          val st = stash
          stash = null
          if (isHttpStart(s)) {
            cur = (st._1, st._2, st._3, st._4, st._5)
            curUnframed = false
            settle(p, seq, ack)
          } // else: garbage → dropped, exactly the per-segment old rule
        }
      }
    }

    for ((piece, seq, ack) <- sorted) {
      if (seen.add((seq, ack))) {
        utf8(piece.payload) match {
          case None => () // P11: silently dropped
          case Some(text) => feed(piece, seq, ack, text)
        }
      } // D2 retransmission dropped
    }
    // EOF: undecided pending bytes are body (the reference appends every
    // trailing continuation segment), then the open message flushes
    if (cur != null && pend.nonEmpty) {
      for ((t, p, _, _) <- pend) { cur._4.append(t); addFrame(p.frameNo) }
      pend.clear()
    }
    flushCur()
    out.result()
  }

  /** Shared front half of the HTTP-family pipelines (http, http_ss7,
    * http_ocs): pcap → TCP → per-flow reassembly → parsed messages.
    * Shuffle key is the 4-tuple flow, never the file. */
  def messages(spark: SparkSession, path: String): Dataset[HttpMsg] = {
    import spark.implicits._
    Pcap.frames(spark, path)
      .flatMap(Packets.decode _)
      .filter(p => p.ipProto == Packets.ProtoTcp
        && (p.tcpFlags == 16 || p.tcpFlags == 24) && p.payload.nonEmpty)
      .groupByKey(p => (p.pcapFilename, p.srcIp, p.srcPort, p.dstIp, p.dstPort))
      .flatMapGroups { (key, it) =>
        val (_, _, srcPort, _, dstPort) = key
        reassembleFlow(it.map(p =>
          (Piece(p.frameNo, p.tsSec, p.tsUsec, p.srcIp, p.dstIp, p.pcapFilename, p.payload),
            p.tcpSeq, p.tcpAck)).toSeq, srcPort, dstPort)
      }
  }

  /** Full pipeline: pcap → HTTP messages with ids + J4 request→response
    * linking (`http_response_in` = id of the LAST response whose 4-tuple
    * is the reverse of the request's). Ports are patched from the flow
    * key after reassembly. */
  def records(spark: SparkSession, path: String): DataFrame =
    link(messages(spark, path).toDF())

  /** J4 linking, engine-side ids (SURVEY §4.2 "redesigned"): a
    * request's `http_response_in` is the id of the LAST response on its
    * reversed 4-tuple (`http_ingestor.py:484-492`). Keyed, not joined:
    * one window over (file, requester-side 4-tuple), where that tuple
    * is a request's own and a response's reversed, takes `max(id)` over
    * the partition's responses and hands it to its requests, so the
    * messages flow through one plan instead of a join and union of
    * themselves. A request missing any key column links to nothing.
    *
    * Scale note: ids are a row_number window per capture FILE — one
    * pathological multi-GB capture is one window partition. That matches
    * the corpus-of-files model this source is built on (same unit of
    * parallelism as the one-file-one-partition reader); per-flow id
    * schemes would scale further but break the reference's file-scoped
    * id semantics. */
  def link(msgs: DataFrame): DataFrame = {
    val isReq = col("httpIsRequest")
    def requester(own: String, reversed: String) = when(isReq, col(own)).otherwise(col(reversed))
    val keyed = Seq("pcapFilename", "srcIp", "srcPort", "dstIp", "dstPort")
      .map(col(_).isNotNull).reduce(_ && _)
    val conversation = Window.partitionBy(col("pcapFilename"),
      requester("srcIp", "dstIp"), requester("srcPort", "dstPort"),
      requester("dstIp", "srcIp"), requester("dstPort", "srcPort"))
    msgs
      .withColumn("id", row_number().over(Window.partitionBy(col("pcapFilename"))
        .orderBy(col("firstFrame"), col("tcpSequence"))).cast("long"))
      .filter(isReq.isNotNull)
      .withColumn("http_response_in",
        when(isReq && keyed, max(when(!isReq, col("id"))).over(conversation)))
  }
}
