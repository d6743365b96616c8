package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.xml.{Elem, Node}

/** One http_ss7 message: HTTP envelope + the per-operation-type XML
  * fields of `models.py:219-247`. Top-level (encoder requirement). */
final case class Ss7Msg(
    framesList: String,
    firstFrame: Long,
    timeEpoch: Long,
    usecondsEpoch: Int,
    srcIp: String,
    srcPort: Int,
    dstIp: String,
    dstPort: Int,
    pcapFilename: String,
    tcpSequence: Long,
    tcpAcknowledge: Long,
    httpIsRequest: Boolean,
    httpRequestMethod: String,
    httpRequestUri: String,
    httpContentType: String,
    httpContentLength: Option[Int],
    httpResponseCode: Option[Int],
    opType: String,
    msisdnOrig: String,
    msisdnDest: String,
    msc: String,
    sccpCdAdr: String,
    imsi: String,
    sessionId: String,
    text: String,
    udhi: Option[Boolean])

/** http_ss7 ingestion (SURVEY §2: R4, J5, D4 + the per-operation-type
  * field extraction of `http_ss7_ingestor.py:303-456`): HTTP pairing by
  * TCP sequence arithmetic plus the sriForSm/smsmt/smsmo/alertSC/
  * reportSMDeliver/sms/error XML field tables.
  *
  * The reference pairs a request with the response whose TCP sequence
  * equals the request's acknowledge (per flow), collecting `[req, res]`
  * cells keyed by that slot during its scan
  * (`http_ss7_ingestor.py:193-213`); paired rows exchange subscriber
  * fields bidirectionally; unpaired rows are emitted to the "unlinked"
  * output and unioned back (§2.7). Expressed here as the same keyed
  * cells: one group per (file, flow, slot) whose aggregate holds the
  * first request and the first response, then a symmetric coalesce —
  * the dict-free J5, one pass over the messages.
  */
object HttpSs7 {

  /** xmltodict `["x"]["#text"]` analog: the reference path only yields a
    * value when the element carries attributes (otherwise xmltodict
    * returns a plain string and `["#text"]` raises → None). */
  private def childAttr(e: Elem, name: String): Option[String] =
    (e \ name).headOption.filter(_.attributes.nonEmpty).map(_.text)

  /** xmltodict `["x"]` direct-access analog: a plain string only when
    * the element has neither attributes nor child elements (otherwise
    * the reference gets a dict, not a usable string). */
  private def childPlain(n: Node, name: String): Option[String] =
    (n \ name).headOption
      .filter(c => c.attributes.isEmpty && !c.child.exists(_.isInstanceOf[Elem]))
      .map(_.text)

  /** `["a"]["b"]` nested bool: "true" (lowercased) → true, any other
    * string → false, missing/dict-shaped → None
    * (`http_ss7_ingestor.py:352-358`). */
  private def nestedBool(e: Elem, outer: String, inner: String): Option[Boolean] =
    (e \ outer).headOption.flatMap(childPlain(_, inner))
      .map(_.toLowerCase == "true")

  private def unesc(o: Option[String]): Option[String] = o.map(XmlBody.htmlUnescape)

  /** Per-operation-type extraction (`http_ss7_ingestor.py:310-453`):
    * fills the subset of fields each root type defines; an unknown root
    * yields a row with a null type (reference `case _: pass`); an
    * unparseable body drops the message (reference returns None). The
    * envelope (`m`) must already carry bodyType from [[Http.parse]]. */
  def extract(m: HttpMsg): Option[Ss7Msg] = {
    def base = Ss7Msg(m.framesList, m.firstFrame, m.timeEpoch, m.usecondsEpoch,
      m.srcIp, m.srcPort, m.dstIp, m.dstPort, m.pcapFilename,
      m.tcpSequence, m.tcpAcknowledge, m.httpIsRequest,
      if (m.httpIsRequest) m.method else null,
      if (m.httpIsRequest) m.uri else null,
      if (m.httpIsRequest && m.contentType.nonEmpty) m.contentType else null,
      m.contentLength, m.responseCode,
      null, null, null, null, null, null, null, null, None)
    // F28: header-only outcomes are emitted with the diagnostic type
    if (m.bodyType != "content") return Some(base.copy(opType = m.bodyType))
    XmlBody.parse(m.body) match {
      case None => None // xmltodict failure → message dropped
      case Some(e) => Some(e.label match {
        case "sriForSm" => base.copy(opType = "sriForSm",
          sccpCdAdr = childAttr(e, "sccpCdAdr").orNull,
          msisdnOrig = childAttr(e, "msisdn").orNull,
          imsi = childPlain(e, "imsi").orNull,
          msc = childAttr(e, "msc").orNull)
        case "smsmt" => base.copy(opType = "smsmt",
          imsi = childPlain(e, "imsi").orNull,
          msc = childAttr(e, "msc").orNull,
          msisdnOrig = unesc(childAttr(e, "orig")).orNull,
          udhi = nestedBool(e, "smsDeliver", "udhi"))
        case "smsmo" => base.copy(opType = "smsmo",
          msisdnOrig = unesc(childAttr(e, "orig")).orNull,
          msisdnDest = unesc(childAttr(e, "dest")).map(XmlBody.truncate32).orNull,
          msc = childAttr(e, "msc").orNull,
          imsi = childPlain(e, "imsi").orNull,
          udhi = nestedBool(e, "smsSubmit", "udhi"),
          sessionId = childPlain(e, "sessionId").orNull)
        case "alertSC" => base.copy(opType = "alertSC",
          msisdnOrig = unesc(childAttr(e, "msisdn")).orNull)
        case "reportSMDeliver" => base.copy(opType = "reportSMDeliver",
          sccpCdAdr = childAttr(e, "sccpCdAdr").orNull,
          msisdnOrig = unesc(childAttr(e, "msisdn")).orNull)
        case "sms" => base.copy(opType = "sms",
          msisdnOrig = unesc(childAttr(e, "orig")).orNull,
          imsi = childPlain(e, "imsi").orNull,
          udhi = nestedBool(e, "smsDeliver", "udhi"))
        case "error" => base.copy(opType = "error",
          text = childPlain(e, "text").orNull)
        case _ => base // unknown root: emitted with null type
      })
    }
  }

  /** `msgs` must carry: pcapFilename, srcIp, dstIp, srcPort, dstPort,
    * tcpSequence, tcpAcknowledge, httpIsRequest, firstFrame, framesList,
    * plus `fillCols` and `carryCols` (orderable types). Returns one row
    * per PAIR (full outer) with `q_`/`r_` prefixed sides, `matched` +
    * `link_state`, enriched bidirectionally on `fillCols` (empty strings
    * count as missing — the reference's null-or-empty semantics).
    *
    * One aggregation builds the `[req, res]` cells: messages group on
    * (file, flow, slot), where the slot is a request's ack and a
    * response's seq (R4 key arithmetic), and each side's cell is the
    * `min` of a struct led by `firstFrame` — D4: only the first
    * request/response per slot pairs, later ones drop. Ties on
    * `firstFrame` (two messages starting in one segment) are broken by
    * `framesList`. A message with a null file or slot never pairs; it
    * groups only with its own side. */
  def pairAndEnrich(msgs: DataFrame, fillCols: Seq[String],
      carryCols: Seq[String] = Nil): DataFrame = {
    // flow id with direction removed: both sides of the conversation map
    // to one key (requests a→b pair with responses b→a)
    val flow = array_join(array_sort(array(
      concat_ws(":", col("srcIp"), col("srcPort")),
      concat_ws(":", col("dstIp"), col("dstPort")))), "|")
    val isReq = col("httpIsRequest")
    val sideCols = (carryCols ++ fillCols).distinct
    val cellCols = Seq("firstFrame", "framesList") ++ sideCols
    def firstOf(side: Column) = min(when(side, struct(cellCols.map(col): _*)))
    val cells = msgs.filter(isReq.isNotNull)
      .withColumn("flowId", flow)
      .withColumn("slot", when(isReq, col("tcpAcknowledge")).otherwise(col("tcpSequence")))
      .groupBy(col("pcapFilename"), col("flowId"), col("slot"),
        when(col("pcapFilename").isNull || col("slot").isNull, isReq).as("unkeyed"))
      .agg(firstOf(isReq).as("q"), firstOf(!isReq).as("r"))

    def side(prefix: String): Seq[Column] = {
      val cell = col(prefix)
      def keyed(c: String) = when(cell.isNotNull, col(c))
      Seq(keyed("pcapFilename").as(s"${prefix}_file"), keyed("flowId").as(s"${prefix}_flow"),
        keyed("slot").as(s"${prefix}_slot"), cell.getField("framesList").as(s"${prefix}_frames"),
        cell.getField("firstFrame").as(s"${prefix}_frame")) ++
        sideCols.map(c => cell.getField(c).as(s"${prefix}_$c"))
    }
    val paired = cells.select(side("q") ++ side("r"): _*)

    val matched = col("q_frames").isNotNull && col("r_frames").isNotNull
    val enriched = fillCols.foldLeft(paired) { (df, c) =>
      val qc = nullif(col(s"q_$c").cast("string"), lit(""))
      val rc = nullif(col(s"r_$c").cast("string"), lit(""))
      df.withColumn(s"q_$c", coalesce(qc, rc))
        .withColumn(s"r_$c", coalesce(rc, qc))
    }
    enriched
      .withColumn("matched", matched)
      .withColumn("link_state", when(matched, "linked").otherwise("unlinked"))
  }

  private[etl] val Envelope = Seq(
    "timeEpoch", "usecondsEpoch", "srcIp", "srcPort", "dstIp", "dstPort",
    "tcpSequence", "tcpAcknowledge", "httpIsRequest", "httpRequestMethod",
    "httpRequestUri", "httpContentType", "httpContentLength", "httpResponseCode")

  /** Unpivot one paired row back to per-message table rows: requests get
    * `http_response_in` = the id of their paired response, responses get
    * null. Both sides leave through one `explode` of a two-cell array.
    * Ids are engine-assigned (the documented K2 redesign): even for
    * responses, odd for requests — unique per file, stable per input,
    * value-disjoint from the reference's DB sequences. Column names
    * follow `models.py`. */
  private[etl] def unpivot(paired: DataFrame, extraCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols = Envelope ++ extraCols
    val file = coalesce(col("q_file"), col("r_file"))
    def idOver(frame: String, slot: String) =
      row_number().over(Window.partitionBy(file).orderBy(col(frame), col(slot))).cast("long")
    val withId = paired
      .withColumn("res_id", when(col("r_frames").isNotNull,
        idOver("r_frame", "r_slot") * 2))
      .withColumn("req_id", when(col("q_frames").isNotNull,
        idOver("q_frame", "q_slot") * 2 + 1))
    def snake(c: String): String =
      c.replaceAll("([A-Z])", "_$1").toLowerCase
    def sideRow(prefix: String) = {
      val isReq = prefix == "q"
      when(col(s"${prefix}_frames").isNotNull, struct(
        (Seq(col(if (isReq) "req_id" else "res_id").as("id"),
          col(s"${prefix}_frames").as("frames_list"),
          file.as("pcap_filename"),
          (if (isReq) when(col("matched"), col("res_id")) else lit(null))
            .cast("long").as("http_response_in"),
          col("link_state")) ++
          cols.map(c => col(s"${prefix}_$c").as(snake(c)))): _*))
    }
    withId.select(explode(array(sideRow("q"), sideRow("r"))).as("row"))
      .filter(col("row").isNotNull)
      .select("row.*")
  }

  private val FillCols = Seq("msisdnOrig", "msisdnDest", "imsi")

  /** Full pipeline: pcap → TCP reassembly → HTTP parse → per-type XML
    * extraction → R4 pairing with bidirectional msisdn/imsi exchange →
    * the http_ss7 table (`models.py:219-247`). */
  def records(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val msgs = Http.messages(spark, path).flatMap(extract _)
    val extras = Seq("opType", "msisdnOrig", "msisdnDest", "msc",
      "sccpCdAdr", "imsi", "sessionId", "text", "udhi")
    val paired = pairAndEnrich(msgs.toDF(), FillCols, Envelope ++ extras)
    unpivot(paired, extras)
      .withColumnRenamed("op_type", "type")
  }
}
