package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.etl._
import graft.sinks.Sinks
import graft.sources.Pcap

/** The two ingest workloads: PCAP bytes in, nine protocol tables plus
  * the two Sigshark transaction sets committed as parquet out. */
object Ingest {

  /** (layer name, output table, pipeline call) for every entry point. */
  def pipelines(spark: SparkSession, in: IngestInput): Seq[(String, String, () => DataFrame)] = {
    val g = in.captureGlob
    Seq(
      ("diameter", "diameter", () => DiameterPipeline.records(spark, g).toDF()),
      ("gsm_map", "gsm_map", () => GsmMapPipeline.records(spark, g)),
      ("sip", "sip", () => Sip.records(spark, g)),
      ("smpp", "smpp", () => SmppPipeline.records(spark, g)),
      ("gtp", "gtp", () => GtpPipeline.records(spark, g)),
      ("camel", "camel", () => Camel.records(spark, in.camelPath, in.camelPcapName)),
      ("http", "http", () => Http.records(spark, g)),
      ("http_ss7", "http_ss7", () => HttpSs7.records(spark, g)),
      ("http_ocs", "http_ocs", () => HttpOcs.records(spark, g)),
      ("sigshark", "sigshark_diameter", () => Sigshark.diameterTransactions(spark, g).toDF()),
      ("sigshark", "sigshark_tcap", () => Sigshark.tcapTransactions(spark, g).toDF()))
  }

  val Layers: Seq[String] =
    Seq("diameter", "gsm_map", "sip", "smpp", "gtp", "camel", "http", "http_ss7", "http_ocs", "sigshark")

  /** The columns each check compares, rendered as strings. */
  val Projection: Map[String, Seq[String]] = Map(
    "diameter" -> Seq("request", "commandCode", "hopByHopId", "endToEndId", "sessionId", "msisdn", "imsi", "framesList"),
    "gsm_map" -> Seq("tcapMessType", "tcapTid", "tcapOtid", "tcapDtid", "gsmComponent", "framesList"),
    "sip" -> Seq("method", "statusCode", "callId", "fromUser", "toUser", "sdpOSessionId"),
    "smpp" -> Seq("commandId", "sequenceNumber", "sourceAddr", "destinationAddr"),
    "gtp" -> Seq("gtpVersion", "gtpMessage", "gtpSeqNumber", "imsi", "msisdn"),
    "camel" -> Seq("frame_number", "time_epoch", "useconds_epoch", "camel_local", "camel_op_name", "tcap_tid"),
    "http" -> Seq("httpIsRequest", "responseCode", "contentLength", "bodyType", "tcpSequence", "tcpAcknowledge"),
    "http_ss7" -> Seq("http_is_request", "type", "link_state", "msisdn_orig", "imsi", "tcp_sequence"),
    "http_ocs" -> Seq("http_is_request", "type", "link_state", "msisdn", "tcp_sequence"),
    "sigshark_diameter" -> Seq("key", "frames"),
    "sigshark_tcap" -> Seq("frames"))

  /** The compared columns of `table` as one string per row, rendered
    * as [[Truth]] renders the expected rows. */
  def rendered(df: DataFrame, table: String): Column =
    concat_ws("|", Projection(table).map { c =>
      val v = if (df.schema(c).dataType.typeName == "array") concat_ws(" ", col(c).cast("array<string>"))
        else col(c).cast("string")
      coalesce(v, lit("null"))
    }: _*)

  def project(df: DataFrame, table: String): Seq[String] =
    df.select(rendered(df, table)).collect().map(_.getString(0)).toSeq

  /** One pipeline call committed to parquet through the sink counters.
    * Returns rows written and the table's schema. */
  def commit(spark: SparkSession, df: DataFrame, out: String): (Long, StructType) = {
    val (observed, obs) = Sinks.withCounters(df, lit(false))
    observed.write.mode("overwrite").parquet(out)
    val m = obs.get
    (m("processed").asInstanceOf[Long] + m("not_processed").asInstanceOf[Long], df.schema)
  }

  /** One pipeline call of a pass: its duration, the rows it committed
    * with their schema, and the bytes it read through Hadoop's local
    * file system. */
  final case class Call(layer: String, table: String, seconds: Double, rows: Long, schema: StructType,
      bytesRead: Long)
  final case class Pass(seconds: Double, calls: Seq[Call])

  /** All pipelines, one after another, into `outRoot`; the live heap is
    * sampled after the last one. */
  def pass(r: Run, in: IngestInput, outRoot: Path, tag: String): Pass = {
    val spark = r.spark
    val calls = pipelines(spark, in).map { case (layer, table, mk) =>
      val group = s"$tag.etl.$layer.$table"
      spark.sparkContext.setJobGroup(group, group)
      val read0 = localBytesRead()
      val (written, s) = r.tracer.span(s"etl.$layer") {
        r.attempt(s"commit.$table")(commit(spark, mk(), outRoot.resolve(table).toString))
      }
      val read = localBytesRead() - read0
      val (rows, schema) = written.getOrElse((0L, new StructType))
      Call(layer, table, s, rows, schema, read)
    }
    spark.sparkContext.clearJobGroup()
    Heap.checkpoint()
    r.log(s"$tag: " + calls.map(c => f"${c.table}=${c.seconds}%.2fs").mkString(" "))
    Pass(calls.map(_.seconds).sum, calls)
  }

  def run(r: Run, pcapng: Boolean): Unit = {
    val files = if (pcapng) 1 else 16
    val totalBytes = 3L << 20
    val in = r.timeSynth(Synth.ingest(r.work.resolve("in"), r.seed, totalBytes, files, pcapng))
    r.log(s"input: ${in.files} files, ${in.bytes} bytes, ${in.truth.frames} frames, sha256 ${in.sha256}")

    // a batch ingest job starts a fresh process per run, so JIT and
    // query codegen are part of what it pays: no warm-up pass
    r.setup(r.cores)(())
    Heap.checkpoint()

    // untraced, timed passes: as many as fit in the run's seconds; the
    // first one is cold
    val out = r.work.resolve("out")
    val passes = r.timedLoop(minIters = 1) { i => pass(r, in, out.resolve(s"p$i"), s"p$i") }
    val mbps = passes.map(p => in.bytes / 1048576.0 / p.seconds)
    r.metrics.put("ingest_mb_s", Stats.median(mbps), "MB/s")
    // time to maintain one table: one pipeline call, from the call to
    // its committed parquet
    val calls = passes.flatMap(_.calls.map(_.seconds))
    r.metrics.put("maintain_p50_s", Stats.median(calls), "s")
    r.detail.put("ingest.passes", passes.size, "count")
    r.detail.put("ingest.table_commits", calls.size, "count")

    // serving the committed tables: point lookups read back from parquet
    val last = out.resolve(s"p${passes.size - 1}")
    val served = lookups(r, in, last, passes.last.calls)
    Heap.checkpoint()
    r.metrics.put("serve_p50_ms", Stats.median(served), "ms")
    r.metrics.put("serve_p95_ms", Stats.quantile(served, 0.95), "ms")
    r.detail.put("serve.samples", served.size, "count")
    r.log(f"lookups: ${served.size} samples, p50 ${Stats.median(served)}%.0f ms, p95 ${Stats.quantile(served, 0.95)}%.0f ms")
    // ingest has no approximate search: a neutral 1, so the figure
    // neither rewards nor penalises this workload
    r.metrics.put("ann_recall", 1.0, "fraction")

    r.log("checking")
    checkOutputs(r, in, last)

    if (r.trace) traced(r, in, passes.head)
  }

  /** Lookup rounds over the committed tables: the first WarmRounds are
    * not counted. A lookup's latency falls by about half over the first
    * four rounds as the JIT compiles its path; timed from round 1, p95
    * would be a sample of that warm-up and swing by up to a quarter
    * between runs. */
  val WarmRounds = 4
  val TimedRounds = 4

  /** Point lookups on the committed tables of one pass: per table, the
    * count of rows equal to one ground-truth row, read back from parquet
    * with the schema the call committed (as a catalog would hold it).
    * WarmRounds uncounted rounds, then TimedRounds timed ones; each round
    * probes other rows. Every count is checked against the truth.
    * Returns the timed latencies in ms. */
  def lookups(r: Run, in: IngestInput, outDir: Path, calls: Seq[Call]): Seq[Double] =
    for {
      round <- 0 until WarmRounds + TimedRounds
      c <- calls
      ms <- {
        val expected = in.truth.rows(c.table)
        val probe = expected((round * 7919 + 17) % expected.size)
        val (n, s) = r.tracer.span(s"serve.lookup.${c.table}") {
          r.attempt(s"lookup.${c.table}") {
            val df = r.spark.read.schema(c.schema).parquet(outDir.resolve(c.table).toString)
            df.filter(rendered(df, c.table) === probe).count()
          }
        }
        n.foreach(v => r.check(Checks.count(s"lookup.${c.table}", expected.count(_ == probe), v)))
        if (round < WarmRounds) None else Some(s * 1000)
      }
    } yield ms

  /** Checks the committed tables of one pass, and the quarantine count. */
  def checkOutputs(r: Run, in: IngestInput, outDir: Path): Unit = {
    val spark = r.spark
    import spark.implicits._
    val quarantine = () => {
      val n = Pcap.frames(spark, in.captureGlob).filter(f => Packets.decode(f).isEmpty).count()
      Checks.count("quarantine.not_processed", in.truth.malformed, n)
    }
    val tables = in.truth.rows.toSeq.map { case (table, expected) => () =>
      val actual = r.attempt(s"read.$table")(project(spark.read.parquet(outDir.resolve(table).toString), table))
        .getOrElse(Nil)
      Checks.table(table, expected.toSeq, actual)
    }
    Par.all(4)(quarantine +: tables).foreach(r.check)
  }

  /** Traced run, after the (traced) cold pass: nested prefix calls
    * give each layer's self time (frames; frames + decode; + records;
    * + the parquet write, as a warm pass), listener counters are read per
    * job group, and a local[1] pass gives the scaling figures. */
  def traced(r: Run, in: IngestInput, cold: Pass): Unit = {
    val spark = r.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val mb = in.bytes / 1048576.0
    def grouped[T](g: String)(f: => T): T = { sc.setJobGroup(g, g); try f finally sc.clearJobGroup() }

    val (_, readS) = r.tracer.span("sources.read") {
      grouped("t.sources")(Pcap.frames(spark, in.captureGlob).map(_.data.length.toLong).reduce(_ + _))
    }
    val (decoded, decodeS) = r.tracer.span("etl.decode") {
      grouped("t.decode")(Pcap.frames(spark, in.captureGlob).flatMap(Packets.decode _).count())
    }
    // records, without the sink, per pipeline
    val recordS = pipelines(spark, in).map { case (_, table, mk) =>
      r.tracer.span(s"records.$table")(grouped(s"t.records.$table")(mk().count()))._2
    }
    val (warm, _) = r.tracer.span("ingest.warm_pass")(pass(r, in, r.work.resolve("warm-out"), "t.commit"))
    r.drain()

    val src = r.counters.group("t.sources")
    val commit = r.counters.groupsWithPrefix("t.commit.")
    val recs = r.counters.groupsWithPrefix("t.records.")
    val d = r.detail
    d.put("sources.read_s", readS, "s")
    d.put("sources.mb_s", mb / readS, "MB/s")
    // the frames-only probe is one stage: its tasks are the input splits
    d.put("sources.input_tasks", src.tasks, "count")
    d.put("sources.max_task_share", if (src.tasks == 1) 1.0 else src.maxTaskShare, "fraction")
    d.put("sources.bytes_read_total", warm.calls.map(_.bytesRead).sum, "bytes")
    // each read of the capture decodes all of its frames: frames some
    // pipeline keeps (those the decoder accepts) ÷ frames decoded by the
    // capture calls of the warm pass (the CAMEL call reads only its JSON)
    val scans = warm.calls.filter(_.layer != "camel").map(_.bytesRead).sum.toDouble / in.bytes
    d.put("etl.capture_scans", scans, "count")
    d.put("etl.frames_useful_frac", decoded / (in.truth.frames * scans), "fraction")
    d.put("etl.decode_s", math.max(0.0, decodeS - readS), "s")
    d.put("etl.decode_records_s", decoded / decodeS, "1/s")
    d.put("etl.not_processed", in.truth.frames - decoded, "count")
    // the cold pass: these spans add up to the ingest wall time
    for (layer <- Layers)
      d.put(s"etl.$layer.s", cold.calls.filter(_.layer == layer).map(_.seconds).sum, "s")
    d.put("stateful.task_s", recs.statefulTaskMs / 1000.0, "s")
    d.put("stateful.records_in", recs.statefulRecordsIn, "count")
    d.put("stateful.records_out", recs.statefulRecordsOut, "count")
    d.put("stateful.shuffle_write_mb", recs.shuffleWriteBytes / 1048576.0, "MB")
    d.put("stateful.spill_mb", recs.spillBytes / 1048576.0, "MB")
    d.put("stateful.max_task_share", recs.statefulMaxTaskShare, "fraction")
    val rows = warm.calls.map(_.rows).sum
    d.put("sinks.write_s", math.max(0.0, warm.seconds - recordS.sum), "s")
    d.put("sinks.rows_s", rows / warm.seconds, "1/s")
    d.put("sinks.rows_written", rows, "count")
    d.put("sinks.files_written", countParquet(r.work.resolve("warm-out")), "count")
    d.put("sinks.mb_written", commit.outputBytes / 1048576.0, "MB")
    r.engine(r.counters.groupsWithPrefix("p0."))
    // the same cold pass, traced: its difference from the untraced runs'
    // median pass (capture MB ÷ ingest_mb_s) is the tracing overhead
    d.put("trace.pass_s", cold.seconds, "s")
    d.put("ingest.warm_pass_s", warm.seconds, "s")

    // single-core baseline of the warm pass
    r.startSpark(1)
    val (_, oneS) = r.tracer.span("ingest.one_core_pass")(pass(r, in, r.work.resolve("one-out"), "one"))
    d.put("scaling.ingest_mb_s_1core", mb / oneS, "MB/s")
    d.put("scaling.ratio", oneS / warm.seconds, "ratio")
  }

  /** Bytes read through Hadoop's local file system, JVM-wide (the
    * executors run in this JVM). */
  private def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  private def countParquet(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }
}
