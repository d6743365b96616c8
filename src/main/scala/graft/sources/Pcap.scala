package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.functions.BinaryCodecs._

/** One captured frame. Mirrors the reference's record abstraction
  * (SURVEY §1.1 #1): positional 1-based frame number, split epoch
  * seconds/µs, raw link-layer bytes, and the capture's DLT so the decode
  * layer can dispatch (S4).
  */
final case class Frame(
    pcapFilename: String,
    frameNo: Long,
    tsSec: Long,
    tsUsec: Int,
    dlt: Int,
    data: Array[Byte])

/** PCAP / PCAPNG frame source (SURVEY §2.1 S1-S4).
  *
  * Batch path: `spark.read.format("binaryFile")` → one file per task →
  * in-task sequential record walk, preserving frame order *within* a file
  * (the reference's semantics are per-file; order across files is not
  * meaningful). Scale model: a 100 TB capture corpus is many files — the
  * unit of parallelism is the file, same as the reference's queue workers
  * (`models.py:257,263`), so this layout scales linearly with executors
  * without any shuffle. For pathological single-huge-file inputs the
  * DSv2 reader's `chunkBytes` option splits a capture into ranged
  * tasks with chain-validated boundary resync — classic pcap via
  * [[decodeChunk]], prologue-state pcapng via [[decodeNgChunk]] —
  * offset-valued frameNo, exactness pinned by ChunkedPcapSpec /
  * ChunkedPcapNgSpec.
  *
  * Format sniffing (magic at `diameter.py:99-109`):
  *   `d4c3b2a1` little-endian pcap, `a1b2c3d4` big-endian pcap,
  *   `0a0d0d0a` pcapng.
  */
object Pcap {

  final val MagicLe = 0xd4c3b2a1L
  final val MagicBe = 0xa1b2c3d4L
  final val MagicNg = 0x0a0d0d0aL

  sealed trait Format
  case object PcapLe extends Format
  case object PcapBe extends Format
  case object PcapNg extends Format

  /** S1: magic/endianness sniffer (`diameter.py:99-109`). */
  def sniff(bytes: Array[Byte]): Option[Format] = {
    if (bytes.length < 4) return None
    beLong(bytes, 0, 4) match {
      case MagicBe => Some(PcapBe)
      case x if x == 0xd4c3b2a1L => Some(PcapLe)
      case MagicNg => Some(PcapNg)
      case _ => None
    }
  }

  /** S2/S3: decode a whole capture file to its frames. Unknown format →
    * empty (the caller counts it as not_processed). */
  def decodeFile(name: String, bytes: Array[Byte]): Seq[Frame] =
    sniff(bytes) match {
      case Some(PcapLe) => decodePcap(name, bytes, le = true)
      case Some(PcapBe) => decodePcap(name, bytes, le = false)
      case Some(PcapNg) => decodePcapNg(name, bytes)
      case None => Seq.empty
    }

  /** S2: classic pcap — 24-byte global header (DLT at offset 20), then
    * 16-byte per-record headers (`ts_sec, ts_usec, incl_len, orig_len`)
    * (`diameter.py:423-457`). µs clamped to 6 digits (F16). */
  private def decodePcap(name: String, b: Array[Byte], le: Boolean): Seq[Frame] = {
    def u32(off: Int): Long = if (le) leLong(b, off, 4) else beLong(b, off, 4)
    if (b.length < 24) return Seq.empty
    val dlt = u32(20).toInt
    val out = Seq.newBuilder[Frame]
    var off = 24
    var frameNo = 1L
    while (off + 16 <= b.length) {
      val tsSec = u32(off)
      var tsUsec = u32(off + 4)
      // kept as Long: a crafted incl_len near Int.MaxValue would wrap an
      // Int `off + inclLen` negative and slip past this bound
      val inclLenL = u32(off + 8)
      if (tsUsec.toString.length >= 6) tsUsec = tsUsec.toString.take(6).toLong
      off += 16
      if (inclLenL < 0 || off + inclLenL > b.length) return out.result()
      val inclLen = inclLenL.toInt
      out += Frame(name, frameNo, tsSec, tsUsec.toInt, dlt, java.util.Arrays.copyOfRange(b, off, off + inclLen))
      off += inclLen
      frameNo += 1
    }
    out.result()
  }

  /** Classic-pcap global-header fields needed to plan a chunked read:
    * endianness, DLT, and the snap length (clamped to a sane cap for
    * resync plausibility and overhang sizing). */
  final case class PcapHeader(le: Boolean, dlt: Int, snapCap: Long)

  /** Parse the 24-byte classic-pcap global header, or None for pcapng /
    * unknown / short input. */
  def classicHeader(bytes: Array[Byte]): Option[PcapHeader] =
    if (bytes.length < 24) None
    else sniff(bytes) match {
      case Some(PcapLe) | Some(PcapBe) =>
        val le = sniff(bytes).contains(PcapLe)
        def u32(off: Int): Long = if (le) leLong(bytes, off, 4) else beLong(bytes, off, 4)
        val snap = u32(16)
        val snapCap = math.min(math.max(snap, 65535L), 1L << 20)
        Some(PcapHeader(le, u32(20).toInt, snapCap))
      case _ => None
    }

  /** Bytes a chunk reader must read past its range end so that (a) the
    * last record STARTING in the range is complete and (b) a resync
    * candidate near the end can still chain-check its successor. */
  def chunkOverhang(h: PcapHeader): Long = 2L * (16 + h.snapCap)

  /** S2 at scale: decode the classic-pcap records of ONE BYTE RANGE of a
    * capture — the chunked half of the DSv2 reader's split model for
    * pathological single-huge-file inputs (a 1 TB capture is otherwise
    * one task). `buf` holds file bytes `[bufStartOff, bufStartOff +
    * buf.length)`; records whose 16-byte header STARTS in
    * `[bufStartOff, emitEndOff)` are emitted (the standard split
    * ownership rule), reading into the overhang to finish the last one.
    *
    * Mid-file chunks cannot know where a record boundary falls, so they
    * RESYNC: scan forward for the first offset whose record header is
    * structurally plausible (µs field < 10^6, lengths within the snap
    * cap and the file) AND whose successor record chains (next header
    * plausible, or the record ends exactly at EOF). False sync needs a
    * payload embedding a 2-record plausible chain at the cut — the
    * first chunk never resyncs, so a whole-file read stays exact.
    *
    * `frameNo` in chunked mode is the record's FILE OFFSET — stable,
    * unique and capture-ordered (sort by it to restore order) but not
    * the dense 1..N of [[decodeFile]]; rank it when density matters.
    * On a corrupt middle, [[decodePcap]] stops for the rest of the
    * file while later chunks resync past the damage and recover the
    * tail — chunked reads dominate, never lose, frames there. */
  def decodeChunk(name: String, buf: Array[Byte], bufStartOff: Long,
      emitEndOff: Long, fileLen: Long, h: PcapHeader): Seq[Frame] = {
    def u32(rel: Int): Long = if (h.le) leLong(buf, rel, 4) else beLong(buf, rel, 4)
    // structural plausibility of a record header at file offset `off`
    // (relative position rel = off - bufStartOff must have 16 bytes)
    def headerPlausible(rel: Int): Boolean = {
      val usec = u32(rel + 4)
      val incl = u32(rel + 8)
      val orig = u32(rel + 12)
      usec < 1000000L && incl <= h.snapCap && orig <= 0xffffffL &&
        bufStartOff + rel + 16 + incl <= fileLen
    }
    // deep chain validation: walk pseudo-records from `rel`; EVERY
    // header until exact EOF (or the end of the readable lookahead)
    // must stay plausible. A one-byte-shifted false boundary can fool a
    // single-successor check (shifted reads inherit the true record's
    // low-entropy length bytes) and then silently jump over real
    // records; it cannot stay plausible across the whole overhang,
    // while a true boundary always does.
    def chains(rel0: Int): Boolean = {
      var r = rel0
      while (true) {
        if (bufStartOff + r == fileLen) return true
        if (r + 16 > buf.length) return true // lookahead exhausted, chain held
        if (!headerPlausible(r)) return false
        r += 16 + u32(r + 8).toInt
      }
      true
    }
    var rel = 0
    if (bufStartOff > 24) { // mid-file chunk: resync
      var found = -1
      while (found < 0 && rel + 16 <= buf.length &&
          bufStartOff + rel < emitEndOff) {
        if (headerPlausible(rel) && chains(rel)) found = rel else rel += 1
      }
      if (found < 0) return Seq.empty
      rel = found
    }
    val out = Seq.newBuilder[Frame]
    while (rel + 16 <= buf.length && bufStartOff + rel < emitEndOff) {
      val tsSec = u32(rel)
      var tsUsec = u32(rel + 4)
      val inclLenL = u32(rel + 8)
      if (tsUsec.toString.length >= 6) tsUsec = tsUsec.toString.take(6).toLong
      if (inclLenL < 0 || rel + 16 + inclLenL > buf.length) return out.result()
      val inclLen = inclLenL.toInt
      out += Frame(name, bufStartOff + rel, tsSec, tsUsec.toInt, h.dlt,
        java.util.Arrays.copyOfRange(buf, rel + 16, rel + 16 + inclLen))
      rel += 16 + inclLen
    }
    out.result()
  }

  /** Reference EPB timestamp semantics (e.g. diameter.py:546-549):
    * decimal-digit split of the combined 64-bit tick count — first 10
    * digits are epoch seconds, and µs is the next 6 digits ONLY when at
    * least 6 remain (ms-resolution captures with 11-15 digit tick counts
    * get µs=0, not a scaled value). Shared by the whole-file and chunked
    * pcapng walkers so the two paths cannot drift. */
  private def epbTs(ts: Long): (Long, Int) = {
    val s = java.lang.Long.toUnsignedString(ts)
    (s.take(10).toLong, if (s.length - 10 >= 6) s.slice(10, 16).toLong.toInt else 0)
  }

  /** S3: pcapng — SHB / IDB (DLT + `if_tsresol` option 9) / EPB walk;
    * 64-bit timestamp recombined then split into seconds + µs by decimal
    * digit slicing, preserving the reference's semantics
    * (`diameter.py:489-568`, digit slicing at 541-556). Non-EPB blocks are
    * skipped by length without parsing (§4.1 early-termination). */
  private def decodePcapNg(name: String, b: Array[Byte]): Seq[Frame] = {
    val out = Seq.newBuilder[Frame]
    var off = 0
    var le = true
    var dlt = -1
    var tsResol = 6 // power-of-10 fractional digits; default µs
    var frameNo = 1L
    def u32(o: Int): Long = if (le) leLong(b, o, 4) else beLong(b, o, 4)
    def u16(o: Int): Int = (if (le) leLong(b, o, 2) else beLong(b, o, 2)).toInt
    while (off + 12 <= b.length) {
      val blockType = beLong(b, off, 4)
      if (blockType == MagicNg) { // Section Header Block: read byte-order magic
        le = leLong(b, off + 8, 4) == 0x1a2b3c4dL
      }
      // same wrap hazard as the classic-pcap walker: bound in Long before
      // narrowing, or a ~2^31 block length loops/throws the walk
      val blockLenL = u32(off + 4)
      if (blockLenL < 12 || off + blockLenL > b.length) return out.result()
      val blockLen = blockLenL.toInt
      val bt = u32(off)
      if (bt == 1L) { // Interface Description Block
        dlt = u16(off + 8)
        // walk options for if_tsresol (code 9)
        var o = off + 16
        var done = false
        while (!done && o + 4 <= off + blockLen - 4) {
          val code = u16(o); val len = u16(o + 2)
          if (code == 0) done = true
          else {
            if (code == 9 && len >= 1) tsResol = b(o + 4) & 0xff
            o += 4 + ((len + 3) / 4) * 4
          }
        }
      } else if (bt == 6L && blockLen >= 32) {
        // Enhanced Packet Block; structural minimum 32 bytes (28-byte
        // fixed part + trailing length) — a truncated EPB at file end
        // must be skipped, not read past the buffer
        val tsHigh = u32(off + 12)
        val tsLow = u32(off + 16)
        val capLenL = u32(off + 20)
        val (tsSec, tsUsec) = epbTs((tsHigh << 32) | tsLow)
        val dataOff = off + 28
        if (capLenL >= 0 && dataOff + capLenL <= b.length) {
          val capLen = capLenL.toInt
          out += Frame(name, frameNo, tsSec, tsUsec, dlt,
            java.util.Arrays.copyOfRange(b, dataOff, dataOff + capLen))
          frameNo += 1
        }
      }
      off += blockLen
    }
    out.result()
  }

  /** pcapng section state a chunked read needs, captured at plan time
    * from the file's prologue (every block before the first packet
    * block): byte order from the SHB, link type + timestamp resolution
    * from the IDBs (last one wins — the same single-interface semantics
    * as the whole-file walk), and the file offset of the first packet
    * block, where chunk ranges begin. */
  final case class PcapNgPrologue(le: Boolean, dlt: Int, tsResol: Int,
      dataStart: Long)

  /** Largest block length the chunked pcapng path accepts — bounds the
    * per-task overhang read and the resync plausibility window. Real
    * EPBs are packet-sized (snaplen-capped, ≤ 64 KiB in practice);
    * 1 MiB matches the classic path's snap cap. Over-cap blocks fail
    * LOUDLY at read time, never silently truncate. */
  final val NgMaxBlock: Long = 1L << 20

  /** Bytes a pcapng chunk reader must read past its range end so the
    * last block STARTING in the range is complete and a resync
    * candidate near the end can still chain-check its successor. */
  def ngChunkOverhang: Long = 2L * NgMaxBlock

  /** Parse the pcapng prologue from the file's head bytes: walk blocks
    * from offset 0, absorbing SHB/IDB state, until the first packet
    * block (EPB/SPB). Returns None when `head` is not pcapng or the
    * prologue does not complete inside the head window — callers fall
    * back to the whole-file stateful walk (never a wrong chunked read). */
  def ngPrologue(head: Array[Byte], fileLen: Long): Option[PcapNgPrologue] = {
    if (!sniff(head).contains(PcapNg)) return None
    var off = 0
    var le = true
    var dlt = -1
    var tsResol = 6
    def u32(o: Int): Long = if (le) leLong(head, o, 4) else beLong(head, o, 4)
    def u16(o: Int): Int = (if (le) leLong(head, o, 2) else beLong(head, o, 2)).toInt
    while (off + 12 <= head.length) {
      if (beLong(head, off, 4) == MagicNg)
        le = leLong(head, off + 8, 4) == 0x1a2b3c4dL
      val blockLenL = u32(off + 4)
      if (blockLenL < 12 || off + blockLenL > fileLen) return None // corrupt head
      val bt = u32(off)
      if (bt == 6L || bt == 3L) // first packet block: prologue complete
        return Some(PcapNgPrologue(le, dlt, tsResol, off.toLong))
      if (bt == 1L && off + blockLenL <= head.length) {
        dlt = u16(off + 8)
        var o = off + 16
        var done = false
        while (!done && o + 4 <= off + blockLenL.toInt - 4) {
          val code = u16(o); val len = u16(o + 2)
          if (code == 0) done = true
          else {
            if (code == 9 && len >= 1) tsResol = head(o + 4) & 0xff
            o += 4 + ((len + 3) / 4) * 4
          }
        }
      } else if (bt == 1L) return None // IDB extends past the head window
      if (off + blockLenL > head.length && off + blockLenL < fileLen)
        return None // prologue runs past the head window
      off += blockLenL.toInt
      if (off.toLong == fileLen) // no packet blocks at all
        return Some(PcapNgPrologue(le, dlt, tsResol, fileLen))
    }
    None
  }

  /** S3 at scale: decode the EPBs of ONE BYTE RANGE of a pcapng capture
    * — the pcapng half of the DSv2 `chunkBytes` split model. Blocks
    * whose header STARTS in `[bufStartOff, emitEndOff)` are emitted,
    * reading into the overhang to finish the last one. Section state
    * (endianness, DLT, ts resolution) comes from the plan-time
    * [[ngPrologue]]; a mid-file SHB or IDB — state this chunk's peers
    * could not see — fails the read LOUDLY rather than decoding with
    * stale state (every byte belongs to exactly one chunk's emit range,
    * so the owning task always trips the guard).
    *
    * Mid-file chunks resync like the classic path, but pcapng's block
    * framing is stronger: a candidate must carry a known block type, a
    * 4-aligned length within [12, [[NgMaxBlock]]], the format's
    * REDUNDANT trailing length equal to the leading one, and must stay
    * structurally plausible through the entire readable lookahead
    * (one-byte-shifted false boundaries die on the trailing-length
    * check). `frameNo` = block file offset, the same stable
    * capture-ordered contract as the classic chunked path. Corrupt
    * middles cost only the damaged region: the sequential whole-file
    * walk stops there, chunked tasks resync past it and recover the
    * tail. */
  def decodeNgChunk(name: String, buf: Array[Byte], bufStartOff: Long,
      emitEndOff: Long, fileLen: Long, pro: PcapNgPrologue): Seq[Frame] = {
    def u32(rel: Int): Long = if (pro.le) leLong(buf, rel, 4) else beLong(buf, rel, 4)
    def typePlausible(t: Long): Boolean =
      (t >= 1L && t <= 16L) || t == MagicNg || t == 0x0badL || t == 0x40000badL
    def blockPlausible(rel: Int): Boolean = {
      if (rel + 12 > buf.length) return false
      val t = u32(rel)
      val len = u32(rel + 4)
      typePlausible(t) && len >= 12 && len % 4 == 0 && len <= NgMaxBlock &&
        bufStartOff + rel + len <= fileLen &&
        (t != 6L || len >= 32) &&
        (rel + len > buf.length || u32(rel + len.toInt - 4) == len)
    }
    def chains(rel0: Int): Boolean = {
      var r = rel0
      while (true) {
        if (bufStartOff + r == fileLen) return true
        if (r + 12 > buf.length) return true // lookahead exhausted, chain held
        if (!blockPlausible(r)) return false
        r += u32(r + 4).toInt
      }
      true
    }
    var rel = 0
    if (bufStartOff > pro.dataStart) { // mid-file chunk: resync
      var found = -1
      while (found < 0 && rel + 12 <= buf.length &&
          bufStartOff + rel < emitEndOff) {
        if (blockPlausible(rel) && chains(rel)) found = rel else rel += 1
      }
      if (found < 0) return Seq.empty
      rel = found
    }
    val out = Seq.newBuilder[Frame]
    while (rel + 12 <= buf.length && bufStartOff + rel < emitEndOff) {
      val bt = u32(rel)
      val blockLenL = u32(rel + 4)
      if (blockLenL < 12 || blockLenL % 4 != 0 ||
          bufStartOff + rel + blockLenL > fileLen) return out.result() // corrupt: stop like the whole-file walk
      if (bt == MagicNg || bt == 1L)
        throw new java.io.IOException(
          s"pcapng file $name has a mid-file ${if (bt == 1L) "IDB" else "SHB"} at " +
            s"offset ${bufStartOff + rel}; chunked reads need all section/interface " +
            "state in the prologue — read without chunkBytes for the stateful walk")
      if (rel + blockLenL > buf.length)
        throw new java.io.IOException(
          s"pcapng block of $blockLenL bytes at offset ${bufStartOff + rel} in $name " +
            s"exceeds the chunked-read block cap ($NgMaxBlock) — read without " +
            "chunkBytes for the whole-file walk")
      val blockLen = blockLenL.toInt
      if (bt == 6L && blockLen >= 32) {
        val capLenL = u32(rel + 20)
        val (tsSec, tsUsec) = epbTs((u32(rel + 12) << 32) | u32(rel + 16))
        val dataOff = rel + 28
        if (capLenL >= 0 && dataOff + capLenL <= buf.length) {
          val capLen = capLenL.toInt
          out += Frame(name, bufStartOff + rel, tsSec, tsUsec, pro.dlt,
            java.util.Arrays.copyOfRange(buf, dataOff, dataOff + capLen))
        }
      }
      rel += blockLen
    }
    out.result()
  }

  /** Batch source: every frame of every capture file under `path`, via
    * the DataSource V2 reader (`graft.sources.v2.PcapDataSource`) — one
    * input partition per file, column pruning pushed to the reader.
    * `chunkBytes` switches classic-pcap AND prologue-state pcapng files
    * to ranged tasks ([[decodeChunk]]/[[decodeNgChunk]] semantics:
    * offset-valued frameNo). */
  def frames(spark: SparkSession, path: String,
      chunkBytes: Option[Long] = None): Dataset[Frame] = {
    import spark.implicits._
    val r = spark.read.format("pcap")
    chunkBytes.foreach(c => r.option("chunkBytes", c.toString))
    r.load(path).as[Frame]
  }

  /** S4: DLT dispatch table (`diameter.py:21-25`, `gsm_map.py:15-20`):
    * link-type → (is-IPv4 predicate over the frame, link-header length).
    * DLT 141 (MTP3 on the wire) carries no IP layer — handled by the SS7
    * path directly. */
  val DltHeaderLen: Map[Int, Int] = Map(
    0 -> 4, // NULL
    1 -> 14, // EN10MB
    109 -> 0, // ENC (raw IP)
    113 -> 16, // LINUX_SLL
    276 -> 20 // LINUX_SLL2
  )

  /** P1: link-layer IPv4 check (ethertype 0x0800; ARP 0x0806 dropped —
    * `diameter.py:214-222`). Returns the IP-layer offset, or -1. */
  def ipv4Offset(dlt: Int, data: Array[Byte]): Int = dlt match {
    case 1 =>
      if (data.length >= 14 && beInt(data, 12, 2) == 0x0800) 14 else -1
    case 113 =>
      if (data.length >= 16 && beInt(data, 14, 2) == 0x0800) 16 else -1
    case 276 =>
      if (data.length >= 20 && beInt(data, 0, 2) == 0x0800) 20 else -1
    case 0 =>
      if (data.length >= 4 && (data(0) == 2 || data(3) == 2)) 4 else -1
    case 109 =>
      if (data.length >= 1 && (data(0) >> 4) == 4) 0 else -1
    case _ => -1
  }
}
