package graft.sources

import graft.core.{Field, HeaderSerde, WarcRecord}

import java.io.{ByteArrayOutputStream, EOFException}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

/** WARC byte-level codec — the engine's equivalent of the reference's
  * decoder/encoder cores (/root/reference/src/warc/decode.rs:109-180,
  * src/warc/encode.rs:41-132), as pure executor-side functions consumed by
  * [[WarcSource]] inside `mapPartitions`.
  *
  * Framing (decode.rs:547-668): version line + header fields + CRLF CRLF,
  * then exactly Content-Length block bytes, then "\r\n\r\n". `position` is
  * the record's byte offset in the (uncompressed) stream — boundary
  * offsets are the reference's own integration-test oracle
  * (tests/test_decode.rs:77-78).
  *
  * Compression (compress.rs:62-76): record-at-time concatenated gzip
  * members — each record is one gzip member, so members can be decoded
  * independently; [[decodeAuto]] detects WARC/ vs gzip magic bytes the
  * same way detect_header does (decode.rs:811-821).
  */
object WarcBytes {

  val GzipMagic: Array[Byte] = Array(0x1f.toByte, 0x8b.toByte)
  val ZstdMagic: Array[Byte] = Array(0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte)

  /** Magic detection (decode.rs:811-821): "warc" | "gzip" | "zstd" |
    * "unknown". Zstd skippable frames (0x184D2A50..5F little-endian, incl.
    * the dictionary frame 0x184D2A5D) also identify as zstd.
    */
  def detectFormat(bytes: Array[Byte]): String =
    if (bytes.length >= 5 &&
      new String(bytes, 0, 5, StandardCharsets.US_ASCII) == "WARC/") "warc"
    else if (bytes.length >= 2 && bytes(0) == GzipMagic(0) && bytes(1) == GzipMagic(1)) "gzip"
    else if (bytes.length >= 4 && bytes.take(4).sameElements(ZstdMagic)) "zstd"
    else if (bytes.length >= 4 && (readLe32(bytes, 0) & 0xfffffff0) == 0x184d2a50) "zstd"
    else "unknown"

  private val HeaderTerminator = "\r\n\r\n".getBytes(StandardCharsets.US_ASCII)

  /** Max header size guard — the reference caps header scan at 32 KiB
    * (decode.rs:15); beyond it the input is malformed, not "need more".
    */
  val MaxHeaderLen = 32768

  /** Incremental record framer: append decompressed chunks, pull complete
    * records. Memory is bounded by one record + one appended chunk — the
    * Spark-side analog of the reference's bounded-buffer push decoder
    * (decode.rs:383-801). `position` = offset in the uncompressed stream.
    */
  final class RecordParser(file: String) {
    private var buf = new Array[Byte](64 * 1024)
    private var start = 0 // read cursor: buf(start) is the next record's first byte
    private var len = 0
    private var base = 0L // uncompressed offset of buf(start)
    private val ready = scala.collection.mutable.Queue.empty[WarcRecord]
    /** Total records framed so far (valid mid-stream). */
    var recordsParsed: Long = 0L

    /** Back to a fresh stream at offset 0, keeping the buffer: a decode
      * loop builds one parser and resets it per member instead of
      * allocating (and zeroing) a new buffer per record.
      */
    def reset(): Unit = {
      start = 0
      len = 0
      base = 0L
      ready.clear()
      recordsParsed = 0L
    }

    def append(chunk: Array[Byte], off: Int, n: Int): Unit = {
      // consumed records are dropped here, once per append: shifting the
      // tail after every record is quadratic on a whole-buffer feed
      if (start > 0 && len + n > buf.length) {
        System.arraycopy(buf, start, buf, 0, len - start)
        len -= start
        start = 0
      }
      if (len + n > buf.length) {
        val grown = new Array[Byte](math.max(buf.length * 2, len + n))
        System.arraycopy(buf, start, grown, 0, len - start)
        len -= start
        start = 0
        buf = grown
      }
      System.arraycopy(chunk, off, buf, len, n)
      len += n
      drain()
    }

    def next(): Option[WarcRecord] =
      if (ready.nonEmpty) Some(ready.dequeue()) else None

    /** True when no partial record is buffered and nothing is queued —
      * i.e. the stream sits exactly on a record boundary.
      */
    def atRecordBoundary: Boolean = len == start

    /** End of stream: any leftover bytes are a framing error. */
    def finish(): Unit =
      require(len == start, s"truncated block at offset $base")

    private def indexOfTerminator(limit: Int): Int = {
      var i = start
      while (i + 4 <= limit) {
        if (buf(i) == '\r' && buf(i + 1) == '\n' && buf(i + 2) == '\r' && buf(i + 3) == '\n')
          return i - start
        i += 1
      }
      -1
    }

    private def drain(): Unit = {
      var progress = true
      while (progress) {
        progress = false
        val avail = len - start
        val headerEnd = indexOfTerminator(len)
        if (headerEnd < 0) {
          require(avail <= MaxHeaderLen + 4, s"missing header terminator at offset $base")
        } else {
          // the cap applies even when a terminator IS eventually found —
          // the reference treats any header block past 32 KiB as malformed
          require(headerEnd <= MaxHeaderLen, s"header exceeds $MaxHeaderLen bytes at offset $base")
          val (version, fields) = HeaderSerde.parse(buf, start, headerEnd + 4)
            .getOrElse(throw new IllegalArgumentException(s"bad header at offset $base"))
          val lenStr = fields.find(_.name.equalsIgnoreCase("Content-Length")).map(_.value)
            .getOrElse(throw new IllegalArgumentException(s"no Content-Length at offset $base"))
          require(lenStr.nonEmpty && lenStr.length <= 18 && lenStr.forall(_.isDigit),
            s"bad Content-Length '$lenStr' at offset $base")
          val blockLenL = lenStr.toLong
          // i32 guard (a declared length >= 2^31 must error, never wrap);
          // headroom for blockStart (≤ MaxHeaderLen+4) + terminator so
          // `blockStart + blockLen + 4` below cannot overflow Int either
          require(blockLenL <= Int.MaxValue.toLong - MaxHeaderLen - 16,
            s"Content-Length $blockLenL exceeds supported block size at offset $base")
          val blockLen = blockLenL.toInt
          val blockStart = headerEnd + 4
          if (blockStart + blockLen + 4 <= avail) {
            val from = start + blockStart
            val block = java.util.Arrays.copyOfRange(buf, from, from + blockLen)
            var t = 0
            while (t < 4) {
              require(buf(from + blockLen + t) == HeaderTerminator(t),
                s"missing record terminator at offset ${base + blockStart + blockLen}")
              t += 1
            }
            ready += WarcRecord(base, file, version, fields, block)
            recordsParsed += 1
            val consumed = blockStart + blockLen + 4
            start += consumed
            base += consumed
            progress = true
          }
          // else: need more input for the block
        }
      }
    }
  }

  /** Streaming decoder for one WARC file (plain / record-at-time gzip /
    * zstd, auto-detected like detect_header, decode.rs:811-821). Gzip is
    * inflated ONE member at a time and zstd is streamed in 64 KiB chunks,
    * so peak memory is one record + one chunk — never the decompressed
    * file (the reference's own bounded-memory contract, io.rs:4).
    *
    * `recordAtTimeOk` (valid once exhausted) is the RecordAtTimeCompression
    * verify flag (decode.rs:700-711, surfaced app/verify.rs:79-82): for
    * concatenation-capable formats (gzip here), every member must contain
    * exactly one record ending on a member boundary. Plain files are
    * trivially ok; the zstd path streams across frames and is not checked.
    */
  /** `presetDict`: a zstd dictionary obtained OUT of band (e.g. the
    * archive's head frame parsed by a caller decoding from a mid-file
    * offset, where the leading dictionary frame is not in `bytes`). A
    * dictionary frame found in-band takes precedence.
    *
    * `formatOverride`: whole-file container wrappers the reference also
    * accepts (compress.rs:43-58) that magic detection cannot identify —
    * "deflate" (one zlib stream around the whole WARC) and "brotli"
    * (one raw brotli stream; brotli has no magic at all) — selected by
    * filename extension or an explicit caller flag, like the
    * reference's `--compression-format` / app/format.rs:5-22. These
    * wrappers do not support record-at-time concatenation
    * (compress.rs:68-76), so `recordAtTimeOk` stays trivially true and
    * `position` is the uncompressed-stream offset exactly as for plain.
    */
  final class WarcFileDecoder(bytes: Array[Byte], file: String,
                              presetDict: Option[Array[Byte]] = None,
                              formatOverride: Option[String] = None)
      extends Iterator[WarcRecord] {
    // a zero-byte file is the degenerate EMPTY archive (what writing an
    // empty dataset produces), not an unsupported format: decode it as
    // zero records in any format. Truncated files are unaffected — they
    // carry partial content and still fail their format's own checks.
    private val format =
      if (bytes == null || bytes.isEmpty) "warc"
      else formatOverride.getOrElse(detectFormat(bytes))
    private val parser = new RecordParser(file)
    private var ratFault = false
    private var pos = 0 // compressed cursor (gzip member loop / plain feed)
    private var pending: Option[WarcRecord] = None
    private var finished = false
    private var zstdInit = false
    private var zstdDict: Option[Array[Byte]] = None
    private var zlibInf: Inflater = null // lazy, "deflate" wrapper only
    private var brotliFed = false // "brotli" wrapper: whole-buffer fed?
    private val chunk = new Array[Byte](65536)
    private lazy val gzScratch = new InflateScratch // reused across members
    private var zsScratch: ZstdScratch = null // built once dict is known

    def recordAtTimeOk: Boolean = !ratFault

    override def hasNext: Boolean = {
      while (pending.isEmpty && !finished) {
        parser.next() match {
          case some @ Some(_) => pending = some
          case None           => feedMore()
        }
      }
      pending.nonEmpty
    }

    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("end of WARC stream")
      val r = pending.get
      pending = None
      r
    }

    /** Feed the parser more decompressed bytes, or mark end-of-stream. */
    private def feedMore(): Unit = format match {
      case "warc" =>
        if (pos >= bytes.length) { parser.finish(); finished = true }
        else {
          val n = math.min(chunk.length, bytes.length - pos)
          parser.append(bytes, pos, n)
          pos += n
        }
      case "gzip" =>
        if (pos >= bytes.length) { parser.finish(); finished = true }
        else {
          val before = parser.recordsParsed
          pos = inflateMember(bytes, pos, bytes.length, parser, gzScratch)
          // record-at-time contract: one record per member, boundary-aligned
          if (!(parser.atRecordBoundary && parser.recordsParsed == before + 1))
            ratFault = true
        }
      case "zstd" =>
        // frame-at-a-time (not one continuous stream): each frame's
        // slice decompresses independently so the record-at-time
        // contract can be checked per frame exactly like gzip members
        if (!zstdInit) {
          val (d, start) = zstdDictFrame(bytes)
          zstdDict = d.orElse(presetDict)
          pos = start
          zstdInit = true
        }
        if (pos >= bytes.length) { parser.finish(); finished = true }
        else if ({
          require(pos + 4 <= bytes.length, s"truncated zstd frame magic at offset $pos")
          (readLe32(bytes, pos) & 0xfffffff0) == 0x184d2a50
        }) {
          // a skippable frame after the leading dict frame: skip it.
          // Size is an UNSIGNED le32 — a signed read of a corrupted
          // high-bit size moved pos BACKWARDS (infinite decode loop);
          // also require strict forward progress inside the buffer
          require(pos + 8 <= bytes.length, s"truncated skippable frame at offset $pos")
          val skipLen = readLe32(bytes, pos + 4) & 0xffffffffL
          val next = pos.toLong + 8L + skipLen
          require(next > pos && next <= bytes.length,
            s"truncated/invalid skippable frame at offset $pos (size $skipLen)")
          pos = next.toInt
        } else {
          val fsize = com.github.luben.zstd.Zstd.findFrameCompressedSize(
            bytes, pos, bytes.length - pos)
          require(fsize > 0 && pos + fsize <= bytes.length,
            s"truncated/invalid zstd frame at offset $pos")
          val before = parser.recordsParsed
          if (zsScratch == null) zsScratch = new ZstdScratch(zstdDict)
          decompressZstdFrame(bytes, pos, fsize.toInt, zstdDict, parser, chunk,
            zsScratch)
          pos += fsize.toInt
          // record-at-time contract: one record per frame, boundary-aligned
          if (!(parser.atRecordBoundary && parser.recordsParsed == before + 1))
            ratFault = true
        }
      case "deflate" =>
        // whole-file zlib wrapper (compress.rs:46): ONE continuous
        // stream inflated in 64 KiB chunks — bounded memory like gzip
        if (zlibInf == null) { zlibInf = new Inflater(); zlibInf.setInput(bytes) }
        if (zlibInf.finished()) {
          zlibInf.end(); parser.finish(); finished = true
        } else {
          val n = zlibInf.inflate(chunk)
          if (n > 0) parser.append(chunk, 0, n)
          else if (zlibInf.finished()) { zlibInf.end(); parser.finish(); finished = true }
          else if (zlibInf.needsInput())
            throw new EOFException(s"$file: truncated zlib stream")
          else if (zlibInf.needsDictionary())
            throw new IllegalArgumentException(s"$file: zlib preset dictionary unsupported")
        }
      case "brotli" =>
        // whole-file raw brotli wrapper (compress.rs:52): the in-repo
        // RFC 7932 decoder is whole-buffer (1 GiB output guard inside)
        // — acceptable for this rare-path container; the mainline
        // formats (gzip/zstd) stay streaming. Decode and finish are
        // SEPARATE feedMore calls: feedMore's contract is "either add
        // bytes or mark end-of-stream", never both — hasNext checks
        // `finished` before re-polling the parser queue, so a call that
        // appends AND finishes would strand every queued record.
        if (!brotliFed) {
          brotliFed = true
          val out = graft.ops.Brotli.decompress(bytes)
          parser.append(out, 0, out.length)
        } else { parser.finish(); finished = true }
      case other =>
        throw new IllegalArgumentException(s"$file: unsupported format $other")
    }
  }

  /** Reusable per-task decode scratch: one native Inflater + one output
    * buffer for a whole member LOOP. A record-at-time archive holds one
    * gzip member per record — allocating a fresh Inflater (a native
    * zlib stream init/free) and a 64 KiB buffer PER MEMBER cost more
    * than the inflation itself at ~2 KiB members (150k members/archive
    * at bench sf). `Inflater.reset()` restores a clean stream between
    * members.
    */
  private[sources] final class InflateScratch {
    val inf = new Inflater(true)
    val buf = new Array[Byte](65536)
  }

  /** Inflate exactly one gzip member starting at `pos0`, streaming 64 KiB
    * chunks into `parser`; returns the offset just past the member's
    * trailer (the reference's start_next_segment bookkeeping,
    * compress.rs:174-196, decode.rs:733-753). Only `bytes[0, lim)` is
    * read (a read window may hold fewer valid bytes than its capacity);
    * `errBase` is added to the offsets in error messages so a window
    * reports file offsets.
    */
  private[sources] def inflateMember(bytes: Array[Byte], pos0: Int, lim: Int,
                                     parser: RecordParser, scratch: InflateScratch,
                                     errBase: Long = 0L): Int = {
    require(pos0 + 2 <= lim &&
      bytes(pos0) == GzipMagic(0) && bytes(pos0 + 1) == GzipMagic(1),
      s"bad gzip magic at offset ${errBase + pos0}")
    var pos = skipGzipHeader(bytes, pos0 + 2, lim)
    val inf = scratch.inf
    inf.reset() // clean stream state even after a prior member threw
    inf.setInput(bytes, pos, lim - pos)
    while (!inf.finished()) {
      val n = inf.inflate(scratch.buf)
      if (n > 0) parser.append(scratch.buf, 0, n)
      else if (inf.needsInput()) throw new EOFException(s"truncated deflate data at ${errBase + pos}")
    }
    pos += inf.getBytesRead.toInt
    require(pos + 8 <= lim, s"truncated gzip trailer at offset ${errBase + pos}")
    pos + 8 // CRC32 + ISIZE
  }

  /** Decode a plain (uncompressed) WARC byte stream into records with
    * exact byte-offset positions. Malformed input throws
    * IllegalArgumentException with the byte offset (the decoder's
    * typestate errors, decode.rs:217-303). Non-streaming convenience over
    * [[RecordParser]] — [[WarcFileDecoder]] is the bounded-memory path.
    */
  def decodeRecords(bytes: Array[Byte], file: String): Seq[WarcRecord] = {
    val p = new RecordParser(file)
    p.append(bytes, 0, bytes.length)
    p.finish()
    Iterator.continually(p.next()).takeWhile(_.isDefined).flatten.toVector
  }

  /** Encode records back to WARC bytes (encode.rs:41-132): header +
    * exactly Content-Length block bytes + CRLF CRLF. The Content-Length
    * header must equal the block length (ContentLengthMismatch,
    * encode.rs:119-132).
    */
  def encodeRecords(records: Seq[WarcRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val declared = r.fields.find(_.name.equalsIgnoreCase("Content-Length")).map(_.value)
      require(declared.contains(r.bytes.length.toString),
        s"Content-Length mismatch at position ${r.position}: " +
          s"declared ${declared.orNull}, block ${r.bytes.length}")
      out.write(HeaderSerde.serialize(r.version, r.fields))
      out.write(r.bytes)
      out.write(HeaderTerminator)
    }
    out.toByteArray
  }

  // ---- whole-file container wrappers (compress.rs:43-58): one zlib or
  //      raw-brotli stream around the WHOLE record stream; these formats
  //      do not support concatenation (compress.rs:68-76), so there is
  //      no record-at-time form and no byte-range splitting ----

  /** Whole-file zlib-deflate container (compress.rs:46). */
  def encodeDeflateWhole(records: Seq[WarcRecord]): Array[Byte] = {
    val plain = encodeRecords(records)
    val d = new Deflater()
    d.setInput(plain)
    d.finish()
    val out = new ByteArrayOutputStream(plain.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Whole-file raw-brotli container (compress.rs:52) via the in-repo
    * stored-mode RFC 7932 encoder (every conforming decoder accepts it;
    * decode-side richness is pinned by BrotliSpec's real-encoder
    * vectors).
    */
  def encodeBrotliWhole(records: Seq[WarcRecord]): Array[Byte] =
    graft.ops.Brotli.compressStored(encodeRecords(records))

  // ---- record-at-time gzip (one member per record, compress.rs:62-76) ----

  /** Gzip-compress each record as its own member and concatenate —
    * record-at-time compression (encode.rs:108-113 → compress.rs:174-196).
    */
  def encodeGzip(records: Seq[WarcRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val plain = encodeRecords(Seq(r))
      // end the native Deflater per member (close() would close the
      // shared sink; finish() alone strands a zlib context per record)
      val gz = new java.util.zip.GZIPOutputStream(out) {
        `def`.setLevel(Deflater.BEST_SPEED)
        def end(): Unit = `def`.end()
      }
      gz.write(plain)
      gz.finish()
      gz.end()
    }
    out.toByteArray
  }

  /** Decode concatenated gzip members into the logical record stream.
    * Positions are offsets in the UNCOMPRESSED stream (what the logical
    * record order keys on). Streams member-at-a-time via
    * [[WarcFileDecoder]] — the whole decompressed file is never
    * materialized.
    */
  def decodeGzip(bytes: Array[Byte], file: String): Seq[WarcRecord] =
    new WarcFileDecoder(bytes, file).toVector

  /** Inflate ALL concatenated gzip members. Manual `Inflater` over the
    * byte array (GZIPInputStream can desync at member boundaries because
    * its internal buffering overshoots) — `getBytesRead` gives the exact
    * member end, mirroring the reference's deferred-input bookkeeping
    * (decode.rs:733-753, compress.rs start_next_segment).
    */
  def gunzipConcatenated(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream( // clamp: * 3 overflows Int past ~715 MiB input
      math.min(bytes.length.toLong * 3, (Int.MaxValue - 8).toLong).toInt)
    var pos = 0
    while (pos < bytes.length) {
      require(pos + 2 <= bytes.length &&
        bytes(pos) == GzipMagic(0) && bytes(pos + 1) == GzipMagic(1),
        s"bad gzip magic at offset $pos")
      pos = skipGzipHeader(bytes, pos + 2, bytes.length)
      val inf = new Inflater(true)
      inf.setInput(bytes, pos, bytes.length - pos)
      val buf = new Array[Byte](65536)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (inf.needsInput()) throw new EOFException(s"truncated deflate data at $pos")
      }
      pos += inf.getBytesRead.toInt
      inf.end()
      require(pos + 8 <= bytes.length, s"truncated gzip trailer at offset $pos")
      pos += 8 // CRC32 + ISIZE
    }
    out.toByteArray
  }

  /** Decompress ONE zstd frame `bytes[pos, pos+fsize)` into `parser`.
    *
    * Fast path (no dictionary AND the frame header pledges its content
    * size — which our record-at-time encoder always does, since
    * one-shot `ZstdCompressCtx.compress` pledges): a single static JNI
    * decompress call, no stream objects. A fresh `ZstdInputStream` per
    * frame costs a native stream-context init plus several JNI
    * crossings per RECORD, which at one-frame-per-record archives is
    * the dominant decode cost: the 150k-record q67 bench archive split
    * 17 s via streams vs ~3 s for the SAME records as gzip members
    * (whose `inflateMember` reuses one Inflater). Dictionary frames get
    * the same one-shot treatment via `decompressUsingDict`. Unknown-size
    * and oversized (>1 GiB pledged — don't trust a corrupt header with
    * an allocation) frames keep the streaming path.
    */
  /** Reusable per-task zstd decode scratch: ONE native decompression
    * context, with the dictionary digested ONCE at construction. The
    * static `Zstd.decompress*` helpers create and free a native
    * ZSTD_DCtx per call — and the usingDict variant re-digests the
    * dictionary per call — which dominates ~500 B record-at-time
    * frames at 10^5 frames/archive, the zstd twin of [[InflateScratch]].
    * A task's dictionary never changes mid-file (decode loops pass one
    * `dict` for the whole range), so the ctx is bound to it up front.
    */
  private[sources] final class ZstdScratch(dict: Option[Array[Byte]]) {
    val ctx = new com.github.luben.zstd.ZstdDecompressCtx()
    dict.foreach(ctx.loadDict)
  }

  private[sources] def decompressZstdFrame(bytes: Array[Byte], pos: Int,
      fsize: Int, dict: Option[Array[Byte]], parser: RecordParser,
      chunk: Array[Byte] = null, scratch: ZstdScratch = null): Unit = {
    import com.github.luben.zstd.Zstd
    val contentSize =
      try Zstd.getFrameContentSize(bytes, pos, fsize)
      catch { case _: RuntimeException => -1L }
    if (contentSize >= 0 && contentSize <= (1L << 30)) {
      val dst = new Array[Byte](contentSize.toInt)
      // scratch path decodes with the same dictionary semantics as the
      // statics (a dict-free frame never back-references dict content,
      // so a loaded dict is inert for it) — bit-identical output
      val n =
        if (scratch != null)
          scratch.ctx.decompressByteArray(dst, 0, dst.length, bytes, pos, fsize).toLong
        else dict match {
          case Some(d) => Zstd.decompressUsingDict(dst, 0, bytes, pos, fsize, d)
          case None => Zstd.decompressByteArray(dst, 0, dst.length, bytes, pos, fsize)
        }
      if (n > 0) parser.append(dst, 0, n.toInt)
    } else {
      val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
        new java.io.ByteArrayInputStream(bytes, pos, fsize))
      try {
        dict.foreach(in.setDict)
        // the fallback allocates its own buffer only when actually
        // taken — callers on the fast path must not pay a 64 KiB
        // allocation per frame
        val ch = if (chunk != null) chunk else new Array[Byte](65536)
        var n = in.read(ch)
        while (n >= 0) {
          if (n > 0) parser.append(ch, 0, n)
          n = in.read(ch)
        }
      } finally in.close()
    }
  }

  // ---- record-at-time zstd (one frame per record; dictionary in a
  //      skippable frame, reference src/compress/zstd.rs:13-58) ----

  /** The reference's dictionary skippable-frame magic (zstd.rs:13). */
  val ZstdDictFrameMagic = 0x184d2a5d

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private[sources] def readLe32(b: Array[Byte], pos: Int): Int =
    (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
      ((b(pos + 2) & 0xff) << 16) | ((b(pos + 3) & 0xff) << 24)

  /** Zstd-compress each record as its own frame; optional dictionary is
    * written first inside skippable frame 0x184D2A5D (itself optionally
    * zstd-compressed, like the reference's compressed-dictionary mode).
    */
  def encodeZstd(records: Seq[WarcRecord], level: Int = 3,
                 dict: Option[Array[Byte]] = None,
                 compressDict: Boolean = false): Array[Byte] = {
    import com.github.luben.zstd.{Zstd, ZstdCompressCtx}
    val out = new ByteArrayOutputStream()
    dict.foreach { d =>
      val payload = if (compressDict) Zstd.compress(d, level) else d
      out.write(le32(ZstdDictFrameMagic))
      out.write(le32(payload.length))
      out.write(payload)
    }
    // ONE native context for the whole batch (level + dict persist
    // across one-shot compress calls; each call still emits an
    // independent frame): a fresh ZstdCompressCtx per record paid a
    // native init per frame, the same per-record JNI tax the decode
    // side had (see decompressZstdFrame)
    val ctx = new ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      dict.foreach(ctx.loadDict)
      records.foreach { r => out.write(ctx.compress(encodeRecords(Seq(r)))) }
    } finally ctx.close()
    out.toByteArray
  }

  /** Decode concatenated zstd frames (dictionary skippable frame honored,
    * compressed dictionaries auto-detected by magic, zstd.rs:38-52).
    * Streams in 64 KiB chunks via [[WarcFileDecoder]].
    */
  def decodeZstd(bytes: Array[Byte], file: String): Seq[WarcRecord] =
    new WarcFileDecoder(bytes, file).toVector

  /** Parse the optional leading dictionary skippable frame (zstd.rs:13-58):
    * returns (dictionary, offset of the first content frame). A dictionary
    * payload that itself starts with zstd magic is a COMPRESSED dictionary
    * and is inflated first.
    */
  private[sources] def zstdDictFrame(bytes: Array[Byte]): (Option[Array[Byte]], Int) = {
    import com.github.luben.zstd.Zstd
    if (bytes.length >= 8 && readLe32(bytes, 0) == ZstdDictFrameMagic) {
      // unsigned size: a signed read of a corrupt high-bit size would
      // pass the bound check with a negative value and yield an empty dict
      val len = readLe32(bytes, 4) & 0xffffffffL
      require(8 + len <= bytes.length, "truncated zstd dictionary frame")
      val payload = bytes.slice(8, (8 + len).toInt)
      val dict =
        if (payload.length >= 4 && payload.take(4).sameElements(ZstdMagic)) {
          val size = Zstd.getFrameContentSize(payload)
          // upper bound like decompressZstdFrame: never trust a corrupt
          // pledged size with a near-2 GiB allocation
          require(size > 0 && size <= (1L << 30),
            s"compressed dictionary content size $size out of range")
          Zstd.decompress(payload, size.toInt)
        } else payload
      (Some(dict), (8 + len).toInt)
    } else (None, 0)
  }

  def unzstdConcatenated(bytes: Array[Byte]): Array[Byte] = {
    import com.github.luben.zstd.ZstdInputStreamNoFinalizer
    val (dict, pos) = zstdDictFrame(bytes)
    val in = new ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(bytes, pos, bytes.length - pos))
    try {
      in.setContinuous(true)
      dict.foreach(in.setDict)
      val out = new ByteArrayOutputStream( // clamp: * 3 overflows Int past ~715 MiB input
      math.min(bytes.length.toLong * 3, (Int.MaxValue - 8).toLong).toInt)
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Skip a gzip member header starting AFTER the 2 magic bytes; returns
    * the offset of the deflate data.
    */
  private[sources] def skipGzipHeader(bytes: Array[Byte], start: Int, lim: Int): Int = {
    def u8(i: Int): Int = {
      if (i >= lim) throw new EOFException("truncated gzip header")
      bytes(i) & 0xff
    }
    var pos = start
    val cm = u8(pos); require(cm == 8, "unsupported gzip compression method")
    val flg = u8(pos + 1)
    pos += 8 // CM FLG MTIME(4) XFL OS
    if ((flg & 0x04) != 0) { // FEXTRA
      val xlen = u8(pos) | (u8(pos + 1) << 8)
      pos += 2 + xlen
    }
    if ((flg & 0x08) != 0) { while (u8(pos) != 0) pos += 1; pos += 1 } // FNAME
    if ((flg & 0x10) != 0) { while (u8(pos) != 0) pos += 1; pos += 1 } // FCOMMENT
    if ((flg & 0x02) != 0) pos += 2 // FHCRC
    // fixed-size parts are skipped unread: a header cut inside one ends
    // past the readable bytes
    if (pos > lim) throw new EOFException("truncated gzip header")
    pos
  }
}
