package graft.sources

import graft.core.WarcRecord
import org.apache.spark.sql.{Dataset, SparkSession}

import java.io.EOFException
import java.util.zip.Inflater

/** Record-boundary splitter for ONE large record-at-time `.warc.gz` file
  * (SURVEY §2.1 near-miss closed): N byte-range tasks per file instead of
  * one task per file. The enabler is the record-at-time contract — each
  * record is its own gzip member (reference compress.rs:62-76), so member
  * starts ARE record boundaries (the reference's record_boundary_position
  * bookkeeping, decode.rs:51-56) and any task can start decoding at the
  * first member magic at-or-after its range start with zero coordination.
  *
  * Split protocol (the classic Hadoop input-split convention): a member
  * whose START offset lies in [start, end) belongs to that task, even when
  * its bytes run past `end` — so every member is decoded by exactly one
  * task and the union over tasks is the whole file.
  *
  * Boundary detection: gzip magic `1f 8b 08` is validated by inflating a
  * small prefix and checking it yields `WARC/` — a magic inside deflate
  * data fails validation (and even a pathological false positive would
  * fail record framing loudly, never silently misparse).
  *
  * `position` here is the member's COMPRESSED file offset — the byte-seek
  * offset [[WarcSource.get]] accepts — because a mid-file task cannot know
  * cumulative UNCOMPRESSED offsets without decoding everything before it.
  * Whole-file [[WarcSource.read]] keeps the uncompressed-offset semantics;
  * the two are documented twins.
  *
  * Record-at-time ZSTD archives (one frame per record,
  * reference compress.rs:174-196) split the same way: frame magic
  * `28 b5 2f fd` validated by decoding the frame's first plaintext bytes
  * to `WARC/`; mid-file skippable frames are skipped. Archives led by a
  * skippable DICTIONARY frame (the reference's convention,
  * compress/zstd.rs:13-58) ARE splittable: the driver reads the head
  * frame once, BROADCASTS the dictionary (once per executor, not once
  * per task), and each task decodes (and boundary-validates) its frames
  * against it — the dictionary is crawl-shared state exactly like a
  * robots broadcast, not a reason to serialize the file.
  *
  * Memory per task: one window + one record, whatever `splitBytes` is.
  * A task reads its range through one stream into a fixed 256 KiB
  * window that slides forward over the file; it grows only while one
  * member is larger than it (up to `maxRecordBytes`). One record framer,
  * one Inflater and one zstd context are reused for every member of the
  * range. Plain files fall back to [[WarcSource.read]] (per-file
  * parallelism).
  */
object WarcSplit {

  /** Bytes a gzip candidate needs behind it to be VALIDATED (gzip
    * header + enough deflate to prove "WARC/"), also when it starts just
    * before its range end.
    */
  private val ValidationTail = 1024

  /** Zstd needs a LARGER validation tail: the streaming decoder emits
    * plaintext only on complete blocks (up to 128 KiB), so proving
    * "WARC/" for a member that starts just before a range end can need
    * the member's whole first block past the boundary — 1 KiB of
    * deflate-style lookahead would silently SKIP such members (losing
    * their records from every task). 256 KiB covers any legal block
    * plus frame header.
    */
  private val ZstdValidationTail = 256 << 10

  private def tailFor(format: String): Int =
    if (format == "zstd") ZstdValidationTail else ValidationTail

  /** Read window of a range task. Below G1's humongous-object threshold
    * (half a heap region, 512 KiB at the smallest region size), so the
    * window is an ordinary young-generation array, and no smaller than
    * [[ZstdValidationTail]], so a window starting at a candidate always
    * holds that candidate's validation bytes.
    */
  private val WindowBytes = 256 << 10

  private def hasMagic(buf: Array[Byte], i: Int, lim: Int, format: String): Boolean =
    if (format == "zstd")
      i + 4 <= lim && buf(i) == WarcBytes.ZstdMagic(0) && buf(i + 1) == WarcBytes.ZstdMagic(1) &&
        buf(i + 2) == WarcBytes.ZstdMagic(2) && buf(i + 3) == WarcBytes.ZstdMagic(3)
    else i + 3 <= lim && buf(i) == WarcBytes.GzipMagic(0) && buf(i + 1) == WarcBytes.GzipMagic(1) &&
      buf(i + 2) == 8

  /** True when `buf(i)` starts a genuine record-at-time member: gzip
    * magic + deflate method, and the member's first plaintext bytes are
    * `WARC/`. Only `buf[0, lim)` is read; too few bytes to prove it →
    * false (the caller retries with the full validation tail).
    */
  private[graft] def isMemberStart(buf: Array[Byte], i: Int, lim: Int): Boolean =
    i + 10 <= lim && hasMagic(buf, i, lim, "gzip") && {
        val inf = new Inflater(true)
        try {
          val dataStart = WarcBytes.skipGzipHeader(buf, i + 2, lim)
          inf.setInput(buf, dataStart, math.min(lim - dataStart, ValidationTail))
          val out = new Array[Byte](5)
          var got = 0
          var stuck = false
          while (got < 5 && !inf.finished() && !stuck) {
            val n = inf.inflate(out, got, 5 - got)
            if (n == 0) stuck = true else got += n
          }
          got == 5 && new String(out, "US-ASCII") == "WARC/"
        } catch { case _: Exception => false }
        finally inf.end()
      }

  /** [[isMemberStart]] twin for record-at-time zstd: content-frame magic
    * + the frame's first plaintext bytes prove `WARC/` (a magic inside
    * compressed data, or a dictionary payload inside a skippable frame,
    * fails the decode-prefix check). Insufficient bytes → false.
    */
  private[graft] def isZstdMemberStart(buf: Array[Byte], i: Int, lim: Int,
                                       dict: Option[Array[Byte]]): Boolean =
    hasMagic(buf, i, lim, "zstd") && {
        val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
          new java.io.ByteArrayInputStream(buf, i, lim - i))
        try {
          dict.foreach(in.setDict)
          val out = new Array[Byte](5)
          var got = 0
          var n = 0
          while (got < 5 && n >= 0) {
            n = in.read(out, got, 5 - got)
            if (n > 0) got += n
          }
          got == 5 && new String(out, "US-ASCII") == "WARC/"
        } catch { case _: Exception => false }
        finally in.close()
      }

  /** A sliding read window over one file: `buf[0, len)` holds the file
    * bytes `[start, start + len)`. `readAt(off, dst, dstOff, n)` must
    * fill `dst[dstOff, dstOff + n)` with the file bytes `[off, off + n)`.
    */
  private final class Window(readAt: (Long, Array[Byte], Int, Int) => Unit,
                             fileLen: Long, capacity: Int) {
    var buf = new Array[Byte](capacity)
    var start = 0L
    var len = 0
    def end: Long = start + len
    def atEof: Boolean = end >= fileLen

    /** Move the window to begin at `to`, keeping the bytes it already
      * holds from there on; a larger `cap` grows it.
      */
    def slide(to: Long, cap: Int = buf.length): Unit = {
      val keep = if (to >= start && to < end) (end - to).toInt else 0
      val dst = if (cap > buf.length) new Array[Byte](cap) else buf
      if (keep > 0) System.arraycopy(buf, (to - start).toInt, dst, 0, keep)
      buf = dst
      val n = math.min(buf.length.toLong, fileLen - to).toInt
      if (n > keep) readAt(to + keep, buf, keep, n - keep)
      start = to
      len = n
    }

    /** Make the window hold `[p, p + n)` (or `[p, EOF)`): slide to `p`,
      * growing only when `n` exceeds the window.
      */
    def ensure(p: Long, n: Int): Unit =
      if (p < start || p + n > end && !atEof)
        slide(p, math.max(buf.length.toLong, math.min(n.toLong, fileLen - p)).toInt)
  }

  /** File offset of the first validated member start in `[from, endB)`;
    * -1 when there is none. A candidate validated with fewer than the
    * format's tail bytes behind it (a window edge, not the file end) is
    * re-validated from a window starting at it before it is rejected.
    */
  private def firstMemberStart(w: Window, from: Long, endB: Long, format: String,
                               dict: Option[Array[Byte]]): Long = {
    val tail = tailFor(format)
    def isStart(i: Int): Boolean =
      if (format == "zstd") isZstdMemberStart(w.buf, i, w.len, dict)
      else isMemberStart(w.buf, i, w.len)
    var p = from
    while (p < endB) {
      w.ensure(p, 4)
      val i = (p - w.start).toInt
      if (hasMagic(w.buf, i, w.len, format)) {
        if (isStart(i)) return p
        if (w.end - p < tail && !w.atEof) {
          w.ensure(p, tail)
          if (isStart(0)) return p
        }
      }
      p += 1
    }
    -1L
  }

  /** Decode every member whose start offset lies in [start, end),
    * reading the file through one window of `windowBytes`. A member
    * that runs past the window edge slides the window to the member
    * start; one larger than the window grows it geometrically up to
    * `maxRecordBytes` (the [[WarcSource.get]] window discipline).
    */
  private[graft] def decodeRange(readAt: (Long, Array[Byte], Int, Int) => Unit, fileLen: Long,
                                   start: Long, end: Long, file: String,
                                   maxRecordBytes: Int = 64 << 20,
                                   format: String = "gzip",
                                   dict: Option[Array[Byte]] = None,
                                   contentStart: Long = 0L,
                                   windowBytes: Int = WindowBytes): Iterator[WarcRecord] = {
    // ranges are laid out over the whole file; content begins after any
    // leading dictionary frame, so a task whose range starts earlier
    // clamps (a range entirely inside the head frame owns nothing)
    val startC = math.max(start, contentStart)
    if (startC >= fileLen || startC >= end) return Iterator.empty
    val endB = math.min(end, fileLen)
    // never larger than the bytes the range and its validation tail span
    val w = new Window(readAt, fileLen, math.max(1L, math.min(windowBytes.toLong,
      math.min(endB + tailFor(format), fileLen) - startC)).toInt)
    w.slide(startC)

    val first =
      if (start == 0L && contentStart == 0L) {
        require(w.len >= 2 &&
          WarcBytes.detectFormat(java.util.Arrays.copyOf(w.buf, math.min(w.len, 8))) == format,
          s"$file: head magic is not $format (use WarcSource.read)")
        0L
      } else if (startC == contentStart && startC > start) {
        // first content byte: trust the driver's head-frame parse — the
        // first member starts exactly here (validated on decode anyway)
        startC
      } else firstMemberStart(w, startC, endB, format, dict)

    new Iterator[WarcRecord] {
      private var abs = first
      private val pending = scala.collection.mutable.Queue.empty[WarcRecord]
      // one framer for the whole range, reset per member: a framer per
      // member would zero a 64 KiB buffer per ~2 KiB member
      private val parser = new WarcBytes.RecordParser(file)
      // one Inflater + output buffer for the whole range (reset between
      // members): per-member native init/free dominated ~2 KiB members
      private lazy val gzScratch = new WarcBytes.InflateScratch
      // one zstd context per range (dictionary digested once) — the
      // static per-frame ctx create/free + dict re-digest was the same
      // pathology for ~500 B frames
      private lazy val zsScratch = new WarcBytes.ZstdScratch(dict)

      /** Decode one member (gzip) / one frame after any skippable
        * frames (zstd) at window offset `rel`; appends plaintext into
        * `parser`, returns the offset just past it. Truncation by the
        * window edge throws EOFException so the caller re-reads.
        */
      private def decodeOneMember(rel0: Int): Int = {
        val buf = w.buf
        val lim = w.len
        if (format == "zstd") {
          var rel = rel0
          // mid-stream skippable frames carry no records: skip them (the
          // LEADING dictionary frame was parsed by readSplit and sits
          // before contentStart, so no task ever decodes through it)
          while (rel + 8 <= lim &&
                 (WarcBytes.readLe32(buf, rel) & 0xfffffff0) == 0x184d2a50) {
            val skipLen = WarcBytes.readLe32(buf, rel + 4) & 0xffffffffL
            val next = rel.toLong + 8L + skipLen
            if (next > lim) throw new EOFException(
              s"$file: skippable frame at ${w.start + rel} runs past buffer")
            rel = next.toInt
          }
          if (rel >= lim) {
            if (w.start + rel >= fileLen) rel // trailing skippables at EOF
            else throw new EOFException(
              s"$file: frame head at ${w.start + rel} truncated")
          } else {
            val fsize =
              try com.github.luben.zstd.Zstd.findFrameCompressedSize(buf, rel, lim - rel)
              catch { case _: RuntimeException =>
                throw new EOFException(
                  s"$file: zstd frame at ${w.start + rel} undecodable in buffer")
              }
            if (fsize <= 0 || rel + fsize > lim)
              throw new EOFException(
                s"$file: zstd frame at ${w.start + rel} runs past buffer")
            // one-shot static decompress when the frame pledges its size
            // (our encoder always does) — a per-frame ZstdInputStream's
            // native init dominated the split decode (see
            // WarcBytes.decompressZstdFrame)
            WarcBytes.decompressZstdFrame(buf, rel, fsize.toInt, dict, parser,
              chunk = null, scratch = zsScratch)
            rel + fsize.toInt
          }
        } else WarcBytes.inflateMember(buf, rel0, lim, parser, gzScratch, w.start)
      }

      private def decodeMemberAt(offset: Long): Unit = {
        w.ensure(offset, 1)
        var done = false
        while (!done) {
          val rel = (offset - w.start).toInt
          parser.reset()
          try {
            val relNext = decodeOneMember(rel)
            parser.finish() // record-at-time: member ends ON a boundary
            var r = parser.next()
            require(r.nonEmpty || w.start + relNext >= fileLen,
              s"$file: empty member at offset $offset")
            while (r.nonEmpty) { // tolerate multi-record members like read()
              pending += r.get.copy(position = offset)
              r = parser.next()
            }
            abs = w.start + relNext
            done = true
          } catch {
            case e @ (_: EOFException | _: IllegalArgumentException) =>
              // truncated by the window edge vs genuinely malformed: only
              // a re-read with more bytes can tell. A member crossing the
              // edge slides the window to it; a member filling the whole
              // window grows it
              if (w.atEof) throw e
              if (rel > 0) w.slide(offset)
              else if (w.len >= maxRecordBytes) throw e
              else w.slide(offset, math.min(w.len * 2L,
                math.min(fileLen - offset, maxRecordBytes.toLong)).toInt)
          }
        }
      }

      override def hasNext: Boolean = {
        while (pending.isEmpty && abs >= 0 && abs < endB) decodeMemberAt(abs)
        pending.nonEmpty
      }

      override def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException("end of split")
        pending.dequeue()
      }
    }
  }

  /** Read ONE record-at-time `.warc.gz` file with `ceil(len/splitBytes)`
    * parallel range tasks. Each task scans for its first member boundary
    * and decodes members starting inside its range — per-RANGE
    * parallelism where [[WarcSource.read]] only has per-FILE parallelism,
    * so a single multi-GB archive saturates a cluster instead of one
    * core. `position` = compressed member offset (see object doc).
    */
  /** One planned byte-range task: everything a mid-file executor needs
    * to decode independently (format, head dictionary, content start).
    */
  private case class Split(file: String, fileLen: Long, start: Long,
                           end: Long, format: String,
                           dict: Option[Array[Byte]], contentStart: Long)

  /** Driver-side split planning for ONE archive: one 8-byte head read
    * classifies it (record-at-time gzip and zstd are both splittable —
    * member/frame starts are record boundaries). A zstd archive LED by
    * the skippable dictionary frame (compress/zstd.rs:13-58) is
    * splittable too: parse the head frame ONCE here; [[runSplits]]
    * strips it out of the per-task spec and broadcasts it (shared
    * crawl state, read once, used by every task).
    */
  private def planSplits(fs: org.apache.hadoop.fs.FileSystem,
                         path: org.apache.hadoop.fs.Path, fileLen: Long,
                         splitBytes: Long, maxRecordBytes: Int): Seq[Split] = {
    val file = path.toString
    // a zero-byte file is the valid EMPTY archive (what writeSingleFile
    // of an empty dataset produces, and what WarcFileDecoder decodes as
    // zero records) — zero splits, not a format error that would kill a
    // whole readSplitDir fleet over one empty member
    if (fileLen == 0) return Seq.empty
    def readAt(off: Long, n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      val in = fs.open(path)
      try { in.seek(off); in.readFully(a) } finally in.close()
      a
    }
    val head = readAt(0L, math.min(8L, fileLen).toInt)
    val format = WarcBytes.detectFormat(head) match {
      case "gzip" => "gzip"
      case "zstd" => "zstd"
      case other => throw new IllegalArgumentException(
        s"$file: format $other is not record-at-time splittable " +
          "(use WarcSource.read)")
    }
    val (dict, contentStart) =
      if (format == "zstd" && head.length >= 8 &&
          (WarcBytes.readLe32(head, 0) & 0xfffffff0) == 0x184d2a50) {
        // unsigned size; a non-dictionary leading skippable yields
        // (None, its end) — content simply starts after it
        val frameLen = WarcBytes.readLe32(head, 4) & 0xffffffffL
        require(8 + frameLen <= fileLen,
          s"$file: truncated leading skippable frame")
        require(frameLen <= maxRecordBytes,
          s"$file: leading skippable frame of $frameLen bytes exceeds " +
            s"maxRecordBytes=$maxRecordBytes")
        val frame = readAt(0L, (8 + frameLen).toInt)
        val (d, start) = WarcBytes.zstdDictFrame(frame)
        (d, if (start > 0) start.toLong else 8L + frameLen)
      } else (None, 0L)
    val nSplits = math.max(1L, (fileLen + splitBytes - 1) / splitBytes).toInt
    (0 until nSplits).map { i =>
      Split(file, fileLen, i * splitBytes,
        math.min((i + 1L) * splitBytes, fileLen), format, dict, contentStart)
    }
  }

  private def runSplits(spark: SparkSession, splits: Seq[Split],
                        maxRecordBytes: Int): Dataset[WarcRecord] = {
    import spark.implicits._
    // the head dictionary is per-FILE shared state: ship it ONCE per
    // executor via a broadcast instead of a copy inside every split's
    // task payload — a multi-GB archive at 128 MB splitBytes has
    // thousands of splits per file, and a dict embedded in each Split
    // would serialize (dict bytes × splits) of duplicate task bytes
    // from the driver
    val dictByFile = splits.iterator
      .flatMap(s => s.dict.map(d => s.file -> d)).toMap
    val dictBc = spark.sparkContext.broadcast(dictByFile)
    val bare = splits.map(_.copy(dict = None))
    val rdd = spark.sparkContext
      .parallelize(bare, math.max(1, bare.size))
      .flatMap { s =>
        // executor-side Configuration, like WarcSource.write: picks up
        // the cluster's fs.* settings from the classpath
        val p = new org.apache.hadoop.fs.Path(s.file)
        val efs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        // one stream per range, closed with the task; the window reads
        // forward through it, so a seek is rare
        val in = efs.open(p)
        org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
        def readAt(off: Long, dst: Array[Byte], dstOff: Int, n: Int): Unit = {
          if (in.getPos != off) in.seek(off)
          in.readFully(dst, dstOff, n)
        }
        decodeRange(readAt, s.fileLen, s.start, s.end, s.file,
          maxRecordBytes, s.format, dictBc.value.get(s.file), s.contentStart)
      }
    spark.createDataset(rdd)
  }

  def readSplit(spark: SparkSession, file: String, splitBytes: Long = 128L << 20,
                maxRecordBytes: Int = 64 << 20): Dataset[WarcRecord] = {
    require(splitBytes > 0, "splitBytes must be positive")
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(path).getLen
    runSplits(spark, planSplits(fs, path, fileLen, splitBytes, maxRecordBytes),
      maxRecordBytes)
  }

  /** Directory form: every record-at-time archive under `dir` matching
    * `glob`, split into byte-range tasks in ONE task cloud — the
    * bounded-memory fleet reader. [[WarcSource.read]] buffers each whole
    * file (Spark `binaryFile`, capped at 2 GiB and one task per file);
    * this path holds one read window + one record per task regardless
    * of archive and split size, and a directory of
    * multi-GB archives saturates a cluster instead of |files| cores.
    * `position` is the compressed member offset per the object doc.
    */
  def readSplitDir(spark: SparkSession, dir: String, glob: String = "*.warc*",
                   splitBytes: Long = 128L << 20,
                   maxRecordBytes: Int = 64 << 20): Dataset[WarcRecord] = {
    require(splitBytes > 0, "splitBytes must be positive")
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(base, glob))
    // Hadoop hidden-file convention ('.'/'_' prefixes): globStatus does
    // NOT apply FileInputFormat's hidden filter, and a checksummed local
    // FS leaves `.x.warc.gz.crc` sidecars next to every archive — those
    // must never be classified as archives
    val splits = Option(files).toSeq.flatten.filter(_.isFile)
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith(".") || n.startsWith("_")
      }
      .sortBy(_.getPath.toString)
      .flatMap(st => planSplits(fs, st.getPath, st.getLen, splitBytes,
        maxRecordBytes))
    runSplits(spark, splits, maxRecordBytes)
  }
}
