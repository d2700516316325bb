package perfbench

import graft.core.{Digests, Field, WarcRecord}
import graft.frontier.{Canonical, Scheduler}
import graft.ops.HttpOps
import graft.sources.WarcBytes
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Input sizes of one scale. `full` is what the benchmark measures;
  * `tiny` only exercises the code paths (self-tests).
  */
final case class Scale(frontierRows: Long, warcRecords: Int, warcFiles: Int)

object Scale {
  def apply(name: String): Scale = name match {
    case "full" => Scale(frontierRows = 300000L, warcRecords = 12000, warcFiles = 8)
    case "tiny" => Scale(frontierRows = 30000L, warcRecords = 600, warcFiles = 4)
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** What a workload reads. Every workload has all four inputs; the side a
  * workload bypasses is empty (an empty frontier table for warc-ingest, an
  * empty archive directory for the crawl workloads), so the traced run can
  * call every layer on every workload.
  */
final class Inputs(val dir: Path) {
  def frontier: String = dir.resolve("frontier").toString
  def seen: String = dir.resolve("seen").toString
  def robots: String = dir.resolve("robots").toString
  def warc: String = dir.resolve("warc").toString
  def manifestFile: Path = dir.resolve("manifest.json")
}

/** Input generation: deterministic in the seed and cached per (workload,
  * seed, scale). It runs in the benchmark JVM before the first set-up, and
  * its time is taken out of set-up time. The manifest holds the expected
  * outputs, computed without the code paths the timed ops use.
  */
object Inputs {
  val Buckets = 16
  val TailHosts = 10000
  val DegenerateHosts = 3
  val PerHostBudget = 100
  val FrontierSchema = "url STRING, priority_band INT, host STRING"
  val SeenSchema = "host STRING, url_key BIGINT"
  /** The checkpointed round columns the output digest reads. */
  val RoundSchema = "url_key BIGINT, batch_id BIGINT, scheduled_ms BIGINT"
  /** The per-host round cap the scheduler applies by default. */
  val Cap: Int = PerHostBudget * Scheduler.DefaultMaxBatchesPerHost

  /** Spread-leg threshold for a frontier of `rows` rows. The default
    * (`Scheduler.hotSpreadAuto`, floored at 1M rows) assumes a frontier
    * far larger than one benchmark op can scan, so the threshold is scaled
    * with the frontier: 5 % of its rows. The tail's top host holds about
    * 1 % of the rows and each degenerate host about 11 %.
    */
  def spreadRows(rows: Long): Long = math.max(rows / 20, 1L)

  /** Generate into a scratch directory and move it into place, so an
    * interrupted run never leaves inputs that look complete.
    */
  def generateCached(a: Args, in: Inputs): Unit = {
    val tmp = java.nio.file.Paths.get(s"${in.dir}.tmp-${ProcessHandle.current().pid()}")
    Workload.deleteTree(tmp)
    Files.createDirectories(in.dir.getParent)
    val spark = Session.build(a.workDir)
    try generate(spark, a.workload, a.seed, Scale(a.scale), new Inputs(tmp))
    finally spark.stop()
    Files.move(tmp, in.dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def generate(spark: SparkSession, workload: String, seed: Long, scale: Scale,
               in: Inputs): Unit = {
    Files.createDirectories(in.dir)
    Files.createDirectories(java.nio.file.Paths.get(in.warc))
    Synth.robots(spark, TailHosts, seed).toDF().write.mode("overwrite").parquet(in.robots)
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val crawl = workload == "crawl-round"
    writeFrontier(spark, seed, if (crawl) scale.frontierRows else 0L, in.frontier)
    val seenRows = writeSeen(spark, seed, in)
    // an empty frontier schedules nothing; no round needs to run to know it
    val crawlExpected =
      if (crawl) crawlManifest(spark, in, seenRows)
      else Map("frontier_rows" -> 0L, "seen_rows" -> 0L, "scheduled_rows" -> 0L,
        "scheduled_digest" -> "0", "seen_after_rows" -> 0L, "spread_rows" -> spreadRows(0L))
    val manifest = crawlExpected ++
      writeArchives(seed, if (crawl) 0 else scale.warcRecords, scale.warcFiles, in)
    Files.writeString(in.manifestFile, Json.render(manifest))
    spark.sql("DROP TABLE IF EXISTS pb_gen_frontier")
  }

  // ---- crawl inputs ----------------------------------------------------

  /** One frontier row: (url, priority_band). About 10 % of rows repeat an
    * earlier row's URL in a non-canonical spelling (fragment, upper-case
    * host, default port), so they are duplicates only after
    * canonicalization; 5 % of paths fall under a robots-disallowed prefix.
    */
  def frontierRow(seed: Long, i: Long): (String, Int) = {
    val r = new Synth.Rng(seed * 0x5851f42d4c957f2dL + i)
    val band = r.nextInt(4)
    val dup = i >= 1000 && r.nextInt(10) == 0
    val e = new Synth.Rng(seed * 0x5851f42d4c957f2dL + (if (dup) i - 1 - r.nextInt(1000) else i))
    val host =
      if (e.nextInt(3) == 0) s"d${e.nextInt(DegenerateHosts)}.example.test"
      else {
        val u = e.nextDouble()
        f"h${(u * u * TailHosts).toInt}%05d.example.test"
      }
    val n = math.floorMod(e.nextLong(), 100000000L)
    val path = if (e.nextInt(20) == 0) s"/private${e.nextInt(3)}/x$n" else s"/p/$n"
    val variant = if (dup) 1 + r.nextInt(3) else if (r.nextInt(20) == 0) 1 else 0
    val url = variant match {
      case 0 => s"https://$host$path"
      case 1 => s"https://$host$path#f${r.nextInt(100)}"
      case 2 => s"https://${host.toUpperCase}$path"
      case _ => s"https://$host:443$path"
    }
    (url, band)
  }

  private def writeFrontier(spark: SparkSession, seed: Long, rows: Long, path: String): Unit = {
    import spark.implicits._
    spark.range(rows).as[Long]
      .map(i => frontierRow(seed, i))
      .toDF("url", "priority_band")
      .withColumn("host", Canonical.hostOf(col("url")))
      .repartition(Buckets, col("host"))
      .write.mode("overwrite").bucketBy(Buckets, "host")
      .option("path", path).saveAsTable("pb_gen_frontier")
  }

  /** The seen snapshot: about half the frontier's keys plus as many keys
    * the frontier does not hold (none for an empty frontier).
    */
  private def writeSeen(spark: SparkSession, seed: Long, in: Inputs): Long = {
    val keys = Scheduler.canonicalize(spark.read.schema(FrontierSchema).parquet(in.frontier))
      .select(col("host"), col("url_key"))
    val present = keys.where(pmod(col("url_key"), lit(2L)) === 0L).dropDuplicates().cache()
    val absent = spark.range(present.count()).select(
      format_string("h%05d.example.test", pmod(col("id"), lit(TailHosts.toLong))).as("host"),
      xxhash64(lit(s"absent-$seed"), col("id")).as("url_key"))
    val seen = present.unionByName(absent)
    Scheduler.saveSeenClustered(seen, in.seen, Buckets)
    present.unpersist(true)
    spark.sql("DROP TABLE IF EXISTS graft_seen_write")
    spark.read.schema(SeenSchema).parquet(in.seen).count()
  }

  /** Expected round output from the plain `Scheduler.runRound` path: no
    * bucketed scan, no cached robots, no hot-host hint, and (with a seen
    * set) the bloom probe instead of the co-located anti-join.
    */
  private def crawlManifest(spark: SparkSession, in: Inputs, seenRows: Long): Map[String, Any] = {
    val frontier = spark.read.schema(FrontierSchema).parquet(in.frontier)
    val frontierRows = frontier.count()
    val seen = spark.read.schema(SeenSchema).parquet(in.seen)
    val out = Scheduler.runRound(frontier, seen, spark.read.parquet(in.robots),
      perHostBudget = PerHostBudget)
    val (rows, digest) = Checks.roundDigest(out)
    Map("frontier_rows" -> frontierRows, "seen_rows" -> seenRows,
      "scheduled_rows" -> rows, "scheduled_digest" -> digest,
      "seen_after_rows" -> (seenRows + rows),
      "spread_rows" -> spreadRows(frontierRows))
  }

  // ---- archive inputs --------------------------------------------------

  /** Verify problem kinds the generator injects, one problem per
    * injection. `invalid_content_length` is not among them: a record
    * whose Content-Length does not parse cannot be framed, so it never
    * reaches verify.
    */
  val Injected: Seq[String] = Seq(
    "missing_mandatory_field", "unknown_record_type", "invalid_date",
    "invalid_content_type", "prohibited_field", "invalid_ip_address",
    "bad_spec_uri", "invalid_uri", "missing_target_uri", "missing_profile",
    "bad_spec_profile", "invalid_truncated_reason", "missing_segment_number",
    "missing_segment_origin", "referenced_record_missing", "missing_segment",
    "mismatched_segment_length", "payload_digest_mismatch")

  private val Words = Vector("crawl", "frontier", "warc", "record", "digest",
    "spark", "host", "batch", "robots", "schedule", "payload", "segment")

  private def sha1(b: Array[Byte]): String =
    Digests.formatDigest("sha1", Digests.compute("sha1", b).get)

  private def body(r: Synth.Rng): Array[Byte] = {
    val sb = new StringBuilder
    val target = 800 + r.nextInt(5000)
    while (sb.length < target) {
      sb.append(Words(r.nextInt(Words.size))).append(' ')
      if (r.nextInt(12) == 0) sb.append(r.nextLong().toHexString).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** An HTTP response block for `content`: Content-Length framed,
    * chunked, gzip-encoded or br-encoded and chunked.
    */
  private def httpBlock(content: Array[Byte], variant: Int): Array[Byte] = {
    val (headers, framed) = variant match {
      case 0 => (s"Content-Length: ${content.length}\r\n", content)
      case 1 => ("Transfer-Encoding: chunked\r\n", HttpOps.encodeChunked(content, 1500))
      case 2 =>
        val z = gzip(content)
        (s"Content-Encoding: gzip\r\nContent-Length: ${z.length}\r\n", z)
      case _ =>
        ("Content-Encoding: br\r\nTransfer-Encoding: chunked\r\n",
          HttpOps.encodeChunked(graft.ops.Brotli.compressStored(content), 2000))
    }
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + headers + "\r\n").getBytes(UTF_8) ++ framed
  }

  /** The archive records plus the expected verify and extract outcomes. */
  def archiveRecords(seed: Long, n: Int): (Vector[WarcRecord], Map[String, Long], Long, BigInt) = {
    val out = Vector.newBuilder[WarcRecord]
    val problems = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var extractRows = 0L
    var extractXxh3 = BigInt(0)
    def id(i: Int, part: Int = 0) = f"<urn:uuid:pb-${seed & 0xffffffffL}%08x-$i%08d-$part>"
    def rec(fields: Seq[(String, String)], block: Array[Byte]): WarcRecord =
      WarcRecord(0L, "", "WARC/1.1",
        (fields :+ ("Content-Length" -> block.length.toString)).map { case (k, v) => Field(k, v) },
        block)
    for (i <- 0 until n) {
      val r = new Synth.Rng(seed * 0x2545f4914f6cdd1dL + i)
      val content = body(r)
      val injection = if (i % 10 == 7) Some(Injected((i / 10) % Injected.size)) else None
      val response = injection match {
        case Some("invalid_ip_address" | "referenced_record_missing" | "payload_digest_mismatch") => true
        case Some(_) => false
        case None => i % 2 == 1
      }
      val block = if (response) httpBlock(content, r.nextInt(4)) else content
      val uri = s"https://h${r.nextInt(TailHosts)}.example.test/doc/$i"
      val common = Seq("WARC-Record-ID" -> id(i), "WARC-Date" -> "2025-01-01T00:00:00Z",
        "WARC-Block-Digest" -> sha1(block))
      val typed =
        if (response) Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http;msgtype=response",
          "WARC-IP-Address" -> "192.0.2.7", "WARC-Payload-Digest" -> sha1(content))
        else Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> uri,
          "Content-Type" -> "text/plain", "WARC-Payload-Digest" -> sha1(content))
      var fields = common ++ typed
      def set(k: String, v: String): Unit =
        fields = fields.filterNot(_._1 == k) :+ (k -> v)
      def drop(k: String): Unit = fields = fields.filterNot(_._1 == k)
      var extra = Option.empty[WarcRecord]
      // a continuation segment; its declared total length is the chain's
      // true length plus `totalError` (None: no total declared)
      def continuation(number: Int, totalError: Option[Long]): WarcRecord = {
        val part = body(r)
        val total = totalError.map(_ + block.length + part.length)
        rec(Seq("WARC-Record-ID" -> id(i, 1), "WARC-Type" -> "continuation",
          "WARC-Date" -> "2025-01-01T00:00:00Z", "WARC-Target-URI" -> uri,
          "WARC-Segment-Origin-ID" -> id(i), "WARC-Segment-Number" -> number.toString) ++
          total.map(t => "WARC-Segment-Total-Length" -> t.toString), part)
      }
      injection.foreach {
        case "missing_mandatory_field" => drop("WARC-Date")
        case "unknown_record_type" => set("WARC-Type", "bogus")
        case "invalid_date" => set("WARC-Date", "2025-13-45T00:00:00Z")
        case "invalid_content_type" => set("Content-Type", "not a type")
        case "prohibited_field" => set("WARC-Filename", "other.warc.gz")
        case "invalid_ip_address" => set("WARC-IP-Address", "999.1.1.1")
        case "bad_spec_uri" => set("WARC-Type", "metadata"); set("WARC-Target-URI", "<" + uri + ">")
        case "invalid_uri" => set("WARC-Type", "metadata"); set("WARC-Target-URI", "not a uri")
        case "missing_target_uri" => drop("WARC-Target-URI")
        case "missing_profile" => set("WARC-Type", "revisit")
        case "bad_spec_profile" =>
          set("WARC-Type", "revisit")
          set("WARC-Profile", "<http://netpreserve.org/warc/1.1/revisit/identical-payload-digest>")
        case "invalid_truncated_reason" => set("WARC-Truncated", "bogus")
        case "missing_segment_number" =>
          set("WARC-Type", "continuation"); set("WARC-Segment-Origin-ID", id(i + 1))
        case "missing_segment_origin" =>
          set("WARC-Type", "continuation"); set("WARC-Segment-Number", "2")
        case "referenced_record_missing" => set("WARC-Concurrent-To", id(i, 9))
        case "missing_segment" =>
          set("WARC-Segment-Number", "1"); extra = Some(continuation(3, None))
        case "mismatched_segment_length" =>
          set("WARC-Segment-Number", "1"); extra = Some(continuation(2, Some(1L)))
        case "payload_digest_mismatch" =>
          set("WARC-Payload-Digest",
            if (i % 20 == 7) sha1(content :+ 'X'.toByte) else "not!!a@@digest")
        case other => throw new IllegalStateException(other)
      }
      injection.foreach(k => problems(k) += 1)
      // references that resolve, and a segment chain that is whole: both
      // must yield no problem
      if (injection.isEmpty && i % 10 == 5 && i > 0) set("WARC-Concurrent-To", id(i - 1))
      if (injection.isEmpty && i % 100 == 3) {
        set("WARC-Segment-Number", "1")
        extra = Some(continuation(2, Some(0L)))
      }
      val record = rec(fields, block)
      out += record
      extra.foreach(out += _)
      val m = record.fields.map(f => f.name -> f.value).toMap
      val extractable = !m.contains("WARC-Segment-Number") && m.contains("WARC-Target-URI") &&
        (m("WARC-Type") == "resource" || m("WARC-Type") == "response")
      if (extractable) {
        extractRows += 1
        extractXxh3 += graft.core.Xxh3.hash(content)
      }
    }
    (out.result(), problems.toMap, extractRows, extractXxh3)
  }

  private def writeArchives(seed: Long, n: Int, nFiles: Int, in: Inputs): Map[String, Any] = {
    val (records, problems, extractRows, extractXxh3) = archiveRecords(seed, n)
    val per = math.max(1, (records.size + nFiles - 1) / nFiles)
    records.grouped(per).zipWithIndex.foreach { case (group, f) =>
      val (name, bytes) =
        if (f % 2 == 0) (f"part-$f%03d.warc.gz", WarcBytes.encodeGzip(group))
        else (f"part-$f%03d.warc.zst", WarcBytes.encodeZstd(group))
      Files.write(java.nio.file.Paths.get(in.warc, name), bytes)
    }
    Map("records" -> records.size.toLong, "problems" -> problems,
      "extract_rows" -> extractRows, "extract_xxh3_sum" -> extractXxh3.toString)
  }
}
