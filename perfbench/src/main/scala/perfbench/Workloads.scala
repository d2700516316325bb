package perfbench

import graft.core.{Digests, FieldOps, WarcRecord}
import graft.frontier.{Politeness, Scheduler, SeenSet}
import graft.ops.{ExtractOp, HttpOps, VerifyOp}
import graft.sources.{WarcBytes, WarcSplit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A workload after set-up: one timed op and the traced layer sweep.
  * `op` returns the output-check failures (empty when the outputs match
  * the manifest) and the wall time of each pass an op has.
  */
trait Workload {
  /** Frontier rows or archive records handled by one op. */
  def items: Long
  def op(): (Seq[String], Map[String, Double])
  /** Per-layer metrics; each failed cross-check is added to `problems`. */
  def layers(t: Tracer, problems: scala.collection.mutable.Buffer[String]): Map[String, Double]
}

object Workload {
  val Names = Seq("crawl-round", "warc-ingest")

  /** Set-up: table registration, robots broadcast, hot-host set and the
    * seen snapshot are all loaded here, before any op is timed.
    */
  def setUp(name: String, spark: SparkSession, in: Inputs, manifest: Map[String, Any],
            work: java.nio.file.Path): Workload = name match {
    case "crawl-round" => new Crawl(spark, in, manifest, work)
    case "warc-ingest" => new Ingest(spark, in, manifest)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def num(m: Map[String, Any], k: String): BigDecimal = m(k) match {
    case b: BigInt => BigDecimal(b)
    case s: String => BigDecimal(s)
    case other => throw new IllegalStateException(s"manifest $k=$other")
  }

  def expect(problems: scala.collection.mutable.Buffer[String], what: String,
             got: Any, want: Any): Unit =
    if (got.toString != want.toString) problems += s"$what: got $got, want $want"

  private[perfbench] def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
}

/** The frontier side. Every call goes through `Scheduler`, `Politeness`
  * and `SeenSet`.
  */
final class Crawl(spark: SparkSession, in: Inputs, manifest: Map[String, Any],
                  work: java.nio.file.Path) extends Workload {
  import Workload._

  spark.sql("DROP TABLE IF EXISTS pb_frontier")
  spark.sql(s"CREATE TABLE pb_frontier (${Inputs.FrontierSchema}) USING parquet " +
    s"CLUSTERED BY (host) INTO ${Inputs.Buckets} BUCKETS LOCATION '${in.frontier}'")
  private val frontier = spark.table("pb_frontier")
  private val robotsBc = Politeness.robotsBroadcast(spark.read.parquet(in.robots))
  private val spread = num(manifest, "spread_rows").toLong
  private val hot = Scheduler.hotHosts(frontier, Inputs.PerHostBudget, hotSpreadRows = spread)
  private val seen = Scheduler.loadSeenClustered(spark, in.seen, Inputs.Buckets)
  val items: Long = num(manifest, "frontier_rows").toLong
  private val ckpt = work.resolve("checkpoint")
  private val seenOut = work.resolve("seen-next")

  private def round(): DataFrame =
    Scheduler.runRoundCached(frontier, seen, robotsBc, perHostBudget = Inputs.PerHostBudget,
      frontierHostClustered = true, knownHotHosts = Some(hot),
      seenHostClustered = true, hotSpreadRows = spread)

  private def checkRound(problems: scala.collection.mutable.Buffer[String], what: String,
                         digest: (Long, String)): Unit = {
    expect(problems, s"$what rows", digest._1, num(manifest, "scheduled_rows").toLong)
    expect(problems, s"$what digest", digest._2, num(manifest, "scheduled_digest").toBigInt)
  }

  /** The fused round, materialized by its digest. The writers that follow
    * a round are timed per layer in the traced run only: with them an op
    * took about twice as long, too long for a steady median of several ops
    * in one run.
    */
  def op(): (Seq[String], Map[String, Double]) = {
    val problems = scala.collection.mutable.Buffer[String]()
    checkRound(problems, "round", Checks.roundDigest(round()))
    (problems.toSeq, Map.empty)
  }

  /** Checkpoint `batches` and write the next seen snapshot into a fresh
    * directory; both are read back, checked and removed.
    */
  private def writeRound(t: Tracer, batches: DataFrame,
                         problems: scala.collection.mutable.Buffer[String]): Unit = {
    t.span("frontier.checkpoint")(Scheduler.checkpointRound(batches, ckpt.toString, 1))
    t.span("frontier.seen_write") {
      val delta = spark.read.schema(Inputs.SeenSchema).parquet(ckpt.resolve("seen/round=1").toString)
      Scheduler.saveSeenClustered(seen.unionByName(delta), seenOut.toString, Inputs.Buckets)
    }
    checkRound(problems, "checkpoint", Checks.roundDigest(
      spark.read.schema(Inputs.RoundSchema).parquet(ckpt.resolve("rounds/round=1").toString)))
    expect(problems, "next seen rows",
      spark.read.schema(Inputs.SeenSchema).parquet(seenOut.toString).count(),
      num(manifest, "seen_after_rows").toLong)
    Workload.deleteTree(ckpt); Workload.deleteTree(seenOut)
  }

  def layers(t: Tracer, problems: scala.collection.mutable.Buffer[String]): Map[String, Double] = {
    def persisted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val n = p.count()
      t.count("rows_out", n.toDouble)
      (p, n)
    }
    val scanned = t.span("frontier.scan") {
      val r = frontier.agg(count(lit(1)), max(xxhash64(frontier.columns.map(col): _*))).head()
      t.count("rows", r.getLong(0).toDouble); r.getLong(0)
    }
    val (canon, nCanon) = t.span("frontier.canonicalize")(persisted(Scheduler.canonicalize(frontier)))
    val nHot = t.span("frontier.hot_hosts") {
      Scheduler.hotHosts(frontier, Inputs.PerHostBudget, hotSpreadRows = spread).length
    }
    val seenSide = seen.select(col("host").as("__sh"), col("url_key").as("__sk"))
    val (fresh, nFresh) = t.span("frontier.seen_filter") {
      persisted(canon.join(seenSide,
        col("host") <=> col("__sh") && col("url_key") === col("__sk"), "left_anti"))
    }
    val nBloom = t.span("frontier.seen_bloom") {
      val nSeen = seen.count()
      val perBucket = math.max(1024L, nSeen * 5L / (4L * Inputs.Buckets) + 1L)
      val buckets = SeenSet.buildBuckets(seen, "url_key", Inputs.Buckets, expectedPerBucket = perBucket)
      SeenSet.probeAndConfirm(canon, seen, "url_key", buckets, Inputs.Buckets,
        buildBytesHint = SeenSet.estimatedBloomBytes(perBucket, Inputs.Buckets)).count()
    }
    expect(problems, "bloom probe vs anti-join rows", nBloom, nFresh)
    val (robotted, nRobots) = t.span("frontier.robots")(persisted(Politeness.applyRobotsMap(fresh, robotsBc)))
    val (deduped, nDedupe) = t.span("frontier.dedupe")(persisted(Scheduler.dedupeWithinBatch(robotted)))
    val (staged, nStaged) = t.span("frontier.schedule") {
      persisted(Politeness.fetchBatches(
        Politeness.schedule(Politeness.capPerHost(deduped, Inputs.Cap)), Inputs.PerHostBudget))
    }
    val hostsCapped = deduped.groupBy("host").count().where(col("count") > Inputs.Cap).count()
    val stagedDigest = Checks.roundDigest(staged)
    val fusedDigest = t.span("frontier.round")(Checks.roundDigest(round()))
    expect(problems, "staged vs fused round digest", stagedDigest, fusedDigest)
    if (items > 0)
      t.notes("staged_vs_fused_digest") = if (stagedDigest == fusedDigest) "match" else "MISMATCH"
    checkRound(problems, "fused round", fusedDigest)
    writeRound(t, staged, problems)
    Seq(canon, fresh, robotted, deduped, staged).foreach(_.unpersist(true))

    expect(problems, "scanned rows", scanned, items)
    t.flush(spark)
    val r = t.find("frontier.round")
    val rs = t.stats(r)
    def self(n: String) = t.selfS(t.find(n))
    Map(
      "frontier.scan_s" -> self("frontier.scan"),
      "frontier.canonicalize_s" -> self("frontier.canonicalize"),
      "frontier.hot_hosts_s" -> self("frontier.hot_hosts"),
      "frontier.hot_hosts" -> nHot.toDouble,
      "frontier.seen_filter_s" -> self("frontier.seen_filter"),
      "frontier.seen_dropped" -> (nCanon - nFresh).toDouble,
      "frontier.seen_bloom_s" -> self("frontier.seen_bloom"),
      "frontier.robots_s" -> self("frontier.robots"),
      "frontier.robots_dropped" -> (nFresh - nRobots).toDouble,
      "frontier.dedupe_s" -> self("frontier.dedupe"),
      "frontier.dedupe_dropped" -> (nRobots - nDedupe).toDouble,
      "frontier.schedule_s" -> self("frontier.schedule"),
      "frontier.capped_rows" -> (nDedupe - nStaged).toDouble,
      "frontier.hosts_capped" -> hostsCapped.toDouble,
      "frontier.round_s" -> r.wallS,
      "frontier.round_shuffle_mb" -> rs.shuffleWriteMb,
      "frontier.round_spill_mb" -> rs.spillMb,
      "frontier.round_task_skew" -> rs.skew,
      "frontier.round_busy_frac" -> t.busyFrac(r),
      "frontier.checkpoint_s" -> self("frontier.checkpoint"),
      "frontier.checkpoint_mb" -> t.stats(t.find("frontier.checkpoint")).outputMb,
      "frontier.seen_write_s" -> self("frontier.seen_write"),
      "frontier.seen_write_mb" -> t.stats(t.find("frontier.seen_write")).outputMb,
    )
  }
}

/** The archive side. Every call goes through `WarcSplit`, `WarcBytes`,
  * `Digests`, `VerifyOp`, `ExtractOp` and `HttpOps`.
  */
final class Ingest(spark: SparkSession, in: Inputs, manifest: Map[String, Any]) extends Workload {
  import Workload._

  val items: Long = num(manifest, "records").toLong

  /** The archive directory, split-planned once at set-up like a
    * registered table; every op decodes it again.
    */
  private val archives = WarcSplit.readSplitDir(spark, in.warc).toDF()

  private def isHttp: org.apache.spark.sql.Column =
    coalesce(lower(FieldOps.fieldGet(col("fields"), "Content-Type"))
      .startsWith("application/http"), lit(false))

  /** Records whose declared payload digest does not match. */
  private def payloadBad(recs: DataFrame): DataFrame =
    recs.where(!coalesce(VerifyOp.payloadDigestOkUdf(
      FieldOps.fieldGet(col("fields"), "WARC-Payload-Digest"), col("bytes"), isHttp), lit(true)))
      .select(lit("payload_digest_mismatch").as("kind"))

  private def verify(recs: DataFrame): Map[String, Long] =
    VerifyOp.problems(recs).select("kind")
      .unionByName(VerifyOp.missingReferences(recs).select("kind"))
      .unionByName(VerifyOp.segmentProblems(recs).select("kind"))
      .unionByName(payloadBad(recs))
      .groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def extract(recs: DataFrame): (Long, String) = {
    val r = ExtractOp.extract(recs)
      .agg(count(lit(1)), sum(col("conflict_id").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  private def expectedProblems: Map[String, Long] =
    manifest.get("problems").map(_.asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[BigInt].toLong }).getOrElse(Map.empty)

  private def checkVerify(problems: scala.collection.mutable.Buffer[String], got: Map[String, Long]): Unit =
    expect(problems, "verify problems", got.toSeq.sorted, expectedProblems.toSeq.sorted)

  private def checkExtract(problems: scala.collection.mutable.Buffer[String], got: (Long, String)): Unit =
    if (items > 0) {
      expect(problems, "extract rows", got._1, num(manifest, "extract_rows").toLong)
      expect(problems, "extract xxh3 sum", got._2, num(manifest, "extract_xxh3_sum").toBigInt)
    }

  /** One verify pass, then one extract pass, each reading the archives. */
  def op(): (Seq[String], Map[String, Double]) = {
    val problems = scala.collection.mutable.Buffer[String]()
    val t0 = System.nanoTime()
    val v = verify(archives)
    val t1 = System.nanoTime()
    val e = extract(archives)
    val t2 = System.nanoTime()
    checkVerify(problems, v)
    checkExtract(problems, e)
    (problems.toSeq, Map("verify_s" -> (t1 - t0) / 1e9, "extract_s" -> (t2 - t1) / 1e9))
  }

  def layers(t: Tracer, problems: scala.collection.mutable.Buffer[String]): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val base = new org.apache.hadoop.fs.Path(in.warc)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(base).toSeq.map(_.getPath)
      .filter(p => p.getName.contains(".warc")).sortBy(_.getName)
    val raw = t.span("sources.read") {
      files.map { p =>
        val in = fs.open(p)
        try p.getName -> in.readAllBytes() finally in.close()
      }
    }
    val gz = t.span("sources.inflate_gzip") {
      raw.filter(_._1.endsWith(".gz")).map { case (n, b) => n -> WarcBytes.gunzipConcatenated(b) }
    }
    val zst = t.span("sources.inflate_zstd") {
      raw.filter(_._1.endsWith(".zst")).map { case (n, b) => n -> WarcBytes.unzstdConcatenated(b) }
    }
    val recs: Seq[WarcRecord] = t.span("sources.decode") {
      (gz ++ zst).flatMap { case (n, b) => WarcBytes.decodeRecords(b, n) }
    }
    val splitCount = t.span("sources.split")(WarcSplit.readSplitDir(spark, in.warc).count())
    expect(problems, "split reader vs whole-file decode records", splitCount, recs.size)
    val digestBytes = t.span("core.digest") {
      recs.foreach(r => Digests.compute("sha1", r.bytes)); recs.map(_.bytes.length.toLong).sum
    }
    val table = archives.persist(StorageLevel.MEMORY_AND_DISK)
    table.count()
    def kinds(df: DataFrame): Map[String, Long] =
      df.groupBy("kind").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fields = t.span("ops.verify_fields")(kinds(VerifyOp.problems(table)))
    val refs = t.span("ops.verify_refs")(kinds(VerifyOp.missingReferences(table)))
    val segs = t.span("ops.verify_segments")(kinds(VerifyOp.segmentProblems(table)))
    val digest = t.span("ops.verify_digest")(kinds(payloadBad(table)))
    val found = Seq(fields, refs, segs, digest).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    checkVerify(problems, found)
    val extracted = t.span("ops.extract")(extract(table))
    checkExtract(problems, extracted)
    val httpRecs = recs.filter(_.fields.exists(f => f.name.equalsIgnoreCase("Content-Type") &&
      f.value.toLowerCase.startsWith("application/http")))
    t.span("ops.http_decode")(httpRecs.foreach(r => HttpOps.parseResponse(r.bytes)))
    table.unpersist(true)

    t.flush(spark)
    def self(n: String) = t.selfS(t.find(n))
    val split = t.find("sources.split")
    val verifySpans = Seq("ops.verify_fields", "ops.verify_refs", "ops.verify_segments",
      "ops.verify_digest").map(t.find)
    Map(
      "sources.read_s" -> self("sources.read"),
      "sources.read_mb" -> raw.map(_._2.length.toLong).sum / mb,
      "sources.inflate_gzip_s" -> self("sources.inflate_gzip"),
      "sources.inflate_zstd_s" -> self("sources.inflate_zstd"),
      "sources.inflate_mb" -> (gz ++ zst).map(_._2.length.toLong).sum / mb,
      "sources.decode_s" -> self("sources.decode"),
      "sources.decode_records" -> recs.size.toDouble,
      "sources.split_s" -> split.wallS,
      "sources.split_busy_frac" -> t.busyFrac(split),
      "sources.split_task_skew" -> t.stats(split).skew,
      "core.digest_s" -> self("core.digest"),
      "core.digest_mb" -> digestBytes / mb,
      "ops.verify_fields_s" -> self("ops.verify_fields"),
      "ops.verify_refs_s" -> self("ops.verify_refs"),
      "ops.verify_segments_s" -> self("ops.verify_segments"),
      "ops.verify_digest_s" -> self("ops.verify_digest"),
      "ops.verify_shuffle_mb" -> verifySpans.map(s => t.stats(s).shuffleWriteMb).sum,
      "ops.verify_problems" -> found.values.sum.toDouble,
      "ops.extract_s" -> self("ops.extract"),
      "ops.extract_records" -> extracted._1.toDouble,
      "ops.http_decode_s" -> self("ops.http_decode"),
    )
  }
}
