package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.pipeline.Ingest
import graft.sources.Discovery.DiscoveredAsset

/** `ingest_stream`: continuous ingest through `Ingest.runStream` with
  * `dedupKeys` on, in the reference's SQS shape: the event source hands
  * each invocation at most `batch_size` = 10 records
  * (deploy/cdk/queue_stack.py:34,53), so one delivery is a parquet file
  * of 10 already-COG discovered assets and a micro-batch takes one
  * delivery. An open-loop generator drops a delivery every `PeriodMs`,
  * whatever the engine is doing; every third delivery re-delivers an
  * earlier one, and half the assets ask for upload. No cogify runs, so
  * the cost per micro-batch dominates: planning, job scheduling,
  * Transfer's listing of the whole target (which grows every batch) and
  * the dedup state. */
object IngestStream extends Workload {

  val AssetsPerFile = 10
  val FilesPerTrigger = 1
  // deliveries are full batches, so the reference's 20/30 s batching
  // window (queue_stack.py:35,54) never holds one back and sets no rate;
  // the period is well above what a delivery's micro-batch costs (1.6-1.8 s
  // on 4 vCPUs, up to 2.4 s while the host takes CPU), so latency is one
  // batch's cost rather than the luck of queueing: at 2 s, a slow stretch
  // of the host queued deliveries and moved latency by 70%
  val PeriodMs = 3000L
  val RedeliverEvery = 3
  /** Warm deliveries; the large one is an earlier backfill, so that
    * Transfer's target listing and the dedup state the window's batches
    * probe start at the size of a stream that has been running. */
  val WarmSizes = Seq(AssetsPerFile, 100, AssetsPerFile)
  val Keys = Seq("s3_filename")

  /** Delivery j carries these asset indices; a re-delivery repeats an
    * earlier file's indices. */
  final case class Plan(files: Seq[Seq[Int]], nAssets: Int)

  def plan(seed: Long, nFiles: Int): Plan = {
    val rng = new Gen.Rng(seed)
    var next = 0
    val files = mutable.ArrayBuffer[Seq[Int]]()
    (0 until nFiles).foreach { j =>
      if (j % RedeliverEvery == RedeliverEvery - 1)
        files += files(j - 1 - rng.nextInt(math.min(j, 8)))
      else {
        files += (next until next + AssetsPerFile)
        next += AssetsPerFile
      }
    }
    Plan(files.toSeq, next)
  }

  private var base: String = _
  private var p: Plan = _
  private var query: StreamingQuery = _

  private def staged(j: Int) = new File(base, s"staged/f$j.parquet")
  private def watched(j: Int) = new File(base, s"watch/f$j.parquet")
  private def assetName(i: Int) = f"A$i%05d_${java.time.LocalDate.of(2021, 1, 1)
    .plusDays((i % 365).toLong).toString.replace("-", "")}.tif"

  /** Warm delivery w carries these (negative) asset indices. */
  private def warmAssets(w: Int): Seq[Int] = {
    val from = -WarmSizes.take(w + 1).sum
    from until from + WarmSizes(w)
  }
  private def warmFile(dir: String, w: Int) = new File(base, s"$dir/w$w.parquet")

  /** Source COGs, then every delivery as one staged parquet file. Warm
    * deliveries use negative indices and names of their own. */
  def generate(ctx: Ctx, pass: Int): Unit = {
    if (base != null) Seams.deleteTree(base)
    base = ctx.dir(s"stream$pass")
    val nFiles = ((ctx.seconds * 1000 + PeriodMs - 1) / PeriodMs).toInt
    p = plan(ctx.seed, nFiles)
    val rng = new Gen.Rng(ctx.seed ^ 0xa55e7L)
    // the stream never decodes its assets: one COG serves every file
    val cog = Gen.cogBytes(rng.fork(0), 64, 64)
    val assets = (-WarmSizes.sum until p.nAssets).map { i =>
      val name = if (i < 0) s"W${-i}_20201231.tif" else assetName(i)
      val f = new File(base, s"src/stream/$name")
      Gen.write(f, cog)
      i -> DiscoveredAsset("stream", s"file:${f.getAbsolutePath}", f.length(),
        upload = rng.nextInt(2) == 0, cogify = false, None, None, None, Map.empty)
    }.toMap
    val deliveries = WarmSizes.indices.map(w => warmFile("staged", w) -> warmAssets(w)) ++
      p.files.zipWithIndex.map { case (ix, j) => staged(j) -> ix }
    deliveries.foreach { case (f, ix) => writeAssets(f, ix.map(assets)) }
  }

  /** Parquet schema of a discovered-asset event, as Spark writes it. */
  private val assetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary collection (STRING);
      |  optional binary s3_filename (STRING);
      |  required int64 size;
      |  required boolean upload;
      |  required boolean cogify;
      |  optional binary granule_id (STRING);
      |  optional binary datetime_range (STRING);
      |  optional binary id_regex (STRING);
      |  optional group extras (MAP) {
      |    repeated group key_value {
      |      required binary key (STRING);
      |      optional binary value (STRING);
      |    }
      |  }
      |}""".stripMargin)

  /** One delivery file, written directly with parquet-mr: a Spark write
    * per file would put a job's set-up into every generation pass. */
  private def writeAssets(f: File, rows: Seq[DiscoveredAsset]): Unit = {
    f.getParentFile.mkdirs()
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(f.getAbsolutePath))
      .withType(assetSchema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(assetSchema)
    try rows.foreach { a =>
      val g = groups.newGroup()
        .append("collection", a.collection).append("s3_filename", a.s3_filename)
        .append("size", a.size).append("upload", a.upload).append("cogify", a.cogify)
      val extras = g.addGroup("extras")
      a.extras.foreach { case (k, v) => extras.addGroup("key_value").append("key", k).append("value", v) }
      w.write(g)
    } finally w.close()
  }

  /** Moves a staged delivery into the watched directory, stamped now. */
  private def drop(from: File, to: File): Unit = {
    from.setLastModified(System.currentTimeMillis())
    java.nio.file.Files.move(from.toPath, to.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def awaitPosts(n: Int, timeoutMs: Long, acc: mutable.ArrayBuffer[Counters.Post]): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (acc.size < n && System.currentTimeMillis() < deadline) {
      acc ++= Counters.drainPosts()
      Thread.sleep(5)
    }
    acc ++= Counters.drainPosts()
    acc.size >= n
  }

  /** One data-carrying micro-batch: input rows, trigger time, dedup
    * state rows after it, and deliveries dropped but not yet taken. */
  final case class MicroBatch(rows: Long, seconds: Double, stateRows: Long, backlog: Int)

  /** Streaming progress of the data-carrying micro-batches. */
  final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer[MicroBatch]()
    val dropped = new AtomicInteger()
    private var consumed = 0L
    def reset(): Unit = synchronized { batches.clear(); dropped.set(0); consumed = 0 }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val pr = e.progress
      if (pr.numInputRows > 0) {
        consumed += pr.numInputRows / AssetsPerFile
        batches += MicroBatch(pr.numInputRows, pr.durationMs.get("triggerExecution") / 1000.0,
          pr.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L),
          (dropped.get - consumed).toInt)
      }
    }
  }

  private val prog = new Progress

  /** Starts the stream on the first warm delivery and lets the warm
    * deliveries through one at a time. */
  def warm(ctx: Ctx): Unit = {
    new File(base, "watch").mkdirs()
    val cfg = Ingest.IngestConfig(targetRoot = s"file:$base/target", spillDir = s"file:$base/spill",
      dryRunDir = s"$base/dry", spillThreshold = IngestBatch.spillThreshold(base))
    Counters.drainPosts()
    ctx.spark.streams.addListener(prog)
    drop(warmFile("staged", 0), warmFile("watch", 0))
    query = Ingest.runStream(ctx.spark, new File(base, "watch").getAbsolutePath, cfg,
      Seams.mkPoster(cfg.dryRunDir), trigger = Trigger.ProcessingTime(0L),
      maxFilesPerTrigger = FilesPerTrigger, dedupKeys = Some(Keys))
    val got = mutable.ArrayBuffer[Counters.Post]()
    ctx.check("warm_deliveries_published", WarmSizes.indices.forall { w =>
      if (w > 0) drop(warmFile("staged", w), warmFile("watch", w))
      awaitPosts(WarmSizes.take(w + 1).sum, 60000, got)
    })
    // the last warm batch's progress must not reach the window
    awaitBatches(WarmSizes.size)
  }

  private def awaitBatches(n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 3000
    while (prog.synchronized(prog.batches.size) < n && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }

  /** One open-loop window: drops `nFiles` deliveries on schedule from a
    * single generator thread, then waits for the stream to drain and
    * stops it. */
  final case class Window(t0: Long, scheduled: Seq[Long], actual: Seq[Long],
      posts: Seq[Counters.Post], drained: Boolean, batches: Seq[MicroBatch]) {
    def lateMax: Double = actual.zip(scheduled).map { case (a, s) => (a - s) / 1e9 }.max
  }

  def window(ctx: Ctx, nFiles: Int): Window = {
    Counters.drainPosts()
    prog.reset()
    val t0 = System.nanoTime() + 100000000L
    val sched = (0 until nFiles).map(j => t0 + j * PeriodMs * 1000000L)
    val actual = new Array[Long](nFiles)
    val gen = new Thread(() => {
      (0 until nFiles).foreach { j =>
        var now = System.nanoTime()
        while (now < sched(j)) {
          val ms = (sched(j) - now) / 1000000L
          if (ms > 1) Thread.sleep(ms - 1)
          now = System.nanoTime()
        }
        drop(staged(j), watched(j))
        actual(j) = System.nanoTime()
        prog.dropped.incrementAndGet()
      }
    })
    gen.start()
    gen.join()
    val unique = p.files.take(nFiles).flatten.distinct.size
    val got = mutable.ArrayBuffer[Counters.Post]()
    val drained = awaitPosts(unique, 60000, got)
    // the progress of a trailing re-delivery, or a late duplicate post,
    // would land here
    awaitBatches(nFiles)
    Thread.sleep(300)
    got ++= Counters.drainPosts()
    query.stop()
    Trace.drain(ctx.spark.sparkContext)
    ctx.spark.streams.removeListener(prog)
    Window(t0, sched, actual.toSeq, got.toSeq, drained, prog.synchronized(prog.batches.toSeq))
  }

  /** Exactly-once check and per-asset latency (due time of the first
    * delivery carrying the asset → its post). */
  def outcome(ctx: Ctx, w: Window, nFiles: Int): (Seq[Double], Long, Long) = {
    val firstDue = mutable.LinkedHashMap[String, Long]()
    p.files.take(nFiles).zipWithIndex.foreach { case (ix, j) =>
      ix.foreach(i => firstDue.getOrElseUpdate(assetName(i).stripSuffix(".tif"), w.scheduled(j)))
    }
    val byId = w.posts.groupBy(q => Seams.itemId(q.item))
    val once = byId.keySet == firstDue.keySet && byId.values.forall(_.size == 1)
    ctx.check("stream_assets_published_exactly_once", once)
    ctx.check("stream_drained", w.drained)
    ctx.check("stream_one_delivery_per_batch",
      w.batches.size == nFiles && w.batches.forall(_.rows == AssetsPerFile))
    val lat = w.posts.flatMap(q => firstDue.get(Seams.itemId(q.item)).map(d => (q.atNs - d) / 1e9))
    val failed = firstDue.keySet.count(k => !byId.contains(k)) + byId.values.map(_.size - 1).sum +
      byId.keySet.count(k => !firstDue.contains(k))
    (lat, firstDue.size.toLong, failed.toLong)
  }

  /** Throughput is the program's: assets published over the summed
    * trigger time of the micro-batches that carried a delivery. */
  def timed(ctx: Ctx): E2E = {
    val n = p.files.size
    val w = window(ctx, n)
    val (lat, attempted, failed) = outcome(ctx, w, n)
    val busy = w.batches.map(_.seconds).sum
    ctx.detail("generator_late_s_max") = f"${w.lateMax}%.4f"
    ctx.detail("batch_s") = Stats.summary(w.batches.map(_.seconds))
    E2E(lat.size / busy, lat, p.files.take(n).distinct.size, attempted, failed,
      Seq("item_latency_s" -> Stats.summary(lat), "items_per_busy_s" -> f"${lat.size / busy}%.4f",
        "micro_batches" -> w.batches.size.toString,
        "failed_frac" -> f"${failed.toDouble / attempted}%.6f"))
  }

  def traced(ctx: Ctx, l: JobListener): (Map[String, Double], Long, Long) = {
    val spark = ctx.spark
    val n = p.files.size
    val w = window(ctx, n)
    val (_, attempted, failed) = outcome(ctx, w, n)
    // the recorded micro-batches, in delivery order
    val recorded = mutable.ArrayBuffer[Seq[Int]]()
    var next = 0
    w.batches.foreach { b =>
      val k = (b.rows / AssetsPerFile).toInt
      recorded += (next until next + k); next += k
    }
    val schema = spark.read.parquet(watched(0).getAbsolutePath).schema

    /** Replays the recorded batches through the calls Ingest.run
      * composes, into fresh sinks; returns per-batch walls. */
    def replay(tag: String): (Seq[Double], Seq[(Double, Double)], Map[String, Double]) = {
      val c = Ingest.IngestConfig(targetRoot = s"file:$base/$tag/target",
        spillDir = s"file:$base/$tag/spill", dryRunDir = s"$base/$tag/dry",
        spillThreshold = IngestBatch.spillThreshold(base))
      val poster = Seams.mkPoster(c.dryRunDir)
      val seen = mutable.Set[String]()
      var listedLast = 0L; var uploads = 0L; var spilled = 0L; var routed = 0L; var dlq = 0L
      val walls = recorded.toSeq.map { files =>
        val batch = spark.read.schema(schema).parquet(files.map(watched(_).getAbsolutePath): _*)
          .dropDuplicates(Keys).filter(!col("s3_filename").isin(seen.toSeq: _*))
        listedLast = Seams.diskWalk(s"$base/$tag/target")._1
        val t0 = System.nanoTime()
        val (res, dead) = ctx.tracer("pipeline.stream_batch")(
          IngestBatch.runStages(ctx, batch, c, poster))
        dlq += dead.count()
        val t1 = System.nanoTime()
        if (ctx.tracer.enabled) {
          uploads += res.filter(col("upload")).count()
          spilled += res.filter(col("stac_file_url").isNotNull).count()
          routed += res.count()
        }
        seen ++= res.select("s3_filename").collect().map(_.getString(0))
        ((t1 - t0) / 1e9, Clock.ms(t0), Clock.ms(t1))
      }
      val copied = Seams.diskWalk(s"$base/$tag/target")
      (walls.map(_._1), walls.map(w => (w._2, w._3)), Map(
        "sinks.transfer.listed_keys_last" -> listedLast.toDouble,
        "sinks.transfer.copied_frac" -> copied._1.toDouble / math.max(1L, uploads),
        "sinks.transfer.copied_mb" -> copied._2 / 1e6 / math.max(1, recorded.size),
        "sinks.spill.spilled_frac" -> spilled.toDouble / math.max(1L, routed),
        "sinks.publish.dlq_frac" -> dlq.toDouble / math.max(1L, routed)))
    }
    // a first untraced replay warms the replay path; the second one is
    // the reference the traced replay is compared with
    replay("replay-w")
    Counters.drainPosts()
    spark.sparkContext.addSparkListener(l)
    ctx.tracer.enabled = true
    val (walls, ivs, sinkCounts) = replay("replay-t")
    ctx.tracer.enabled = false
    Trace.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    val posts = Counters.drainPosts()
    val (plain, _, _) = replay("replay-u")
    val att = new Attribution(ctx.tracer, l, ctx.cpus)
    val nb = math.max(1, recorded.size).toDouble
    val spans = att.spanMetrics(Layers.Spans).map { case (k, v) =>
      k -> (if (k.endsWith(".slot_util")) v else v / nb) }
    val uncovered = ivs.map { case (a, b) => att.uncovered(a, b) }.sum
    att.writeJsonl(ctx.traceOut)
    val bs = w.batches.map(_.seconds)
    val m = spans ++ sinkCounts ++ Map(
      "sinks.publish.post_ms_p50" -> Stats.median(posts.map(_.tookNs / 1e6)),
      "streaming.batches" -> w.batches.size.toDouble,
      "streaming.batch_s_p50" -> Stats.median(bs),
      "streaming.batch_s_p95" -> Stats.q(bs, 0.95),
      "streaming.state_rows_end" -> w.batches.last.stateRows.toDouble,
      "streaming.backlog_files_max" -> w.batches.map(_.backlog).max.toDouble,
      "streaming.generator_late_s_max" -> w.lateMax,
      "trace.overhead_s" -> (walls.sum - plain.sum) / nb,
      "trace.overhead_frac" -> (walls.sum / plain.sum - 1),
      "trace.uncovered_s" -> uncovered / nb,
      "trace.uncovered_frac" -> uncovered / walls.sum)
    (m, attempted, failed)
  }
}
