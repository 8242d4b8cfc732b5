package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kernel.{Cogify, Netcdf, Tiff}
import graft.pipeline.Ingest
import graft.sinks.{PublishSink, SpillSink, Transfer}
import graft.sources.Discovery
import Gen.Granule

/** `ingest_batch`: bulk backfill of seeded NetCDF-3 granules, one round
  * being discover → route → cogify → raster meta → build items → spill →
  * publish, with the already-COG share sent through `Ingest.run`. The
  * kernel (decode, tile+deflate, overviews, band stats) does most of the
  * work; two ~6 Mpx granules among ~0.25 Mpx ones make stragglers show. */
object IngestBatch extends Workload {

  val Small = (720, 360)
  val Large = (3456, 1728)
  /** Items whose JSON, with the round directory written as `<round>`,
    * reaches this many characters spill: the web-mercator and large
    * granules' items (~900-970) do, the others (~780) do not. The
    * directory appears twice in an item (asset href and s3_filename), so
    * the threshold moves with its length and the split does not depend
    * on where the checkout lives. */
  val SpillAt = 850
  def spillThreshold(dir: String): Int = SpillAt + 2 * (dir.length - "<round>".length)

  /** (collection, small granules, large granules, corrupt granules). */
  val Layout = Seq(("imerg", 6, 1, 1), ("omi", 6, 1, 1), ("no2merc", 6, 0, 0),
    ("multi", 3, 0, 0))
  val Cogs = 4

  final case class Inputs(bucket: String, granules: Seq[Granule], cogs: Seq[String]) {
    def good: Seq[Granule] = granules.filterNot(_.corrupt)
    def corrupt: Seq[Granule] = granules.filter(_.corrupt)
    /** Every input the round attempts: granules and already-COG assets. */
    def attempted: Int = granules.size + cogs.size
  }

  private def date(i: Int): String =
    java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong).toString.replace("-", "")

  /** Writes the bucket: granules, already-COG assets and one sidecar per
    * prefix that discovery must skip. The warm bucket holds one small
    * granule per collection, the large ones, a corrupt one and a COG. */
  def generate(seed: Long, bucket: String, warm: Boolean): Inputs = {
    val rng = new Gen.Rng(seed)
    var k = 0
    val granules = Layout.flatMap { case (coll, nSmall, nLarge, nBad) =>
      val (s, l, b) = if (warm) (1, nLarge, math.min(1, nBad)) else (nSmall, nLarge, nBad)
      val sizes = Seq.fill(s)(Small) ++ Seq.fill(l)(Large)
      val good = sizes.map { case (w, h) =>
        k += 1
        Granule(coll, s"$coll/${coll.toUpperCase}_${date(k)}.nc", w, h, rng.nextLong(), corrupt = false)
      }
      val bad = (0 until b).map { i =>
        k += 1
        Granule(coll, s"$coll/${coll.toUpperCase}_${date(k)}.nc", 0, 0, rng.nextLong(), corrupt = true)
      }
      Gen.write(new File(bucket, s"$coll/README.xml"), "<sidecar/>".getBytes("UTF-8"))
      good ++ bad
    }
    granules.zipWithIndex.foreach { case (g, i) =>
      Gen.write(new File(bucket, g.file),
        if (g.corrupt) Gen.corruptBytes(new Gen.Rng(g.seed), i) else Gen.granuleBytes(g))
    }
    val cogs = (0 until (if (warm) 1 else Cogs)).map { i =>
      k += 1
      val f = s"cogs/COG_${date(k)}.tif"
      Gen.write(new File(bucket, f), Gen.cogBytes(rng.fork(i), 256, 128))
      f
    }
    Gen.write(new File(bucket, "cogs/README.xml"), "<sidecar/>".getBytes("UTF-8"))
    Inputs(bucket, granules, cogs)
  }

  def requests(bucket: String): Seq[Discovery.DiscoveryRequest] =
    Gen.Collections.map(c => Discovery.DiscoveryRequest(bucket = s"file:$bucket",
      prefix = s"${c.name}/", filenameRegex = Some(".*\\.nc$"), collection = Some(c.name),
      cogify = true)) :+
      Discovery.DiscoveryRequest(bucket = s"file:$bucket", prefix = "cogs/",
        filenameRegex = Some(".*\\.tif$"), collection = Some("cogs"), upload = true)

  val configs: Map[String, Cogify.CollectionConfig] =
    Gen.Collections.map(c => c.name -> c.config).toMap

  /** One round's outcome. */
  final case class Round(startMs: Double, endMs: Double, granules: Int,
      posts: Vector[Counters.Post], errors: Seq[String], dlq: Long, layer: LayerCounts) {
    def wall: Double = (endMs - startMs) / 1000
  }
  /** COG MB written, spilled and routed items, (files, bytes) copied by
    * transfer, upload-flagged assets, target keys transfer listed. */
  final case class LayerCounts(cogMb: Double, spilled: Long, routed: Long,
      copied: (Long, Long), uploads: Long, listed: Long)

  /** The calls `Ingest.run` composes (transfer → build → spill →
    * publish), each stage in its own span. Returns (resolved items, dead
    * letters). */
  def runStages(ctx: Ctx, assets: DataFrame, cfg: Ingest.IngestConfig,
      poster: () => PublishSink.ItemPoster): (DataFrame, DataFrame) = {
    val transferred = ctx.stage("sinks.transfer")(Transfer.execute(assets, cfg.targetRoot))
    val built = ctx.stage("pipeline.build")(Ingest.buildItems(transferred))
    val res = ctx.stage("sinks.spill")(SpillSink.resolve(
      SpillSink.route(built, "item_json", cfg.spillDir, cfg.spillThreshold)))
    (res, ctx.tracer("sinks.publish")(PublishSink.publish(res, "resolved_item", poster)))
  }

  def round(ctx: Ctx, in: Inputs, dir: String): Round = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val cfg = Ingest.IngestConfig(targetRoot = s"file:$dir/target",
      spillDir = s"file:$dir/spill", dryRunDir = s"$dir/dry", spillThreshold = spillThreshold(dir))
    val poster = Seams.mkPoster(cfg.dryRunDir)
    Counters.drainPosts()
    val t0 = System.nanoTime()
    val assets = tr("sources.discover") {
      val d = requests(in.bucket).map(Discovery.discover(spark, _).toDF())
        .reduce(_ unionByName _).persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    val (toCog, passThrough) = Discovery.routeCogify(assets)
    val results = tr("kernel.cogify") {
      val tasks = toCog.select(col("collection"), col("s3_filename").as("href"),
        col("granule_id"), col("upload")).as[Cogify.CogifyTask]
      // the pipeline's explicit task fan-out (Ingest's `parallelism`)
      val r = Cogify.run(tasks.repartition(2 * ctx.cpus), configs, s"file:$dir/cogs", mkReader = Seams.mkReader)
        .toDF().persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    val items = ctx.stage("pipeline.build") {
      val events = results.filter(col("error").isNull).select(col("collection"),
        col("filename").as("s3_filename"), col("granule_id"),
        lit(null).cast("string").as("datetime_range"), lit(null).cast("string").as("id_regex"))
      Ingest.buildItems(events, rasterMeta = Some(Ingest.rasterMeta(results)))
    }
    val resolved = ctx.stage("sinks.spill") {
      SpillSink.resolve(SpillSink.route(items, "item_json", cfg.spillDir, cfg.spillThreshold))
    }
    val dlq1 = tr("sinks.publish")(PublishSink.publish(resolved, "resolved_item", poster))
    // what the pass-through stage's transfer will list (cogify writes
    // elsewhere, so a fresh round's target holds nothing yet)
    val listed = if (tr.enabled) Seams.diskWalk(cfg.targetRoot)._1 else 0L
    val (passResolved, dlq2) = tr("pipeline.run") {
      if (!tr.enabled) Ingest.run(passThrough, cfg, poster)
      else runStages(ctx, passThrough, cfg, poster)
    }
    val t1 = System.nanoTime()
    val posts = Counters.drainPosts()
    val errors = results.filter(col("error").isNotNull).select("href").as[String].collect().toSeq
    val dlq = dlq1.count() + dlq2.count()
    // layer counts, read only by the traced run (re-reading lazy stages
    // would re-run them)
    val layer =
      if (!tr.enabled) LayerCounts(0, 0, 0, (0, 0), 0, 0)
      else LayerCounts(results.agg(sum(col("payload_bytes"))).head().getLong(0) / 1e6,
        Seq(resolved, passResolved).map(_.filter(col("stac_file_url").isNotNull).count()).sum,
        Seq(resolved, passResolved).map(_.count()).sum,
        Seams.diskWalk(s"$dir/target"), passThrough.filter(col("upload")).count(), listed)
    val round = Round(Clock.ms(t0), Clock.ms(t1), posts.size + errors.size, posts, errors, dlq,
      layer)
    Seq(assets, results, items, resolved, passResolved, dlq1, dlq2).foreach(_.unpersist())
    round
  }

  /** Output checks of one round; returns the digest of its sorted items. */
  def checkRound(ctx: Ctx, in: Inputs, r: Round, dir: String, decode: Seq[Granule]): String = {
    val ids = r.posts.map(p => Seams.itemId(p.item))
    val stems = r.posts.map { p =>
      val href = "\"s3_filename\":\"([^\"]+)\"".r.findFirstMatchIn(p.item).map(_.group(1)).getOrElse("")
      href.substring(href.lastIndexOf('/') + 1).stripSuffix(".cog.tif")
    }
    val expected = (in.good.map(_.file) ++ in.cogs).map(f => f.substring(f.lastIndexOf('/') + 1))
    ctx.check("one_item_per_good_granule",
      ids.distinct.size == ids.size && stems.sorted == expected.sorted)
    ctx.check("corrupt_granules_are_error_rows_only",
      r.errors.map(h => h.substring(h.lastIndexOf('/') + 1)).sorted ==
        in.corrupt.map(g => g.file.substring(g.file.lastIndexOf('/') + 1)).sorted)
    ctx.check("publish_dlq_empty", r.dlq == 0)
    decode.foreach { g =>
      val cog = new File(s"$dir/cogs/${g.collection}/${g.file.substring(g.file.indexOf('/') + 1)}.cog.tif")
      val (bands, _) = Tiff.readBands(java.nio.file.Files.readAllBytes(cog.toPath))
      ctx.check("cog_decodes_to_source_grid", bands.size == g.bands &&
        bands.zip(g.grids).forall { case (a, b) => a.width == b.width && a.height == b.height &&
          java.util.Arrays.equals(a.data, b.data) && a.nodata == b.nodata })
    }
    val norm = r.posts.map(_.item.replace(dir, "<round>").replace(in.bucket, "<bucket>")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    norm.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Decoder self-check: the parser returns the generated grid bit for bit. */
  def selfCheck(ctx: Ctx, in: Inputs): Unit =
    in.good.groupBy(_.collection).values.map(_.head).foreach { g =>
      val nc = Netcdf.parse(java.nio.file.Files.readAllBytes(new File(in.bucket, g.file).toPath))
      val c = Gen.Collections.find(_.name == g.collection).get.config
      val got = Netcdf.readGrid(nc, c.variableName)
      val want = Gen.storedBand0(g)
      ctx.check("netcdf_reader_bit_exact", got.width == want.width &&
        got.height == want.height && java.util.Arrays.equals(got.data, want.data) &&
        got.nodata == want.nodata)
    }

  private var inputs: Inputs = _
  private var warmInputs: Inputs = _
  private var digest: Option[String] = None

  private def decodeSample(in: Inputs): Seq[Granule] = in0(in) ++ in.good.filter(_.w == Large._1).take(1)

  def generate(ctx: Ctx, pass: Int): Unit = {
    if (inputs != null) Seams.deleteTree(new File(inputs.bucket).getParent)
    val base = ctx.dir(s"gen$pass")
    inputs = generate(ctx.seed, s"$base/bucket", warm = false)
    warmInputs = generate(ctx.seed, s"$base/warm", warm = true)
    selfCheck(ctx, inputs)
  }

  /** One round over the warm bucket: every code path, the large
    * granules' included, is compiled before the timed round. */
  def warm(ctx: Ctx): Unit = {
    val dir = ctx.dir("round-warm")
    val r = round(ctx, warmInputs, dir)
    checkRound(ctx, warmInputs, r, dir, in0(warmInputs))
    Seams.deleteTree(dir)
  }

  private def in0(in: Inputs): Seq[Granule] =
    in.good.filter(_.w == Small._1).groupBy(_.collection).values.map(_.head).toSeq

  /** Rounds until their summed wall time reaches `budget` seconds; at
    * least one. */
  private def rounds(ctx: Ctx, budget: Double, tag: String): Seq[Round] = {
    val out = scala.collection.mutable.ArrayBuffer[Round]()
    while (out.isEmpty || out.map(_.wall).sum < budget) {
      val dir = ctx.dir(s"round-$tag${out.size}")
      val r = round(ctx, inputs, dir)
      val d = checkRound(ctx, inputs, r, dir, if (out.isEmpty) decodeSample(inputs) else Nil)
      ctx.check("items_repeat_across_rounds", digest.forall(_ == d))
      digest = Some(d)
      Seams.deleteTree(dir)
      ctx.canary()
      out += r
    }
    ctx.detail("item_digest") = digest.getOrElse("")
    out.toSeq
  }

  /** Granules missing from a round's outcome, good granules that
    * errored, and dead-lettered posts. */
  private def failures(r: Round): Long =
    inputs.attempted - r.granules +
      math.max(0, r.errors.size - inputs.corrupt.size) + r.dlq

  def timed(ctx: Ctx): E2E = {
    val rs = rounds(ctx, ctx.seconds, "t")
    val rates = rs.map(r => r.granules / r.wall)
    val expected = inputs.attempted
    val failed = rs.map(failures).sum
    // items post from the publish stages, not one by one: a round's
    // latency is its wall time, discover to the last publish
    E2E(rs.map(_.granules).sum / rs.map(_.wall).sum, rs.map(_.wall), rs.size,
      rs.size.toLong * expected, failed,
      Seq("granules_per_s" -> Stats.summary(rates), "rounds" -> rs.size.toString,
        "failed_frac" -> f"${failed.toDouble / (rs.size * expected)}%.6f"))
  }

  /** An untraced round, a traced round and an untraced reference round
    * over the same bucket; the first absorbs what the warm round left
    * cold. */
  def traced(ctx: Ctx, l: JobListener): (Map[String, Double], Long, Long) = {
    val first = rounds(ctx, 0, "w")
    ctx.spark.sparkContext.addSparkListener(l)
    ctx.tracer.enabled = true
    Counters.resetKernel()
    val rs = rounds(ctx, 0, "tr")
    ctx.tracer.enabled = false
    Trace.drain(ctx.spark.sparkContext)
    ctx.spark.sparkContext.removeSparkListener(l)
    val (reads, fetchBytes, fetchNs) =
      (Counters.reads.get, Counters.fetchBytes.get, Counters.fetchNs.get)
    val untraced = rounds(ctx, 0, "u")
    val att = new Attribution(ctx.tracer, l, ctx.cpus)
    val n = rs.size.toDouble
    val spans = att.spanMetrics(Layers.Spans).map { case (k, v) =>
      k -> (if (k.endsWith(".slot_util")) v else v / n) }
    // within the stage that carries the kernel: the one with most task time
    val skews = ctx.tracer.spans.filter(_.name == "kernel.cogify").map { s =>
      val byStage = att.tasksOf(att.jobsIn(s)).groupBy(_.stage).values
        .map(_.map(t => (t.finish - t.launch).toDouble))
      if (byStage.isEmpty) 0.0
      else { val d = byStage.maxBy(_.sum); d.max / math.max(1.0, Stats.median(d)) }
    }
    val tasks = inputs.granules.size.toDouble
    val listed = requests(inputs.bucket).map(Discovery.listKeys(ctx.spark, _).count()).sum
    val micro = Micro.profile(inputs)
    val m = spans ++ micro ++ Map(
      "kernel.cogify.task_skew" -> Stats.median(skews.toSeq),
      "kernel.cogify.input_mb" -> fetchBytes / 1e6 / n,
      "kernel.cogify.cog_mb" -> rs.map(_.layer.cogMb).sum / n,
      "kernel.cogify.retry_frac" -> (reads / n - tasks) / tasks,
      "kernel.cogify.fetch_s" -> fetchNs / 1e9 / n,
      "sources.discover.keys_listed" -> listed.toDouble,
      "sources.discover.kept_frac" -> inputs.attempted / listed.toDouble,
      "sinks.transfer.listed_keys_last" -> rs.last.layer.listed.toDouble,
      "sinks.transfer.copied_frac" -> rs.map(_.layer.copied._1).sum.toDouble / rs.map(_.layer.uploads).sum,
      "sinks.transfer.copied_mb" -> rs.map(_.layer.copied._2).sum / 1e6 / n,
      "sinks.spill.spilled_frac" -> rs.map(_.layer.spilled).sum.toDouble / rs.map(_.layer.routed).sum,
      "sinks.publish.post_ms_p50" -> Stats.median(rs.flatMap(_.posts.map(_.tookNs / 1e6))),
      "sinks.publish.dlq_frac" -> rs.map(_.dlq).sum.toDouble / rs.map(_.posts.size).sum,
      "trace.overhead_s" -> (Stats.median(rs.map(_.wall)) - Stats.median(untraced.map(_.wall))),
      "trace.overhead_frac" -> (Stats.median(rs.map(_.wall)) / Stats.median(untraced.map(_.wall)) - 1),
      "trace.uncovered_s" -> rs.map(r => att.uncovered(r.startMs, r.endMs)).sum / n,
      "trace.uncovered_frac" -> rs.map(r => att.uncovered(r.startMs, r.endMs)).sum / rs.map(_.wall).sum)
    att.writeJsonl(ctx.traceOut)
    val all = first ++ rs ++ untraced
    (m, all.size.toLong * inputs.attempted, all.map(failures).sum)
  }
}

/** Single-threaded micro-profile of the kernel's steps on a sample of
  * granules, in ms per megapixel. */
object Micro {
  def profile(in: IngestBatch.Inputs): Map[String, Double] = {
    val sample = in.good.filter(_.bands == 1).groupBy(_.collection).values.flatMap(_.take(2)).toSeq ++
      in.good.filter(_.w == IngestBatch.Large._1).take(1)
    val t = Array.fill(4)(0L)
    def time[A](i: Int)(f: => A): A = { val t0 = System.nanoTime(); val r = f; t(i) += System.nanoTime() - t0; r }
    sample.foreach { g =>
      val bytes = java.nio.file.Files.readAllBytes(new File(in.bucket, g.file).toPath)
      val c = Gen.Collections.find(_.name == g.collection).get.config
      val grid = time(0)(Netcdf.readGrid(Netcdf.parse(bytes), c.variableName))
      val tiles = time(1)(Cogify.tile(grid))
      val aff = graft.kernel.Raster.topLeftRecipe(graft.kernel.Raster.Extent(-180, -90, 180, 90),
        grid.width, grid.height)
      time(2)(Tiff.writeCog(grid, aff, tiles, Some(4326)))
      time(3)(Cogify.gridStats(grid))
    }
    val mpx = sample.map(_.mpx).sum
    Seq("kernel.decode_ms_per_mpx", "kernel.tile_deflate_ms_per_mpx",
      "kernel.cog_write_ms_per_mpx", "kernel.stats_ms_per_mpx").zipWithIndex
      .map { case (n, i) => n -> t(i) / 1e6 / mpx }.toMap
  }
}
