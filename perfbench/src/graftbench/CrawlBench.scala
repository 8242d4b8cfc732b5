package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{CorpusPipeline, CrawlLoop}

/** `crawl_loop`: one seeded fetch batch over a fresh `CrawlLoop.State`,
  * run as budgets (from the link graph of a prior crawl) →
  * frontierSelect → step. The batch carries mirrors, whitespace copies,
  * near-dup edits, PNG→GIF re-encodes, an unlinked trap host and an eval
  * slice, and step builds the capture, dedup, retrieval, decontamination
  * and hash indexes from it: the write-heavy workload, carried by the
  * operators/ and functions/ layers that the ingest workloads never
  * reach. A batch of another seed over a scratch state warms every code
  * path first; a second batch over the grown state would double the run. */
object CrawlBench extends Workload {

  /** New documents, and the planted copies among them. */
  val Docs = 120
  val Mirror = 3
  val Copy = 3
  val NearEdit = 3
  val Images = 4
  val Reencode = 2
  val Trap = 12
  val Eval = 2
  val Prior = 40

  final case class Page(url: String, html: String)
  final case class Batch(pages: Seq[Page], images: Seq[(String, Array[Byte], String)],
      prior: Seq[Page], evalRef: Seq[(Long, String)], expect: Map[String, Long])

  private def html(id: Long, text: String): String =
    s"""<html><body><h1>Doc $id</h1><p>$text</p><p><a href="https://h${(id + 1) % 5}.example.com/x">a</a> """ +
      s"""<a href="https://h${(id * 3 + 1) % 5}.example.com/y">b</a></p></body></html>"""
  private def url(id: Long): String = s"https://h${id % 5}.example.com/doc/$id"

  /** A 64×64 grey image of random 8×8 blocks: its block-mean hash is
    * unique per id; the GIF re-encode carries the same pixels. */
  private def image(rng: Gen.Rng, id: Long, gif: Boolean): (String, Array[Byte], String) = {
    val blocks = Array.fill(64)(rng.nextInt(256))
    val px = Array.tabulate(64 * 64)(i => blocks(((i / 64) / 8) * 8 + (i % 64) / 8))
    if (gif) (s"https://h${id % 5}.example.com/img2/$id.gif",
      graft.kernel.Gif.encode(graft.kernel.Gif.Image(64, 64, 1, px)), "image/gif")
    else (s"https://h${id % 5}.example.com/img/$id.png",
      graft.kernel.Png.encode(graft.kernel.Png.Image(64, 64, 1, 8, px)), "image/png")
  }

  /** The batch, the prior crawl's pages its budgets come from, and the
    * row count each report stage must show. */
  def batch(seed: Long, docs: Int = Docs): Batch = {
    val rng = new Gen.Rng(seed)
    val texts = (0 until docs).map(i => i.toLong -> Gen.words(rng, 40 + rng.nextInt(50)).mkString(" "))
    val base = texts.map { case (id, t) => Page(url(id), html(id, t)) }
    val mirror = texts.slice(0, Mirror).map { case (id, t) =>
      Page(s"https://h1.example.com/mirror/$id", html(id, t)) }
    val copy = texts.slice(Mirror, Mirror + Copy).map { case (id, t) =>
      Page(s"https://h2.example.com/copy/$id", html(id, t + "  ")) }
    // one word edited in a page of 70 words or more: a near duplicate
    // minhash LSH catches with certainty (shorter pages with two edits
    // sit near its threshold, and a miss changes every later count)
    val near = texts.slice(Mirror + Copy, docs - Eval).filter(_._2.split(" ").length >= 70)
      .take(NearEdit).map { case (id, t) =>
        val w = t.split(" ")
        w(w.length - 1) = "edited"
        Page(s"https://h0.example.com/v2/$id", html(id, w.mkString(" "))) }
    val trap = (0 until Trap).map(i => Page(s"https://trap.example.net/gen/$i",
      "<html><body><p>generated trap page stub</p></body></html>"))
    val imgSeeds = (0 until Images).map(i => (5000L + i) -> rng.nextLong())
    val images = imgSeeds.map { case (id, s) => image(new Gen.Rng(s), id, gif = false) } ++
      imgSeeds.take(Reencode).map { case (id, s) => image(new Gen.Rng(s), id, gif = true) }
    val prior = (0 until Prior).map(i => Page(url(100000L + i), html(100000L + i, "prior")))
    val evalRef = texts.takeRight(Eval).map { case (id, t) => (900000L + id) -> t }
    // the frontier keeps one trap page; curation drops the trap stub
    // (too few words), the mirrors and copies (exact), the edits (near)
    // and the eval slice (decontamination)
    val pagesIn = docs + Mirror + Copy + near.size + 1
    val expect = Map(
      "fetched" -> (pagesIn + images.size).toLong,
      "cdx_novel" -> (pagesIn + images.size).toLong,
      "media_images" -> images.size.toLong,
      "media_kept" -> Images.toLong,
      "html_pages" -> pagesIn.toLong,
      "gate_scrub" -> (pagesIn - 1).toLong,
      "exact_dedup" -> (docs + near.size).toLong,
      "near_dedup" -> docs.toLong,
      "decontaminate" -> (docs - Eval).toLong,
      "corpus_kept" -> (docs - Eval).toLong)
    Batch(base ++ mirror ++ copy ++ near ++ trap, images, prior, evalRef, expect)
  }

  private val fetchSchema = StructType(Seq(StructField("url", StringType),
    StructField("body", BinaryType), StructField("content_type", StringType)))

  final case class Done(wall: Double, fetched: Long, report: Seq[(String, Long, Double)],
      startMs: Double, endMs: Double, indexBytes: Long)

  /** One loop batch: frontier (budgets from the prior pages, politeness
    * selection) then step. Inputs are materialized before the clock. */
  def runBatch(ctx: Ctx, st: CrawlLoop.State, b: Batch): Done = {
    val spark = ctx.spark
    import spark.implicits._
    def frozen(df: DataFrame) = { val d = df.persist(StorageLevel.MEMORY_AND_DISK); d.count(); d }
    val rows = b.pages.map(p => Row(p.url, p.html.getBytes("UTF-8"), "text/html; charset=utf-8")) ++
      b.images.map { case (u, bytes, ct) => Row(u, bytes, ct) }
    val cand = frozen(spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cpus), fetchSchema))
    val evalRef = frozen(b.evalRef.toDF("doc_id", "text"))
    val prior = frozen(b.prior.map(p => (p.url, p.html)).toDF("url", "html"))
    val t0 = System.nanoTime()
    val (fetches, nFetched) = ctx.tracer("operators.frontier") {
      val budget = CrawlLoop.budgets(prior, scale = 6L * rows.size, iters = 2)
      val f = frozen(CrawlLoop.frontierSelect(cand.select(col("url")), budget)
        .select(col("url")).join(cand, Seq("url"))
        .withColumn("warc_date", lit("2025-01-01T00:00:00Z"))
        .select(col("url"), col("warc_date"), col("body"), col("content_type")))
      (f, f.count())
    }
    val report = ctx.tracer("operators.crawl_step") {
      CrawlLoop.step(fetches, st, CorpusPipeline.Opts(lineGate = false), evalRef = Some(evalRef),
        ixBuckets = 8).collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    val t1 = System.nanoTime()
    Seq(cand, evalRef, prior, fetches).foreach(_.unpersist())
    val counts = report.map(r => r._1 -> r._2).toMap + ("fetched" -> nFetched)
    val ok = b.expect.forall { case (stage, n) => counts.get(stage).contains(n) }
    if (!ok) System.err.println(s"[perfbench] stage counts ${report.map(r => r._1 -> r._2)}" +
      s" fetched $nFetched, expected ${b.expect}")
    ctx.check("crawl_stage_counts", ok)
    Done((t1 - t0) / 1e9, nFetched, report, Clock.ms(t0), Clock.ms(t1), Seams.diskWalk(st.root)._2)
  }

  /** Digest of the published corpus, sorted. */
  def corpusDigest(ctx: Ctx, st: CrawlLoop.State): String = {
    val rows = ctx.spark.read.parquet(st.corpusDir).select(col("doc_id"), col("text"))
      .collect().map(r => s"${r.getLong(0)}\t${r.getString(1)}").sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private var b: Batch = _
  private var warmBatch: Batch = _

  def generate(ctx: Ctx, pass: Int): Unit = {
    b = batch(ctx.seed)
    warmBatch = batch(ctx.seed ^ 0x5eed5eedL)
  }

  def warm(ctx: Ctx): Unit = {
    val st = CrawlLoop.State(ctx.dir("crawl-warm"))
    runBatch(ctx, st, warmBatch)
    Seams.deleteTree(st.root)
  }

  /** The batch over a fresh state. */
  private def once(ctx: Ctx, tag: String): Done = {
    val st = CrawlLoop.State(ctx.dir(s"crawl-$tag"))
    val d = runBatch(ctx, st, b)
    ctx.detail(s"corpus_digest_$tag") = corpusDigest(ctx, st)
    d
  }

  def timed(ctx: Ctx): E2E = {
    val d = once(ctx, "t")
    // one batch is one sample: both latencies are its wall time
    E2E(d.fetched / d.wall, Seq(d.wall), 1, d.fetched, 0,
      Seq("crawl_docs_per_s" -> f"${d.fetched / d.wall}%.4f", "batch_s" -> f"${d.wall}%.4f"))
  }

  /** The batch twice over fresh states: traced, then untraced as the
    * reference. */
  def traced(ctx: Ctx, l: JobListener): (Map[String, Double], Long, Long) = {
    ctx.spark.sparkContext.addSparkListener(l)
    ctx.tracer.enabled = true
    val d = once(ctx, "tr")
    ctx.tracer.enabled = false
    Trace.drain(ctx.spark.sparkContext)
    ctx.spark.sparkContext.removeSparkListener(l)
    val plain = once(ctx, "u")
    ctx.check("crawl_traced_matches_untraced",
      ctx.detail("corpus_digest_tr") == ctx.detail("corpus_digest_u"))
    val att = new Attribution(ctx.tracer, l, ctx.cpus)
    def rowsOf(stage: String) = d.report.filter(_._1 == stage).map(_._2).sum.toDouble
    val stages = Layers.CrawlStages.map(st =>
      s"operators.crawl_step.stage.$st.s" -> d.report.filter(_._1 == st).map(_._3).sum)
    val uncovered = att.uncovered(d.startMs, d.endMs)
    att.writeJsonl(ctx.traceOut)
    val m = att.spanMetrics(Layers.Spans) ++ stages ++ Map(
      "operators.crawl_step.admitted_frac" -> rowsOf("admitted") / d.fetched,
      "operators.crawl_step.index_mb" -> d.indexBytes / 1e6,
      "trace.overhead_s" -> (d.wall - plain.wall),
      "trace.overhead_frac" -> (d.wall / plain.wall - 1),
      "trace.uncovered_s" -> uncovered,
      "trace.uncovered_frac" -> uncovered / d.wall)
    (m, d.fetched + plain.fetched, 0L)
  }
}
