package graftbench

import org.apache.spark.sql.SparkSession

/** Order statistics over samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def q(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)

  /** The highest of the usual percentiles with at least ten samples
    * beyond it. */
  def tailPct(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)

  /** `{"median":…,"pNN":…,"n":…}` summary of a timing. */
  def summary(xs: Seq[Double]): String = {
    val t = tailPct(xs.size)
    f"""{"median":${median(xs)}%.6f,"p${t}%s":${q(xs, t / 100)}%.6f,"n":${xs.size}}"""
  }
}

/** The machine under the benchmark. */
object Box {
  private val sink = new java.util.concurrent.atomic.AtomicLong()

  /** Multi-core canary (the graft.Bench pattern): the same arithmetic
    * loop on every core at once; the slowest thread's wall time
    * stretches with every core a co-tenant holds. */
  def canary(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + t
        var i = 0
        while (i < 50000000) { x ^= x >>> 27; x *= 0x3C79AC492BA7B653L; x ^= x << 33; i += 1 }
        sink.accumulateAndGet(x, _ ^ _)
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap still live after a full collection, MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this JVM, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** What a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val cpus: Int, val work: String, val traceOut: String, val tracer: Tracer) {
  val canaries = scala.collection.mutable.ArrayBuffer[Double]()
  /** Min of two canary passes: one pass alone wobbles with GC and JIT. */
  def canary(): Unit = canaries += math.min(Box.canary(cpus), Box.canary(cpus))
  def dir(name: String): String = {
    val d = new java.io.File(work, name); d.mkdirs(); d.getAbsolutePath
  }
  val checks = scala.collection.mutable.LinkedHashMap[String, Boolean]()
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }
  val detail = scala.collection.mutable.LinkedHashMap[String, String]()

  /** Runs a pipeline stage: lazily when untraced; when traced, persisted
    * once inside its span, so side-effecting stages never run twice. */
  def stage(name: String)(f: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (!tracer.enabled) f
    else tracer(name) {
      val d = f.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); d.count(); d
    }
}

/** End-to-end samples of one untraced run. `latencies` in seconds;
  * `independent` is how many of them were measured apart (rounds,
  * micro-batches or crawl batches), since items of one batch share its
  * timing. */
final case class E2E(throughput: Double, latencies: Seq[Double], independent: Int,
    attempted: Long, failed: Long, aliases: Seq[(String, String)])

/** A workload: input generation (repeated; the last pass's inputs are
  * used), one warm pass, then either an untraced timed window or a
  * traced one. */
trait Workload {
  def generate(ctx: Ctx, pass: Int): Unit
  def warm(ctx: Ctx): Unit
  def timed(ctx: Ctx): E2E
  /** Per-layer metrics plus (attempted, failed). */
  def traced(ctx: Ctx, l: JobListener): (Map[String, Double], Long, Long)
}

object Main {
  val SetupPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new java.io.File(a("work"), "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(s"$workload-seed${a("seed")}-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toInt, cpus, a("work"),
      a("trace-out"), tracer)
    val workloads = Map[String, Workload]("ingest_batch" -> IngestBatch,
      "ingest_stream" -> IngestStream, "crawl_loop" -> CrawlBench)
    if (workload == "train") {
      // loads every class a run loads, for the class-data sharing archive
      workloads.values.foreach { w => w.generate(ctx, 0); w.warm(ctx) }
      spark.streams.active.foreach(_.stop())
      spark.stop()
      return
    }
    val w = workloads(workload)
    Box.canary(cpus); Box.canary(cpus) // compile the canary loop
    def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val passes = (0 until SetupPasses).map(i => secs(w.generate(ctx, i)))
    val warmS = secs(w.warm(ctx))
    val setupS = sessionS + Stats.median(passes) + warmS
    ctx.canary()

    val (metrics, attempted, failed) =
      if (!trace) {
        val e = w.timed(ctx)
        ctx.canary()
        val lat = e.latencies
        e.aliases.foreach { case (k, v) => ctx.detail(k) = v }
        ctx.detail("latency_s") = Stats.summary(lat)
        ctx.detail("latency_independent_n") = e.independent.toString
        (Map("throughput_per_s" -> e.throughput, "latency_p50_s" -> Stats.q(lat, 0.5),
          "latency_p95_s" -> Stats.q(lat, 0.95), "setup_s" -> setupS), e.attempted, e.failed)
      } else {
        val l = new JobListener
        val (m, at, f) = w.traced(ctx, l)
        ctx.canary()
        (m ++ Map("box.canary_ratio" -> ctx.canaries.max / ctx.canaries.min,
          "box.peak_rss_mb" -> Box.peakRssMb(), "box.live_heap_mb" -> Box.liveHeapMb()), at, f)
      }
    val canaryRatio = ctx.canaries.max / ctx.canaries.min
    ctx.detail("generate_s") = passes.map(p => f"$p%.3f").mkString("[", ",", "]")
    ctx.detail("warm_s") = f"$warmS%.3f"
    ctx.detail("session_s") = f"$sessionS%.3f"
    ctx.detail("peak_rss_mb") = f"${Box.peakRssMb()}%.1f"
    ctx.detail("live_heap_mb") = f"${Box.liveHeapMb()}%.1f"
    ctx.detail("canary_min_s") = f"${ctx.canaries.min}%.4f"
    ctx.detail("canary_ratio") = f"$canaryRatio%.3f"
    ctx.detail("canary_hot") = (canaryRatio > 1.5).toString
    ctx.detail("checks") = ctx.checks.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(ctx.detail.map { case (k, v) =>
      val raw = v.startsWith("{") || v.startsWith("[") || v == "true" || v == "false" ||
        v.matches("-?[0-9]+(\\.[0-9]+)?")
      s""""$k":${if (raw) v else "\"" + v + "\""}""" }
      .mkString(s"""{"workload":"$workload","seed":${ctx.seed},""", ",", "}"))
    val correct = ctx.checks.nonEmpty && ctx.checks.values.forall(identity)
    // units come from BENCHMARK.json, which run.py reads
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k":$num""" }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
    spark.stop()
  }
}
