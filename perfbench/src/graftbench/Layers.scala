package graftbench

/** The spans and crawl report stages a traced run reports on;
  * BENCHMARK.json lists the metric names and their units. */
object Layers {
  val Spans: Seq[String] = Seq("sources.discover", "kernel.cogify", "pipeline.build",
    "pipeline.run", "sinks.transfer", "sinks.spill", "sinks.publish",
    "pipeline.stream_batch", "operators.frontier", "operators.crawl_step")

  /** Report stages of `CrawlLoop.step` that carry time on `crawl_loop`
    * (its audio and video legs see no media there). */
  val CrawlStages: Seq[String] = Seq("fetched", "segments", "cdx_novel", "media_images",
    "media_near_dup", "media_kept", "records", "html_pages", "http_ok", "admitted",
    "url_dedup", "extract", "gate_scrub", "exact_dedup", "near_dedup", "substring_dedup",
    "decontaminate", "corpus_kept", "corpus_total")
}
