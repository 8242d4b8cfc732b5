package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.kernel.Cogify
import graft.sinks.PublishSink
import graft.sources.Fetch

/** Outside-in seams: wrappers passed through the engine's own plug
  * points. Local mode runs every task in this JVM, so the counters are
  * plain JVM-wide atomics. */
object Counters {
  val fetchBytes = new AtomicLong
  val fetchNs = new AtomicLong
  val reads = new AtomicLong

  /** One post: the item, when it finished (System.nanoTime) and how long
    * the delegate took. */
  final case class Post(item: String, atNs: Long, tookNs: Long)
  val posts = new ConcurrentLinkedQueue[Post]()

  def drainPosts(): Vector[Post] = {
    val b = Vector.newBuilder[Post]
    var p = posts.poll()
    while (p != null) { b += p; p = posts.poll() }
    b.result()
  }

  def resetKernel(): Unit = Seq(fetchBytes, fetchNs, reads).foreach(_.set(0))
}

final class CountingFetcher(inner: Fetch.Fetcher) extends Fetch.Fetcher {
  override def fetch(uri: String, destDir: File): File = {
    val t0 = System.nanoTime()
    val f = inner.fetch(uri, destDir)
    Counters.fetchNs.addAndGet(System.nanoTime() - t0)
    Counters.fetchBytes.addAndGet(f.length())
    f
  }
}

/** Counts decode attempts (retries included) around the real reader. */
final class CountingGridReader(inner: Cogify.GridReader) extends Cogify.GridReader {
  override def read(task: Cogify.CogifyTask, config: Cogify.CollectionConfig) = {
    Counters.reads.incrementAndGet()
    inner.read(task, config)
  }
  override def readBands(task: Cogify.CogifyTask, config: Cogify.CollectionConfig) = {
    Counters.reads.incrementAndGet()
    inner.readBands(task, config)
  }
}

/** Records every item and its post time, then hands it to the dry-run
  * poster the engine ships. */
final class RecordingPoster(dryRunDir: String) extends PublishSink.ItemPoster {
  private val inner = new PublishSink.DryRunPoster(dryRunDir)
  override def post(item: String): Option[String] = {
    val t0 = System.nanoTime()
    val r = inner.post(item)
    val t1 = System.nanoTime()
    Counters.posts.add(Counters.Post(item, t1, t1 - t0))
    r
  }
  override def close(): Unit = inner.close()
}

object Seams {
  /** The production reader over the Hadoop-FS fetcher, both counted. */
  def mkReader: () => Cogify.GridReader = () =>
    new CountingGridReader(new Cogify.FetchGridReader(() =>
      new CountingFetcher(new Fetch.HadoopFetcher())))

  def mkPoster(dryRunDir: String): () => PublishSink.ItemPoster =
    () => new RecordingPoster(dryRunDir)

  /** (files, bytes) under a directory, checksum sidecars excluded. */
  def diskWalk(path: String): (Long, Long) = {
    val root = new File(path.stripPrefix("file:"))
    if (!root.exists()) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root.toPath)
      try {
        var n = 0L; var b = 0L
        s.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")) {
            n += 1; b += java.nio.file.Files.size(p)
          }
        }
        (n, b)
      } finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val root = new File(path.stripPrefix("file:"))
    if (root.exists()) {
      val s = java.nio.file.Files.walk(root.toPath)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => p.toFile.delete())
      finally s.close()
    }
  }

  /** `"item_id":"…"` of an item JSON. */
  def itemId(json: String): String = {
    val i = json.indexOf("\"item_id\":\"")
    if (i < 0) "" else json.substring(i + 11, json.indexOf('"', i + 11))
  }
}
