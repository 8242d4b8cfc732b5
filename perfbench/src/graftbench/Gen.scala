package graftbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.kernel.Raster.Grid

/** Seeded input generators: the same seed gives the same bytes, and
  * nothing is downloaded. */
object Gen {

  /** splitmix64: small, fast, and identical on every JVM. */
  final class Rng(seed: Long) {
    private var s = seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e5L
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
    def fork(tag: Long): Rng = new Rng(nextLong() ^ tag)
  }

  // -------------------------------------------------------------------
  // NetCDF-3 classic (CDF-1) writer, fixed-size variables only: the
  // external representation of the Classic Format Specification
  // (big-endian header, names and payloads padded to 4 bytes, each
  // variable's data contiguous at its `begin`).

  val NcFloat = 5
  val NcDouble = 6
  val Fill = -9999f

  /** A fixed variable: dims index into the file's dims; `fill` becomes
    * the `_FillValue` attribute. Exactly one of doubles/floats is set. */
  final case class NcVar(name: String, dims: Seq[Int], fill: Option[Float],
      doubles: Array[Double] = null, floats: Array[Float] = null) {
    def ncType: Int = if (floats != null) NcFloat else NcDouble
    def bytes: Long =
      if (floats != null) floats.length * 4L else doubles.length * 8L
  }

  private def pad4(n: Long): Long = (n + 3) & ~3L

  def netcdf(dims: Seq[(String, Int)], vars: Seq[NcVar]): Array[Byte] = {
    def nameLen(s: String) = 4 + pad4(s.getBytes("UTF-8").length)
    val attLen = (v: NcVar) =>
      if (v.fill.isEmpty) 8L else 8L + nameLen("_FillValue") + 8 + 4
    val headerLen = 4 + 4 + 8 + dims.map(d => nameLen(d._1) + 4).sum + 8 + 8 +
      vars.map(v => nameLen(v.name) + 4 + 4 * v.dims.size + attLen(v) + 4 + 4 + 4).sum
    val total = headerLen + vars.map(v => pad4(v.bytes)).sum
    require(total < Int.MaxValue, "CDF-1 granule over 2 GiB")
    val b = ByteBuffer.allocate(total.toInt).order(ByteOrder.BIG_ENDIAN)
    def name(s: String): Unit = {
      val raw = s.getBytes("UTF-8")
      b.putInt(raw.length).put(raw)
      (raw.length.toLong until pad4(raw.length)).foreach(_ => b.put(0.toByte))
    }
    b.put('C'.toByte).put('D'.toByte).put('F'.toByte).put(1.toByte)
    b.putInt(0) // numrecs: no record dimension
    b.putInt(0x0A).putInt(dims.size)
    dims.foreach { case (n, len) => name(n); b.putInt(len) }
    b.putInt(0).putInt(0) // no global attributes
    b.putInt(0x0B).putInt(vars.size)
    var begin = headerLen
    vars.foreach { v =>
      name(v.name)
      b.putInt(v.dims.size); v.dims.foreach(b.putInt)
      v.fill match {
        case Some(f) =>
          b.putInt(0x0C).putInt(1); name("_FillValue")
          b.putInt(NcFloat).putInt(1).putFloat(f)
        case None => b.putInt(0).putInt(0)
      }
      b.putInt(v.ncType).putInt(pad4(v.bytes).toInt).putInt(begin.toInt)
      begin += pad4(v.bytes)
    }
    require(b.position() == headerLen, s"header ${b.position()} != $headerLen")
    vars.foreach { v =>
      if (v.floats != null) b.asFloatBuffer().put(v.floats)
      else b.asDoubleBuffer().put(v.doubles)
      b.position((b.position() + pad4(v.bytes)).toInt)
    }
    b.array()
  }

  // -------------------------------------------------------------------
  // geophysical-looking fields

  /** A smooth field (separable sum of three low-frequency waves)
    * quantised to 1/64, with a polar-night band and one swath gap set to
    * `Fill`. */
  def field(rng: Rng, w: Int, h: Int): Grid = {
    // k half-periods across the axis at a random phase; the wave numbers
    // are fixed so every seed compresses alike
    def wave(n: Int, k: Int): Array[Double] = {
      val p = rng.nextDouble() * 6.283
      Array.tabulate(n)(i => math.sin(3.1416 * k * i / n + p))
    }
    val (x0, x1, x2) = (wave(w, 3), wave(w, 6), wave(w, 11))
    val (y0, y1, y2) = (wave(h, 1), wave(h, 2), wave(h, 3))
    val (a0, a1, a2) = (20 + rng.nextDouble() * 2, 10 + rng.nextDouble(), 5 + rng.nextDouble())
    val base = 50 + rng.nextDouble() * 100
    val polar = h / 16
    val gapC0 = rng.nextInt(w)
    val gap = Array.tabulate(w)(c => ((c - gapC0 + w) % w) < math.max(1, w / 20))
    val data = new Array[Float](w * h)
    java.util.Arrays.fill(data, 0, polar * w, Fill)
    var r = polar
    while (r < h) {
      val (b0, b1, b2) = (a0 * y0(r), a1 * y1(r), a2 * y2(r))
      val off = r * w
      var c = 0
      while (c < w) {
        data(off + c) =
          if (gap(c)) Fill
          else (Math.rint((base + b0 * x0(c) + b1 * x1(c) + b2 * x2(c)) * 64) / 64).toFloat
        c += 1
      }
      r += 1
    }
    Grid(w, h, data, Some(Fill))
  }

  // -------------------------------------------------------------------
  // ingest granules

  /** A collection's on-disk layout and the engine config that decodes it. */
  final case class Collection(name: String, config: graft.kernel.Cogify.CollectionConfig,
      stored: String) // "plain" | "transposed" | "flipped"

  import graft.kernel.Cogify.CollectionConfig
  val Collections: Seq[Collection] = Seq(
    // GPM_3IMERGM-like: stored (lon, lat), the engine transposes
    Collection("imerg", CollectionConfig("precipitation", xVariable = Some("lon"),
      yVariable = Some("lat"), useTopLeftRecipe = true, transposeFix = true), "transposed"),
    // OMDOAO3e-like: stored south-up, the engine flips
    Collection("omi", CollectionConfig("ColumnAmountO3", xVariable = Some("lon"),
      yVariable = Some("lat"), useTopLeftRecipe = true, flipudFix = true), "flipped"),
    // default recipe: reprojected to web-mercator
    Collection("no2merc", CollectionConfig("tropno2", xVariable = Some("lon"),
      yVariable = Some("lat")), "plain"),
    // three variables become one multi-band COG
    Collection("multi", CollectionConfig("t2m", xVariable = Some("lon"),
      yVariable = Some("lat"), useTopLeftRecipe = true,
      bandVariables = Seq("t2m", "u10", "v10")), "plain"))

  /** One source granule: where it lives and how to rebuild its grids. */
  final case class Granule(collection: String, file: String, w: Int, h: Int,
      seed: Long, corrupt: Boolean) {
    def mpx: Double = w.toDouble * h * bands / 1e6
    def bands: Int = if (collection == "multi") 3 else 1
    /** The grids the COG must carry (north-up, row-major). */
    def grids: Seq[Grid] = {
      val rng = new Rng(seed)
      Seq.fill(bands)(field(rng, w, h))
    }
  }

  def lons(w: Int): Array[Double] = Array.tabulate(w)(c => -180.0 + 360.0 * (c + 0.5) / w)
  def latsDown(h: Int): Array[Double] = Array.tabulate(h)(r => 90.0 - 180.0 * (r + 0.5) / h)

  /** The granule's container bytes, laid out as its collection stores them. */
  def granuleBytes(g: Granule): Array[Byte] = {
    val c = Collections.find(_.name == g.collection).get
    val grids = g.grids
    val vnames = if (c.config.bandVariables.nonEmpty) c.config.bandVariables
      else Seq(c.config.variableName)
    c.stored match {
      case "transposed" =>
        netcdf(Seq("lon" -> g.w, "lat" -> g.h), Seq(
          NcVar("lon", Seq(0), None, doubles = lons(g.w)),
          NcVar("lat", Seq(1), None, doubles = latsDown(g.h))) ++
          vnames.zip(grids).map { case (n, gr) =>
            NcVar(n, Seq(0, 1), Some(Fill), floats = graft.kernel.Raster.transpose(gr).data) })
      case "flipped" =>
        netcdf(Seq("lat" -> g.h, "lon" -> g.w), Seq(
          NcVar("lat", Seq(0), None, doubles = latsDown(g.h).reverse),
          NcVar("lon", Seq(1), None, doubles = lons(g.w))) ++
          vnames.zip(grids).map { case (n, gr) =>
            NcVar(n, Seq(0, 1), Some(Fill), floats = graft.kernel.Raster.flipud(gr).data) })
      case _ =>
        netcdf(Seq("lat" -> g.h, "lon" -> g.w), Seq(
          NcVar("lat", Seq(0), None, doubles = latsDown(g.h)),
          NcVar("lon", Seq(1), None, doubles = lons(g.w))) ++
          vnames.zip(grids).map { case (n, gr) => NcVar(n, Seq(0, 1), Some(Fill), floats = gr.data) })
    }
  }

  /** The stored (pre-fixup) layout of band 0, for the decoder self-check. */
  def storedBand0(g: Granule): Grid = {
    val gr = g.grids.head
    Collections.find(_.name == g.collection).get.stored match {
      case "transposed" => graft.kernel.Raster.transpose(gr)
      case "flipped" => graft.kernel.Raster.flipud(gr)
      case _ => gr
    }
  }

  /** A granule whose container the decoder must refuse: a header cut
    * short, or bytes that are no known container. */
  def corruptBytes(rng: Rng, kind: Int): Array[Byte] =
    if (kind % 2 == 0) {
      val whole = netcdf(Seq("lat" -> 4, "lon" -> 4), Seq(
        NcVar("lat", Seq(0), None, doubles = latsDown(4)),
        NcVar("lon", Seq(1), None, doubles = lons(4))))
      java.util.Arrays.copyOf(whole, 40)
    } else Array.fill[Byte](512)(rng.nextLong().toByte)

  /** Small real COG: the already-cloud-optimized share of the inputs. */
  def cogBytes(rng: Rng, w: Int, h: Int): Array[Byte] = {
    val g = field(rng, w, h)
    val aff = graft.kernel.Raster.topLeftRecipe(
      graft.kernel.Raster.Extent(-180, -90, 180, 90), w, h)
    graft.kernel.Tiff.writeCog(g, aff, graft.kernel.Cogify.tile(g), Some(4326))
  }

  def write(f: File, bytes: Array[Byte]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, bytes)
  }

  // -------------------------------------------------------------------
  // crawl text: the documents-table shape (a few dozen common words,
  // 20-90 words per page)

  val Vocab: Array[String] = ("data stream batch table query index column merge spark " +
    "window filter scan join group order key value row part hash sort agg fast slow " +
    "big small line vector node graph cache").split(" ")

  def words(rng: Rng, n: Int): Array[String] = Array.fill(n)(Vocab(rng.nextInt(Vocab.length)))
}
