package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{ImageCodec, Pt, Surface, Synth}
import graft.sources.GmlXml

/** Seeded input generators. Every generated value (ids, coordinates,
  * attributes, phash, pixels, anchors, the Zipf draw) depends on the seed;
  * the program under test only ever sees the tables and files written here.
  */
object Gen {

  /** splitmix64 of (seed, stream, i): one independent stream per purpose. */
  def h(seed: Long, stream: Long, i: Long): Long =
    Synth.mix64(Synth.mix64(seed * 0x632BE59BD9B4E019L + stream) ^ i)

  /** Uniform double in [0, 1) from a hash. */
  def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  /** Per-building placement jitter (metres, multiples of 1/32 m so every
    * coordinate stays exactly representable) and vertical scale.
    */
  def jitter(seed: Long, b: Long): (Double, Double, Double) = {
    val x = h(seed, 1, b)
    ((x & 0xFF) / 32.0, ((x >>> 8) & 0xFF) / 32.0, 0.75 + ((x >>> 16) & 0xFF) / 512.0)
  }

  def buildingId(seed: Long, b: Long): String =
    f"b$seed%d_${h(seed, 2, b) & 0xFFFFFF}%06x_$b%06d"

  /** Synth's gabled house, moved, height-scaled and renamed per seed. Every
    * 64th building keeps Synth's planted polygon ([[plantedMode]]); the
    * transform keeps each mode as it was (the non-planar offset of 0.02 m
    * scales to at least 0.015 m, above the 0.01 m planarity epsilon).
    */
  def house(seed: Long, b: Long, side: Long): Seq[Surface] = {
    val (dx, dy, zs) = jitter(seed, b)
    val bid = buildingId(seed, b)
    val irr = 0.5 + unit(h(seed, 3, b))
    def tr(p: Pt) = Pt(p.x + dx, p.y + dy, p.z * zs)
    Synth.houseFor(b, side).map { s =>
      s.copy(building_id = bid,
        surface_id = bid + s.surface_id.substring(s.building_id.length),
        ext = s.ext.map(tr), holes = s.holes.map(_.map(tr)),
        attrs = s.attrs.map { case (k, v) => k -> v * irr })
    }
  }

  def city(spark: SparkSession, nB: Long, seed: Long): Dataset[Surface] = {
    import spark.implicits._
    val side = Synth.gridSide(nB)
    spark.range(0L, nB, 1L, math.max(1, math.min(64, nB / 64 + 1)).toInt)
      .as[Long].flatMap(b => house(seed, b, side))
  }

  /** Mode of the polygon Synth plants in every 64th building (it cycles
    * open ring, < 4 points, non-planar, duplicated point), else -1.
    */
  def plantedMode(b: Long): Int = if (b % 64 == 63) ((b / 64) % 4).toInt else -1

  /** Triangles ear-clipping yields for the thematic (non-opening) polygons
    * that survive validation: n + Σ hole points + 2·holes − 2 per polygon.
    * The planted duplicated-point ring is repaired by the reference's
    * recurring-point removal and becomes one valid triangle.
    */
  def expectedTriangles(seed: Long, nB: Long): Long = {
    val side = Synth.gridSide(nB)
    (0L until nB).iterator.map { b =>
      house(seed, b, side).filter(s => s.surface_class != "Window" && s.poly_ord != 9)
        .map(s => (s.ext.size - 1) + s.holes.map(_.size - 1).sum + 2 * s.holes.size - 2)
        .sum.toLong + (if (plantedMode(b) == 3) 1 else 0)
    }.sum
  }

  /** Polygons validation must reject: the planted rings of the first three
    * modes.
    */
  def expectedRejects(nB: Long): Long =
    (0L until nB).count(b => plantedMode(b) >= 0 && plantedMode(b) != 3).toLong

  /** Render the city into `nFiles` multi-building CityGML files (the
    * reference's tile-file layout). Returns (surfaces, bytes written).
    */
  def writeGml(spark: SparkSession, nB: Long, seed: Long, dir: String,
               nFiles: Int): (Long, Long) = {
    import spark.implicits._
    val surf = city(spark, nB, seed).toDF()
    val nSurf = nB * 9 + (0L until nB).count(plantedMode(_) >= 0)
    val docs = GmlXml.render(surf).as[(String, String)].collect().sortBy(_._1)
    val open = "<core:cityObjectMember>"
    val close = "</core:cityObjectMember>"
    Files.createDirectories(Paths.get(dir))
    var bytes = 0L
    docs.grouped(math.ceil(docs.length.toDouble / nFiles).toInt).zipWithIndex.foreach {
      case (group, i) =>
        val head = group.head._2
        val sb = new StringBuilder(head.substring(0, head.indexOf(open)))
        group.foreach { case (_, xml) =>
          sb.append(xml, xml.indexOf(open), xml.indexOf(close) + close.length).append('\n')
        }
        sb.append("</core:CityModel>\n")
        val b = sb.toString.getBytes(UTF_8)
        Files.write(Paths.get(f"$dir/tile_$i%03d.gml"), b)
        bytes += b.length
    }
    (nSurf, bytes)
  }

  /** Image+caption rows (Synth.images' layout) with seeded ids, phash and
    * pixels, anchored around buildings drawn (seeded) from a Zipf(s) law
    * over building ranks. Ranks map to buildings through a fixed bijection
    * that spreads the hot buildings over the city; it does not depend on the
    * seed, so every seed has the same skew layout and the same cost.
    */
  def images(spark: SparkSession, n: Long, nB: Long, s: Double, seed: Long): DataFrame = {
    import spark.implicits._
    val cdf = new Array[Double](nB.toInt)
    var acc = 0.0
    var r = 0
    while (r < cdf.length) { acc += 1.0 / math.pow(r + 1.0, s); cdf(r) = acc; r += 1 }
    val total = acc
    val side = Synth.gridSide(nB)
    // odd multiplier coprime to nB: rank → building is a bijection
    val mult = Iterator.iterate(2654435761L % nB | 1L)(_ + 2)
      .find(m => BigInt(m).gcd(BigInt(nB)) == 1).get
    val parts = math.max(1, math.min(64, n / 4096 + 1)).toInt
    spark.range(0L, n, 1L, parts).as[Long].map { id =>
      val ph = h(seed, 4, id)
      val px = ImageCodec.seededPixels(16, 16, ph)
      val isPng = java.lang.Long.remainderUnsigned(ph, 10L) != 0L
      val bytes = if (isPng) ImageCodec.encodePng(px, 16, 16) else ImageCodec.encodeRaw(px)
      val u = unit(h(seed, 6, id)) * total
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      val b = (lo * mult) % nB
      val (jx, jy, _) = jitter(seed, b)
      val x0 = Synth.Ox0 + (b % side) * Synth.Pitch + jx
      val y0 = Synth.Oy0 + (b / side) * Synth.Pitch + jy
      val q = h(seed, 7, id)
      // within the house's block: [-15, 35) × [-20, 30) around its origin
      (f"img$seed%d_$id%09d", bytes, 16, 16, if (isPng) "png" else "raw",
        s"building $b facade view $id", ph,
        x0 - 15.0 + 50.0 * unit(q), y0 - 20.0 + 50.0 * unit(Synth.mix64(q)))
    }.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "anchor_x", "anchor_y")
  }
}
