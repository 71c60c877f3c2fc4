package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Cli
import graft.ops.{ImageOps, ObjPipeline, SpatialOps}
import graft.sink.ObjWriter
import graft.sources.ChunkedGml

/** One benchmark workload: seeded inputs, the untraced user job, the same
  * job as a sequence of traced layer calls, and the check of a job's output.
  */
trait Workload {
  def name: String
  /** What one input row is, for rows_per_s. */
  def rowUnit: String
  /** Input rows of one job (fixed per size, independent of the seed). */
  def rows: Long
  /** Checked warm-up jobs before the measured ones. */
  def warmupJobs: Int = 5
  /** Write the inputs for `seed` under `in`. */
  def setup(spark: SparkSession, seed: Long, in: String): Unit
  /** Derive what `check` compares job outputs against. */
  def references(spark: SparkSession, seed: Long, in: String): Unit
  /** The user job, untraced. Its result is what `check` inspects. */
  def job(spark: SparkSession, in: String, out: String): Any
  /** The same job, one span per layer call, each span's output materialized. */
  def traced(spark: SparkSession, t: Tracer, in: String, out: String): Any
  /** None when the output of a job is correct, else why it is not. */
  def check(spark: SparkSession, in: String, out: String, result: Any): Option[String]
}

object Workload {
  def apply(name: String, smoke: Boolean): Workload = name match {
    case "citygml_obj" =>
      if (smoke) new CityGmlObj(nB = 128, nFiles = 2) else new CityGmlObj(nB = 512, nFiles = 4)
    case "image_join_tiles_knn" =>
      if (smoke) new ImageJoinTilesKnn(nI = 4096, nB = 256) else new ImageJoinTilesKnn(nI = 40000, nB = 512)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def bytesUnder(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L else f.length
    walk(new File(dir))
  }

  def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Thematic triangles of a surfaces table, as the OBJ pipeline derives them. */
  def cityTriangles(surfaces: DataFrame): DataFrame =
    SpatialOps.triangles(ObjPipeline.withoutOpenings(ObjPipeline.validated(surfaces)._1))
}

/** Read from the executed (adaptive) plan of an action that has run. */
object PlanStats extends AdaptiveSparkPlanHelper {
  private def joins(df: DataFrame): Seq[HashJoin] =
    collect(df.queryExecution.executedPlan) { case j: HashJoin => j }

  /** Rows the spatial join emitted: the PIP refine runs as the join condition. */
  def joinOutputRows(df: DataFrame): Long =
    joins(df).map(_.metrics("numOutputRows").value).sum

  /** Bytes of the join's build side: the broadcast relation or the build
    * side's shuffle output.
    */
  def buildBytes(df: DataFrame): Long = joins(df).map { j =>
    val build: SparkPlan = if (j.buildSide == BuildLeft) j.left else j.right
    collectFirst(build) {
      case e: BroadcastExchangeExec => e.metrics("dataSize").value
      case e: ShuffleExchangeExec => e.metrics("dataSize").value
    }.getOrElse(0L)
  }.sum
}

/** The reference's own job: CityGML tile files → per-class OBJ files through
  * `Cli.run -s 1 -g 1 -t 1`.
  */
final class CityGmlObj(nB: Long, nFiles: Int) extends Workload {
  val name = "citygml_obj"
  val rowUnit = "surfaces"
  val rows: Long = nB * 9 + (0L until nB).count(Gen.plantedMode(_) >= 0)
  private val flags = Map("-s" -> "1", "-g" -> "1", "-t" -> "1")
  // its ~31 small Spark jobs run a lot of driver code, which the JIT takes
  // longer to settle than the other workload's hot loops
  override val warmupJobs = 8
  private var expectedTris = -1L
  private var digest: String = null
  private var inBytes = 0L

  def setup(spark: SparkSession, seed: Long, in: String): Unit = {
    val (nSurf, bytes) = Gen.writeGml(spark, nB, seed, in, nFiles)
    require(nSurf == rows, s"generated $nSurf surfaces, expected $rows")
    inBytes = bytes
  }

  def references(spark: SparkSession, seed: Long, in: String): Unit = {
    expectedTris = Gen.expectedTriangles(seed, nB)
    digest = null // taken from the first warm-up job, the first one on this input
  }

  def job(spark: SparkSession, in: String, out: String): Any =
    Cli.run(spark, in, out, flags)

  def traced(spark: SparkSession, t: Tracer, in: String, out: String): Any = {
    val (raw, ingestRejects) = t.span("sources.ingest") {
      val (r, rej) = ChunkedGml.ingestFiles(spark, s"$in/*.gml")
      val (rp, n) = Workload.persisted(r)
      t.count("sources.rows_out", n.toDouble)
      t.count("sources.in_mb", inBytes / 1e6)
      (rp, rej)
    }
    val tris = t.span("geom.triangulate") {
      val (ok, rej) = ObjPipeline.validated(raw)
      val (tp, n) = Workload.persisted(
        SpatialOps.triangles(ObjPipeline.withoutOpenings(ok)))
      t.count("geom.triangles", n.toDouble)
      t.count("geom.rejects", (rej.count() + ingestRejects.count()).toDouble)
      tp
    }
    val (v, f) = t.span("obj.encode") {
      val (v0, f0) = ObjPipeline.dictionaryEncode(ObjPipeline.corners(tris, semantics = true))
      val (vp, nv) = Workload.persisted(ObjPipeline.translateToMin(v0))
      val (fp, nf) = Workload.persisted(f0)
      t.count("obj.vertex_ratio", nv / (3.0 * nf))
      (vp, fp)
    }
    val lines = t.span("obj.lines") {
      Workload.persisted(ObjPipeline.objLines(v, f, objects = true))._1
    }
    t.span("sink.obj_write") {
      ObjWriter.writeIndexedDistributed(lines, out, "citygml")
      t.count("sink.out_mb", Workload.bytesUnder(out) / 1e6)
    }
  }

  def check(spark: SparkSession, in: String, out: String, result: Any): Option[String] = {
    val files = Option(new File(out).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".obj")).sortBy(_.getName)
    val md = MessageDigest.getInstance("SHA-256")
    var allFaces = -1L
    var classFaces = 0L
    files.foreach { f =>
      val b = Files.readAllBytes(f.toPath)
      md.update(f.getName.getBytes("UTF-8")); md.update(b)
      val faces = new String(b, "UTF-8").linesIterator.count(_.startsWith("f ")).toLong
      if (f.getName == "citygml.obj") allFaces = faces else classFaces += faces
    }
    val d = md.digest().map(x => f"$x%02x").mkString
    if (digest == null) digest = d
    val (ok, rej) = ChunkedGml.ingestFiles(spark, s"$in/*.gml")
    val rejects = ObjPipeline.validated(ok)._2.count() + rej.count()
    if (files.length != 4) Some(s"${files.length} OBJ files, expected 4 (All + 3 classes)")
    else if (allFaces != expectedTris) Some(s"$allFaces face lines, expected $expectedTris triangles")
    else if (classFaces != expectedTris) Some(s"class files hold $classFaces faces, expected $expectedTris")
    else if (rejects != Gen.expectedRejects(nB)) Some(s"$rejects rejects, expected ${Gen.expectedRejects(nB)}")
    else if (d != digest) Some(s"OBJ digest $d differs from this seed's $digest")
    else None
  }
}

/** BASELINE headline plus the kNN ladder: image+caption rows with PNG
  * payloads and Zipf-skewed anchors → broadcast spatial join → per-cell
  * counts, raster tiles written to parquet, exact kNN (k = 3) and the salted
  * shuffle spatial join → per-cell counts.
  */
final class ImageJoinTilesKnn(nI: Long, nB: Long, zipfS: Double = 1.2) extends Workload {
  val name = "image_join_tiles_knn"
  val rowUnit = "images"
  val rows: Long = nI
  val k = 3
  private var refMatches = -1L
  private var centroids: Array[(String, Double, Double)] = Array.empty
  private var sample: Array[(String, Double, Double)] = Array.empty

  def setup(spark: SparkSession, seed: Long, in: String): Unit = {
    Gen.city(spark, nB, seed).write.mode("overwrite").parquet(s"$in/city")
    Gen.images(spark, nI, nB, zipfS, seed).write.mode("overwrite").parquet(s"$in/images")
  }

  def references(spark: SparkSession, seed: Long, in: String): Unit = {
    import spark.implicits._
    val images = spark.read.parquet(s"$in/images")
    // matches through another physical plan (unsalted shuffle join)
    refMatches = SpatialOps.spatialJoin(SpatialOps.imageCells(images),
      triCells(spark, in).hint("shuffle_hash")).count()
    // brute-force kNN reference: every surface centroid (mean of the stored
    // exterior ring, closure included) on the driver
    centroids = spark.read.parquet(s"$in/city")
      .select(col("surface_id"), col("ext.x").as("xs"), col("ext.y").as("ys"))
      .as[(String, Seq[Double], Seq[Double])].collect()
      .map { case (id, xs, ys) => (id, xs.sum / xs.size, ys.sum / ys.size) }
    sample = images.orderBy(xxhash64(col("image_id"), lit(seed))).limit(48)
      .select("image_id", "anchor_x", "anchor_y").as[(String, Double, Double)].collect()
  }

  private def triCells(spark: SparkSession, in: String): DataFrame =
    SpatialOps.triangleCells(Workload.cityTriangles(spark.read.parquet(s"$in/city")))

  private def totalOf(counts: DataFrame): DataFrame = counts.agg(sum("n_matches"))

  private def matchesOf(counts: DataFrame): Long = totalOf(counts).head().getLong(0)

  def job(spark: SparkSession, in: String, out: String): Any = {
    val images = spark.read.parquet(s"$in/images")
    val surfaces = spark.read.parquet(s"$in/city")
    val tc = triCells(spark, in)
    val ic = SpatialOps.imageCells(images)
    val broadcastMatches = matchesOf(SpatialOps.cellCounts(
      SpatialOps.spatialJoin(ic, broadcast(tc))))
    ImageOps.materializeTiles(spark, ic).write.mode("overwrite").parquet(s"$out/tiles")
    val knn = SpatialOps.knnAssign(images, surfaces, k = k)
    val saltedMatches = matchesOf(SpatialOps.cellCounts(
      SpatialOps.spatialJoin(ic, tc.hint("shuffle_hash"), salt = 8)))
    (broadcastMatches, knn, saltedMatches)
  }

  def traced(spark: SparkSession, t: Tracer, in: String, out: String): Any = {
    val images = spark.read.parquet(s"$in/images")
    val surfaces = spark.read.parquet(s"$in/city")
    val tc = t.span("geom.triangulate") {
      val (tris, n) = Workload.persisted(Workload.cityTriangles(surfaces))
      t.count("geom.triangles", n.toDouble)
      t.count("geom.rejects", ObjPipeline.validated(surfaces)._2.count().toDouble)
      Workload.persisted(SpatialOps.triangleCells(tris))._1
    }
    val ic = t.span("expr.cell_encode") {
      Workload.persisted(SpatialOps.imageCells(images))._1
    }
    val broadcastMatches = t.span("join.broadcast") {
      val total = totalOf(SpatialOps.cellCounts(SpatialOps.spatialJoin(ic, broadcast(tc))))
      val m = total.collect()(0).getLong(0)
      t.count("join.matches", PlanStats.joinOutputRows(total).toDouble)
      t.add("join.build_mb", PlanStats.buildBytes(total) / 1e6)
      m
    }
    t.span("trace.candidates") {
      t.count("join.candidates", ic.join(tc, Seq("cell_id")).count().toDouble)
    }
    val tiles = t.span("tiles.materialize") {
      Workload.persisted(ImageOps.materializeTiles(spark, ic).toDF())._1
    }
    t.span("sink.tile_write") {
      tiles.write.mode("overwrite").parquet(s"$out/tiles")
      t.count("sink.out_mb", Workload.bytesUnder(out) / 1e6)
    }
    val knn = t.span("knn.assign") {
      val r = SpatialOps.knnAssign(images, surfaces, k = k)
      val ladder = SpatialOps.lastKnnRounds
      t.count("knn.rounds", ladder.size.toDouble)
      ladder.find(_.round == 0).foreach { r0 =>
        t.count("knn.round0_s", r0.sec)
        t.count("knn.stragglers_r0", r0.remaining.toDouble)
      }
      t.count("knn.ladder_s", ladder.map(_.sec).sum)
      r
    }
    val saltedMatches = t.span("join.salted") {
      val total = totalOf(SpatialOps.cellCounts(
        SpatialOps.spatialJoin(ic, tc.hint("shuffle_hash"), salt = 8)))
      val m = total.collect()(0).getLong(0)
      t.add("join.build_mb", PlanStats.buildBytes(total) / 1e6)
      m
    }
    (broadcastMatches, knn, saltedMatches)
  }

  def check(spark: SparkSession, in: String, out: String, result: Any): Option[String] = {
    val (broadcastMatches, knn, saltedMatches) = result.asInstanceOf[(Long, DataFrame, Long)]
    try {
      val tiles = spark.read.parquet(s"$out/tiles")
      val images = spark.read.parquet(s"$in/images")
        .select(col("image_id"), col("caption").as("src_caption"))
      val r = tiles.join(images, Seq("image_id"), "full_outer").agg(
        count(col("tile_bytes")).as("tiles"),
        countDistinct(col("image_id")).as("ids"),
        count(when(col("src_caption").isNull || col("caption").isNull, 1)).as("unmatched"),
        count(when(!(col("psnr").isNull || col("psnr") >= 40.0), 1)).as("lossy"),
        count(when(col("caption") =!= col("src_caption") || !col("caption_ok"), 1)).as("captions"))
        .head()
      val per = knn.groupBy("image_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), min("n"), max("n")).head()
      val got = knn.where(col("image_id").isin(sample.map(_._1): _*))
        .select("image_id", "rk", "surface_id", "dist").collect()
        .groupBy(_.getString(0)).map { case (id, rs) =>
          id -> rs.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getDouble(3))).toSeq
        }
      val wrong = sample.count { case (id, x, y) =>
        val want = centroids.iterator.map { case (sid, cx, cy) =>
          val dx = x - cx; val dy = y - cy
          (math.sqrt(dx * dx + dy * dy), sid)
        }.toSeq.sorted.take(k)
        val g = got.getOrElse(id, Nil)
        g.size != k || g.zip(want).exists { case ((gs, gd), (wd, ws)) =>
          gs != ws || math.abs(gd - wd) > 1e-6 }
      }
      if (r.getLong(0) != nI || r.getLong(1) != nI || r.getLong(2) != 0)
        Some(s"${r.getLong(0)} tiles over ${r.getLong(1)} ids (${r.getLong(2)} unmatched), expected $nI")
      else if (r.getLong(3) != 0) Some(s"${r.getLong(3)} tiles below 40 dB PSNR")
      else if (r.getLong(4) != 0) Some(s"${r.getLong(4)} captions changed")
      else if (broadcastMatches != refMatches)
        Some(s"$broadcastMatches broadcast-join matches, expected $refMatches")
      else if (per.getLong(0) != nI) Some(s"kNN rows for ${per.getLong(0)} images, expected $nI")
      else if (per.getLong(1) != k || per.getLong(2) != k)
        Some(s"images got ${per.getLong(1)}..${per.getLong(2)} neighbours, expected $k")
      else if (wrong > 0) Some(s"$wrong sampled images differ from the brute-force kNN")
      else if (saltedMatches != refMatches)
        Some(s"$saltedMatches salted matches, expected $refMatches unsalted")
      else None
    } finally knn.unpersist(blocking = true)
  }
}
