package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --cores <n> [--smoke]
  * }}}
  *
  * A run: start a `local[cores]` session, write the seeded inputs three times
  * (the median counts), derive the check references and run the checked
  * warm-up jobs; `setup_s` is the sum of these four. Then run jobs for `--seconds`: untraced
  * with `--trace 0`; untraced for the first half and traced for the second
  * with `--trace 1`. Every job is checked; a failed or wrong job is counted
  * and its time is never used. The last stdout line is the result JSON.
  */
object Main {

  /** end_to_end metrics, printed with --trace 0 (BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "cpu_s_per_mrow" -> "s/Mrow",
    "mem_peak_mb" -> "MB", "out_bytes_per_row" -> "B/row", "setup_s" -> "s")

  /** per_layer metrics, printed with --trace 1 (BENCHMARK.json). */
  val PerLayer: Seq[String] = Seq(
    "sources.wall_s", "sources.cpu_s", "sources.gc_s", "sources.in_mb", "sources.rows_out",
    "geom.wall_s", "geom.cpu_s", "geom.triangles", "geom.rejects",
    "obj.wall_s", "obj.cpu_s", "obj.shuffle_mb", "obj.spill_mb", "obj.spark_jobs",
    "obj.vertex_ratio",
    "sink.wall_s", "sink.cpu_s", "sink.out_mb", "sink.spark_jobs",
    "expr.cell_encode.wall_s", "expr.cell_encode.cpu_s",
    "tiles.wall_s", "tiles.cpu_s", "tiles.gc_s", "tiles.shuffle_mb", "tiles.task_skew",
    "tiles.spark_jobs",
    "join.wall_s", "join.cpu_s", "join.shuffle_mb", "join.spill_mb", "join.task_skew",
    "join.candidates", "join.matches", "join.refine_ratio", "join.build_mb",
    "knn.wall_s", "knn.cpu_s", "knn.gc_s", "knn.shuffle_mb", "knn.spill_mb",
    "knn.spark_jobs", "knn.rounds", "knn.round0_s", "knn.stragglers_r0", "knn.union_s",
    "knn.storage_peak_mb",
    "spark.jobs", "spark.tasks", "spark.sched_delay_s", "spark.gc_s",
    "box.cpu_control_s", "trace.overhead_s", "trace.coverage")

  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case "vertex_ratio" | "refine_ratio" | "task_skew" | "coverage" => "ratio"
    case _ => "count"
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toVector.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  final case class JobStat(wallS: Double, cpuS: Double, storagePeak: Long,
                           error: Option[String], outBytes: Long, traced: Boolean,
                           job: Int, tasks: Seq[TaskRec], jobSpans: Seq[Int])

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val smoke = argv.contains("--smoke")
    val wl = Workload(a("workload"), smoke)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsoluteFile
    val base = new File(work, wl.name)
    deleteTree(base)
    val in = new File(base, "in").getPath
    val out = new File(base, "out").getPath

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.ui.enabled", "false")
      // a job generates more classes than the default 100-entry cache holds,
      // and recompiling them every job keeps the JIT busy for the whole run
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder
    sc.addSparkListener(rec)
    val tracer = new Tracer(sc, rec)

    // jobs are independent: no cached, checkpointed or written state of an
    // earlier job survives into the next
    def reset(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      deleteTree(new File(out))
      System.gc()
      Thread.sleep(50)
      rec.take(sc)
    }

    var attempted = 0
    val errors = ArrayBuffer.empty[String]
    def checked(res: Try[Any]): Option[String] = {
      attempted += 1
      val err = res match {
        case Failure(e) => Some(s"job threw $e")
        case Success(r) => Try(wl.check(spark, in, out, r)) match {
          case Failure(e) => Some(s"check threw $e")
          case Success(x) => x
        }
      }
      err.foreach(e => errors += e)
      err
    }

    // ---- set-up: input generation (three rounds, median), references, warm-up ----
    val genRounds = (0 until 3).map { _ =>
      deleteTree(new File(in))
      val s0 = System.nanoTime()
      wl.setup(spark, seed, in)
      (System.nanoTime() - s0) / 1e9
    }
    val r0 = System.nanoTime()
    wl.references(spark, seed, in)
    val refS = (System.nanoTime() - r0) / 1e9
    val warm = (0 until wl.warmupJobs).map { _ =>
      reset()
      val w0 = System.nanoTime()
      val res = Try(wl.job(spark, in, out))
      val w = (System.nanoTime() - w0) / 1e9
      checked(res)
      w
    }
    val setupS = sessionS + median(genRounds) + refS + warm.sum
    System.err.println(f"[perfbench] set-up: session $sessionS%.3f s, input " +
      genRounds.map(g => f"$g%.3f").mkString("/") + f" s, references $refS%.3f s, " +
      "warm-up " + warm.map(w => f"$w%.3f").mkString("/") + " s")

    // ---- measured jobs ----
    val jobs = ArrayBuffer.empty[JobStat]

    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    def runJobs(traced: Boolean, until: Double, minJobs: Int): Unit = {
      var n = 0
      while (n < minJobs || elapsed < until) {
        reset()
        tracer.job = jobs.size
        val base = rec.markStorage(sc)
        val cpu0 = Proc.workCpuNs()
        val jit0 = Proc.compilerCpuNs()
        val gc0 = Proc.gcMs()
        val j0 = System.nanoTime()
        val res = Try {
          if (traced) tracer.span("job")(wl.traced(spark, tracer, in, out))
          else wl.job(spark, in, out)
        }
        val wall = (System.nanoTime() - j0) / 1e9
        val cpu = (Proc.workCpuNs() - cpu0) / 1e9
        val peak = rec.storagePeakBytes(sc) - base
        val (tasks, jobSpans) = rec.take(sc)
        val outBytes = Workload.bytesUnder(out)
        val err = checked(res)
        System.err.println(f"[perfbench] job ${jobs.size} traced=$traced wall=$wall%.3f s " +
          f"cpu=$cpu%.3f s jit=${(Proc.compilerCpuNs() - jit0) / 1e9}%.3f s gc=${(Proc.gcMs() - gc0) / 1e3}%.3f s storage_peak=${peak / 1e6}%.1f MB ${err.getOrElse("ok")}")
        jobs += JobStat(wall, cpu, peak, err, outBytes, traced, jobs.size, tasks, jobSpans)
        n += 1
      }
    }
    if (trace) {
      runJobs(traced = false, seconds / 2, minJobs = 1)
      runJobs(traced = true, seconds, minJobs = 1)
    } else runJobs(traced = false, seconds, minJobs = 3)

    val ok = jobs.toSeq.filter(_.error.isEmpty)
    val untraced = ok.filter(!_.traced)
    val rows = wl.rows.toDouble
    val wallMed = median(untraced.map(_.wallS))
    val e2e: Map[String, Double] = Map(
      "rows_per_s" -> (if (wallMed > 0) rows / wallMed else 0.0),
      "cpu_s_per_mrow" -> median(untraced.map(_.cpuS / rows * 1e6)),
      "mem_peak_mb" -> median(untraced.map(_.storagePeak / 1e6)),
      "setup_s" -> setupS,
      "out_bytes_per_row" -> median(untraced.map(_.outBytes / rows)),
      "failed_ratio" -> errors.size.toDouble / attempted)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map { case (m, u) => (m, e2e(m), u) }
      else {
        val layer = layerMetrics(ok.filter(_.traced), tracer, rec)
        val sparkPerJob = untraced.map { j =>
          Map("spark.jobs" -> j.jobSpans.size.toDouble,
            "spark.tasks" -> j.tasks.size.toDouble,
            "spark.sched_delay_s" -> j.tasks.map(_.schedMs).sum / 1e3,
            "spark.gc_s" -> j.tasks.map(_.gcMs).sum / 1e3)
        }
        val tracedWall = median(ok.filter(_.traced).map(_.wallS))
        val extra = Map(
          "trace.overhead_s" -> (tracedWall - wallMed),
          "box.cpu_control_s" -> cpuControl(spark, cores)) ++
          Seq("spark.jobs", "spark.tasks", "spark.sched_delay_s", "spark.gc_s")
            .map(m => m -> median(sparkPerJob.map(_(m))))
        val all = layer ++ extra
        PerLayer.map(m => (m, all.getOrElse(m, 0.0), unitOf(m)))
      }

    // human-readable summary on stderr: all six end-to-end figures, by name
    System.err.println(f"[perfbench] ${wl.name} seed=$seed rows=${wl.rows} ${wl.rowUnit} " +
      f"jobs=${jobs.size} (+${wl.warmupJobs} warm-up) failed=${errors.size} trace=$trace")
    Seq("rows_per_s" -> "rows/s", "cpu_s_per_mrow" -> "s/Mrow", "mem_peak_mb" -> "MB",
      "out_bytes_per_row" -> "B/row", "failed_ratio" -> "ratio", "setup_s" -> "s")
      .foreach { case (m, u) => System.err.println(f"[perfbench]   $m%-18s ${e2e(m)}%.6g $u") }
    errors.distinct.foreach(e => System.err.println(s"[perfbench] FAILED: $e"))

    if (trace) {
      val dir = new File(work, "trace"); dir.mkdirs()
      Files.write(Paths.get(dir.getPath, s"${wl.name}_seed$seed.json"),
        tracer.toJson.getBytes("UTF-8"))
    }
    spark.stop()

    val correct = errors.isEmpty && untraced.nonEmpty
    println(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> errors.size,
      "metrics" -> Json.RawJson(metrics.map { case (m, v, u) =>
        Json.str(m) + ": " + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ", ", "}"))))
  }

  /** Pure-CPU control: codegen'd hash math on every core, no shuffle, no
    * I/O. Its time measures the box (co-tenant load), not the program.
    */
  def cpuControl(spark: SparkSession, cores: Int): Double = median((0 until 5).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 26, 1L, cores)
      .select(max(xxhash64(xxhash64(xxhash64(col("id")))))).head()
    (System.nanoTime() - t0) / 1e9
  })

  def layerOf(span: String): String =
    if (span.startsWith("expr.cell_encode")) "expr.cell_encode"
    else span.takeWhile(_ != '.')

  /** Per-layer figures of each traced job, as medians over the jobs. */
  def layerMetrics(traced: Seq[JobStat], tracer: Tracer, rec: Recorder): Map[String, Double] = {
    val perJob = traced.map { j =>
      val spans = tracer.spans.filter(_.job == j.job)
      val layerSpans = spans.filter(s => s.name != "job" && !s.name.startsWith("trace."))
      val spanLayer = layerSpans.map(s => s.id -> layerOf(s.name)).toMap
      val tasksBy = j.tasks.groupBy(t => spanLayer.getOrElse(rec.spanOfStage(t.stage), ""))
      val jobsBy = j.jobSpans.groupBy(s => spanLayer.getOrElse(s, "")).map { case (l, v) => l -> v.size }
      val m = scala.collection.mutable.Map.empty[String, Double]
      layerSpans.groupBy(s => layerOf(s.name)).foreach { case (l, ss) =>
        val ts = tasksBy.getOrElse(l, Nil)
        m(s"$l.wall_s") = ss.map(_.wallS).sum
        m(s"$l.cpu_s") = ss.map(_.cpuNs).sum / 1e9
        m(s"$l.gc_s") = ss.map(_.gcMs).sum / 1e3
        m(s"$l.storage_peak_mb") = ss.map(_.storagePeak).max / 1e6
        m(s"$l.shuffle_mb") = ts.map(_.shuffleWrite).sum / 1e6
        m(s"$l.spill_mb") = ts.map(_.spill).sum / 1e6
        m(s"$l.spark_jobs") = jobsBy.getOrElse(l, 0).toDouble
        // skew of the stage that held the most task time: max / median
        val stages = ts.groupBy(_.stage).values.filter(_.size >= 2)
        m(s"$l.task_skew") =
          if (stages.isEmpty) 1.0
          else {
            val st = stages.maxBy(_.map(_.runMs).sum)
            st.map(_.runMs).max / math.max(1.0, median(st.map(_.runMs.toDouble)))
          }
      }
      tracer.counts.foreach { case ((job, name), v) => if (job == j.job) m(name) = v }
      if (m.contains("knn.ladder_s")) m("knn.union_s") = m("knn.wall_s") - m("knn.ladder_s")
      if (m.getOrElse("join.candidates", 0.0) > 0)
        m("join.refine_ratio") = m("join.matches") / m("join.candidates")
      m("trace.coverage") = layerSpans.map(_.wallS).sum / j.wallS
      m.toMap
    }
    perJob.flatMap(_.keys).distinct.map(k => k -> median(perJob.flatMap(_.get(k)))).toMap
  }
}
