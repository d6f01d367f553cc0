package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs the harness's own output checks inside an operation; their time
  * is taken out of the operation's measured time. */
object Check {
  private var taken = 0.0
  def apply[T](f: => T): T = {
    val (r, s) = Main.time(f)
    taken += s
    r
  }
  def elapsed: Double = taken
}

object Main {
  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, out: String = "", work: String = "",
                        perturb: Boolean = false, maxOps: Int = Int.MaxValue) {
    /** Spark runs one task slot per core of the machine. */
    def cores: Int = Runtime.getRuntime.availableProcessors()
  }

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--perturb" :: v :: t => parse(t, o.copy(perturb = v == "1"))
    case "--max-ops" :: v :: t => parse(t, o.copy(maxOps = v.toInt))
    case Nil => o
    case a :: _ => throw new IllegalArgumentException(s"unknown argument $a")
  }

  /** Median; NaN for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally it.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val work = Paths.get(o.work).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val host = new Host.Window
    val (spark, sessionS) = time(session(o.cores, work))
    val tr = new Tracer(spark, o.trace)
    val slab = o.workload match {
      case "raster_slab" => true
      case "raster_tall" => false
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val w = new Raster(spark, o.seed, slab, o.perturb, o.cores, work)
    val (_, genS) = time(w.generate())
    var failures = 0
    var warmed = 0
    val prepTimes = (1 to Raster.PrepReps).map { _ =>
      val c0 = Check.elapsed
      val (ok, s) = time(tr.span("setup")(w.prep(tr)))
      if (!ok) failures += 1
      warmed += 1
      s - (Check.elapsed - c0)
    }
    val prepSpans = tr.all.filter(_.parent == -1)
    val (_, readyS) = time(w.ready())

    final case class Sample(secs: Double, traced: Boolean)
    val samples = mutable.ArrayBuffer.empty[Sample]
    def checked(): Boolean =
      try w.op(tr)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e"); false }
    // live heap is read after set-up and all but the last warm-up
    // operation, so every run retains the same state; the last warm-up
    // absorbs the slow operation that follows a full collection
    var liveHeap = 0.0
    val checkedBefore = Check.elapsed
    val (_, warm0) = time {
      tr.active = false
      (0 until w.warmupOps).foreach { i =>
        if (i == w.warmupOps - 1) liveHeap = Check(Host.liveHeapMb())
        if (!checked()) failures += 1
        warmed += 1
      }
    }
    val warmS = warm0 - (Check.elapsed - checkedBefore)
    val setupS = sessionS + median(prepTimes) + warmS
    def window(traced: Boolean): Unit = {
      tr.active = traced
      val t0 = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - t0) / 1e9 < o.seconds && n < o.maxOps) {
        val c0 = Check.elapsed
        val (ok, s0) = time(tr.span("op")(checked()))
        if (!ok) failures += 1
        samples += Sample(s0 - (Check.elapsed - c0), traced)
        n += 1
      }
    }
    window(traced = false)
    if (o.trace) window(traced = true)
    tr.drain()

    val plain = samples.filterNot(_.traced)
    val secs = plain.map(_.secs).toSeq
    val p50 = median(secs)
    val mitemsPerS = w.itemsPerOp / p50 / 1e6
    val rss = Host.peakRssMb()
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_s_p50" -> (p50, "s"),
      "mitems_per_s" -> (mitemsPerS, "Mitems/s"),
      "live_heap_mb" -> (liveHeap, "MB"))

    val windowFacts = Seq(
      "host.steal_s" -> host.steal, "host.foreign_cpu_s" -> host.foreign)
    val opSpans = tr.all.filter(s => s.parent == -1 && s.name == "op")
    val layer: Seq[(String, Double)] =
      if (!o.trace) Nil
      else {
        val tracedSecs = samples.filter(_.traced).map(_.secs).toSeq
        val wall = opSpans.map(tr.seconds).sum
        def tot(k: String) = opSpans.map(tr.counter(_, k)).sum
        def perOp(k: String) = if (opSpans.isEmpty) 0.0 else tot(k) / opSpans.size
        val inOps = tr.all.filter(s => opSpans.exists(r => s.start >= r.start && s.end <= r.end))
        val selfBy = Units.layers.map { n =>
          s"self_s.$n" -> inOps.filter(_.name == n).map(tr.selfSeconds).sum /
            math.max(1, opSpans.size) }
        val spark = Seq(
          "spark.task_run_s" -> perOp("task_run_s"),
          "spark.task_cpu_s" -> perOp("task_cpu_s"),
          "spark.core_util" -> (if (wall > 0) tot("task_run_s") / (wall * o.cores) else 0.0),
          "spark.scheduler_delay_s" -> perOp("scheduler_delay_s"),
          "spark.gc_s" -> perOp("gc_s"),
          "spark.jobs" -> perOp("jobs"),
          "spark.stages" -> perOp("stages"),
          "spark.tasks" -> perOp("tasks"),
          "spark.shuffle_write_mb" -> perOp("shuffle_write_mb"),
          "spark.spill_mb" -> perOp("spill_mb"),
          "spark.result_mb" -> perOp("result_mb"),
          "spark.failed_tasks" -> tot("failed_tasks"))
        val overhead = Seq(
          "trace.overhead_s" -> (median(tracedSecs) - p50),
          "trace.spans" -> tr.all.size.toDouble)
        val got = w.layerMetrics(tr, opSpans, prepSpans) ++ spark ++ selfBy ++ overhead ++
          windowFacts
        // a layer the workload never calls reports 0, not a missing value
        Units.perLayer.map { case (k, _) => k -> got.get(k).filterNot(_.isNaN).getOrElse(0.0) }
      }

    val facts = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_master" -> Json.str(s"local[${o.cores}]"),
      "shuffle_partitions" -> o.cores.toString,
      "load" -> Json.str("closed loop, 1 client"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "llc_bytes" -> Host.llcBytes().toString,
      "gen_s" -> Json.num(genS), "check_setup_s" -> Json.num(readyS),
      "session_s" -> Json.num(sessionS),
      "prep_s" -> prepTimes.map(Json.num).mkString("[", ", ", "]"),
      "ops" -> plain.size.toString, "traced_ops" -> samples.count(_.traced).toString,
      "op_s" -> secs.map(Json.num).mkString("[", ", ", "]"),
      "warmup_s" -> Json.num(warmS), "peak_rss_mb" -> Json.num(rss),
      "failed_frac" -> Json.num(failures.toDouble / (samples.size + warmed))) ++
      w.facts ++ windowFacts.map { case (k, v) => k -> Json.num(v) }
    println("[perfbench] facts " + Json.obj(facts))

    val units = Units.perLayer.toMap
    val metrics = (if (o.trace) layer.map { case (k, v) => k -> (v, units(k)) } else e2e)
      .map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    val result = Json.obj(Seq(
      "correct" -> (failures == 0).toString,
      "attempted" -> (samples.size + warmed).toString,
      "failed" -> failures.toString,
      "metrics" -> Json.obj(metrics)))
    tr.dump(work.resolve("spans.jsonl"))
    Files.write(Paths.get(o.out), (result + "\n").getBytes("UTF-8"))
    w.close()
    spark.stop()
  }
}
