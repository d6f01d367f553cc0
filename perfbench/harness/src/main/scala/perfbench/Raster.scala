package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.regrid._

/** The reference's Backend.ipynb workload: bilinear weights for a
  * 400×600 → 300×400 regional grid, built once and applied many times.
  *
  * Set-up of the slab workload is the in-memory build plus the W
  * collect and broadcast. Set-up of the tall workload follows the
  * reference's Reuse_regridder notebook instead, so the weight-file
  * layer is measured too; the reused regridder serves every apply.
  *
  * `slab = true` feeds a slab-major field `(slab_id, values)` through
  * [[Regridder.apply]], which runs the dense [[SlabApplier]] kernel;
  * `slab = false` feeds the same kind of field in tall relational form
  * `(cell_id, time, lev, value)`, which runs the join-aggregate of
  * [[Apply.regrid]]. Each operation applies the regridder once and folds
  * every output value into a weighted checksum; the expected checksum is
  * a driver-side COO dot over the collected weights, computed once
  * after set-up and outside both kernels. */
final class Raster(spark: SparkSession, seed: Long, slab: Boolean, perturb: Boolean,
                   cores: Int, work: Path) {
  import spark.implicits._
  import Raster._

  private val gridIn = RectGrid.of(-120, 120, 0.4, -60, 60, 0.3)  // 400 × 600
  private val gridOut = RectGrid.of(-120, 120, 0.6, -60, 60, 0.4) // 300 × 400
  private val nIn = gridIn.nCells.toInt
  private val nOut = gridOut.nCells.toInt
  // slab-major: time = 10 × lev = 50, 120M values per apply; the tall
  // batch is one time step of fewer levels, so a call stays a few seconds
  private val keys: Seq[Long] =
    if (slab) for (t <- 1 to 10; l <- 1 to 50) yield slabKey(t, l)
    else for (l <- 1 to TallLevels) yield slabKey(1, l)

  private var input: DataFrame = _
  private var built: Regridder = _
  private var reg: Regridder = _
  private var perturbedSlab: SlabApplier = _
  private var nW = 0L
  private var expected = 0.0
  private val bytesPerTriplet = mutable.Map.empty[String, Double]

  /** Builds the input field from the seed; not part of set-up. */
  def generate(): Unit = {
    val s = seed
    val n = nIn
    input =
      if (slab)
        spark.createDataset(keys).repartition(cores)
          .map(k => (k, values(s, k, n))).toDF("slab_id", "values")
      else {
        // rows split evenly: ten slabs do not divide among the tasks,
        // and whole-slab partitions would give one task twice the rows
        // of another, so every stage would wait on it
        val ks = keys.toArray
        spark.range(0L, ks.length.toLong * n, 1L, cores * TallSplits).mapPartitions { rows =>
          var key = -1L
          var v: Array[Double] = null
          rows.map { i =>
            val k = ks((i / n).toInt)
            if (k != key) { key = k; v = values(s, k, n) }
            val c = (i % n).toInt
            (c.toLong, (k / 64).toInt, (k % 64).toInt, v(c))
          }
        }.toDF("cell_id", "time", "lev", "value")
      }
    input = input.cache()
    input.count()
  }

  /** One repetition of the program's set-up; returns whether the
    * set-up's own outputs passed their check. */
  def prep(tr: Tracer): Boolean = {
    close()
    if (slab) {
      reg = tr.span("regrid.Regridder", "construct") {
        new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Bilinear)
      }
      nW = tr.span("regrid.Weights", "bilinear")(reg.weights.count())
      tr.span("regrid.SlabApplier", "prep") {
        if (perturb) perturbedSlab = new SlabApplier(perturbed(reg.weights), nOut)
        else reg.slabApplier
      }
      true
    } else reuseLifecycle(tr)
  }

  /** The reference's Reuse_regridder flow: build with a weights
    * directory, rebuild with `reuseWeights`, round-trip both ESMF
    * carriers; the reloaded weights must equal the built ones. */
  private def reuseLifecycle(tr: Tracer): Boolean = {
    val dir = work.resolve("weights")
    val nc = dir.resolve("esmf.nc")
    val pq = dir.resolve("esmf.parquet")
    def regridder(reuse: Boolean) = new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
      RegridMethod.Bilinear, weightsDir = Some(dir.toString), reuseWeights = reuse)
    built = tr.span("regrid.Regridder", "construct")(regridder(reuse = false))
    nW = tr.span("regrid.Weights", "bilinear")(built.weights.count())
    reg = tr.span("regrid.Regridder", "construct")(regridder(reuse = true))
    tr.span("regrid.Regridder", "reuse")(reg.weights.count())
    tr.span("regrid.WeightsIO", "nc_write")(WeightsIO.writeEsmfNc(built.weights, nc.toString))
    val fpNc = tr.span("regrid.WeightsIO", "nc_read")(
      fingerprint(WeightsIO.readEsmfNc(spark, nc.toString)))
    tr.span("regrid.WeightsIO", "parquet_write")(WeightsIO.writeEsmf(built.weights, pq.toString))
    val fpPq = tr.span("regrid.WeightsIO", "parquet_read")(
      fingerprint(WeightsIO.readEsmf(spark, pq.toString)))
    Check {
      bytesPerTriplet("nc") = Files.size(nc).toDouble / nW
      bytesPerTriplet("parquet") = dataBytes(pq).toDouble / nW
      Main.deleteTree(nc)
      Main.deleteTree(pq)
      val fp = fingerprint(built.weights)
      val same = fingerprint(reg.weights) == fp && fpNc == fp && fpPq == fp
      if (!same) System.err.println("[perfbench] reloaded weights differ from the built ones")
      same
    }
  }

  /** Computes the expected checksum once, after set-up and untimed. */
  def ready(): Unit = {
    val w = reg.weights.select(col("row").cast("int"), col("col").cast("int"), col("s"))
      .as[(Int, Int, Double)].collect()
    val (r, c, sv) = (w.map(_._1), w.map(_._2), w.map(_._3))
    val s = seed
    val n = nIn
    // driver-side COO dot, one slab per task of the parallel collection
    expected = keys.par.map { k =>
      val v = values(s, k, n)
      var acc = 0.0
      var j = 0
      while (j < r.length) { acc += sv(j) * v(c(j)) * weightOf(k, r(j)); j += 1 }
      acc
    }.sum
  }

  // the first applies run slower while the JIT compiles the kernel, the
  // checksum fold and the planner; a slab apply is short, so it needs
  // more of them to get there
  def warmupOps: Int = if (slab) 10 else 5

  /** One apply; returns whether its checksum matched. */
  def op(tr: Tracer): Boolean = {
    val out = tr.span("regrid.Regridder", "apply") {
      if (!perturb) {
        if (slab) reg.apply(input) else reg.apply(input, Seq("time", "lev"))
      } else if (slab) perturbedSlab.apply(input)
      else Apply.regrid(perturbed(reg.weights), input, Grids.cells(spark, gridOut),
        Seq("time", "lev"))
    }
    val got = tr.span(if (slab) "regrid.SlabApplier" else "regrid.Apply", "exec") {
      if (slab)
        out.as[(Long, Array[Double])].map { case (k, a) =>
          var acc = 0.0
          var d = 0
          while (d < a.length) { acc += a(d) * weightOf(k, d); d += 1 }
          acc
        }.reduce(_ + _)
      else
        out.agg(sum(col("value") * weightExpr(col("time"), col("lev"), col("cell_id"))))
          .head().getDouble(0)
    }
    math.abs(got - expected) <= Tolerance * math.abs(expected)
  }

  /** Input values one apply processes. */
  def itemsPerOp: Double = keys.size.toDouble * nIn

  def layerMetrics(tr: Tracer, ops: Seq[Span], preps: Seq[Span]): Map[String, Double] = {
    val nSlabs = keys.size.toDouble
    val exec = tr.under(ops, if (slab) "regrid.SlabApplier" else "regrid.Apply", "exec")
    val builds = tr.under(preps, "regrid.Weights", "bilinear")
    def perOp(k: String) = exec.map(tr.counter(_, k)).sum / math.max(1, exec.size)
    def prepP50(name: String, key: String) = Main.median(tr.under(preps, name, key).map(tr.seconds))
    val common = Map(
      "weights.build_s.bilinear" -> Main.median(builds.map(tr.seconds)),
      "regridder.reuse_s" -> prepP50("regrid.Regridder", "reuse"),
      "io.parquet_write_s" -> prepP50("regrid.WeightsIO", "parquet_write"),
      "io.parquet_read_s" -> prepP50("regrid.WeightsIO", "parquet_read"),
      "io.nc_write_s" -> prepP50("regrid.WeightsIO", "nc_write"),
      "io.nc_read_s" -> prepP50("regrid.WeightsIO", "nc_read"),
      "io.bytes_per_triplet.parquet" -> bytesPerTriplet.getOrElse("parquet", 0.0),
      "io.bytes_per_triplet.nc" -> bytesPerTriplet.getOrElse("nc", 0.0),
      "weights.triplets" -> nW.toDouble,
      "weights.shuffle_write_mb" -> Main.median(builds.map(tr.counter(_, "shuffle_write_mb"))),
      "regridder.plan_s" -> Main.median(tr.under(ops, "regrid.Regridder", "apply").map(tr.seconds)))
    if (slab) {
      // computed, not measured: one multiply and one add per triplet and
      // slab; bytes are one pass over the input slab, the output slab and
      // the COO arrays (4 + 4 + 8 B per triplet) per slab
      val flop = 2.0 * nW * nSlabs
      val bytes = nSlabs * (8.0 * nIn + 8.0 * nOut + 16.0 * nW)
      common ++ Map(
        "slab.prep_s" -> prepP50("regrid.SlabApplier", "prep"),
        "slab.broadcast_mb" -> 16.0 * nW / 1048576.0,
        "slab.exec_s" -> Main.median(exec.map(tr.seconds)),
        "slab.flop" -> flop,
        "slab.bytes_moved_mb" -> bytes / 1048576.0,
        "slab.ops_per_byte" -> flop / bytes)
    } else common ++ Map(
      "apply.exec_s" -> Main.median(exec.map(tr.seconds)),
      "apply.stages" -> perOp("stages"),
      "apply.tasks" -> perOp("tasks"),
      "apply.shuffle_write_mb" -> perOp("shuffle_write_mb"),
      "apply.shuffle_read_mb" -> perOp("shuffle_read_mb"),
      "apply.spill_mb" -> perOp("spill_mb"))
  }

  def facts: Seq[(String, String)] = {
    val bytes = keys.size.toLong * nIn * 8
    Seq("input_values" -> (keys.size.toLong * nIn).toString,
      "input_array_bytes" -> bytes.toString,
      "input_over_llc" -> Json.num(bytes.toDouble / math.max(1L, Host.llcBytes())),
      "triplets" -> nW.toString)
  }

  def close(): Unit = {
    Seq(built, reg).filter(_ != null).foreach(_.close())
    if (built != null) built.cleanWeightFile()
    if (perturbedSlab != null) perturbedSlab.close()
  }
}

object Raster {
  /** Set-up repetitions per run; `setup_s` takes their median. */
  val PrepReps = 3
  /** Levels in one tall batch (one time step). */
  val TallLevels = 10
  /** Input partitions per core of the tall field: with several small
    * tasks per core, a core that the machine slows down runs fewer of
    * them instead of holding up the stage. */
  val TallSplits = 4
  /** Relative tolerance of the checksum: outputs are rounded to 9
    * decimals on the relational path and summed in another order. */
  val Tolerance = 1e-8

  def slabKey(time: Int, lev: Int): Long = time * 64L + lev

  /** Input values of one slab: positive, so no checksum term cancels. */
  def values(seed: Long, key: Long, n: Int): Array[Double] = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + key)
    Array.fill(n)(1.0 + rnd.nextDouble())
  }

  /** Checksum weight of destination cell `d` in slab `key`. */
  def weightOf(key: Long, d: Long): Double =
    1.0 + ((d * 2654435761L + key * 40503L) & 1023L) / 1024.0

  def weightExpr(time: org.apache.spark.sql.Column, lev: org.apache.spark.sql.Column,
                 cell: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val key = time.cast("long") * 64L + lev.cast("long")
    lit(1.0) + (cell.cast("long") * 2654435761L + key * 40503L).bitwiseAND(1023L)
      .cast("double") / 1024.0
  }

  /** Order-independent fingerprint of a weights relation: triplet count
    * and the exact sum of per-triplet 64-bit hashes. */
  def fingerprint(w: DataFrame): (Long, java.math.BigDecimal) = {
    val h = xxhash64(col("row").cast("long"), col("col").cast("long"), col("s").cast("double"))
    val r = w.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Bytes of a Parquet directory's data files. */
  def dataBytes(p: Path): Long = {
    val it = Files.walk(p)
    try it.filter(f => f.getFileName.toString.startsWith("part-")).mapToLong(Files.size(_)).sum()
    finally it.close()
  }

  /** The weights with one triplet's value raised by 0.5, to prove the
    * output check catches a wrong weight. */
  def perturbed(w: DataFrame): DataFrame = {
    val first = w.orderBy("row", "col").select("row", "col").head()
    w.withColumn("s", when(col("row") === first.get(0) && col("col") === first.get(1),
      col("s") + 0.5).otherwise(col("s")))
  }
}
