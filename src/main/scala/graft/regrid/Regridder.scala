package graft.regrid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Interpolation method (reference `xesmf/backend.py:241-246`). */
sealed abstract class RegridMethod(val name: String, val needBounds: Boolean)
object RegridMethod {
  case object Bilinear extends RegridMethod("bilinear", false)
  case object Conservative extends RegridMethod("conservative", true)
  case object NearestS2D extends RegridMethod("nearest_s2d", false)
  case object NearestD2S extends RegridMethod("nearest_d2s", false)
  case object Patch extends RegridMethod("patch", false)

  val all: Seq[RegridMethod] = Seq(Bilinear, Conservative, NearestS2D, NearestD2S, Patch)

  /** V7 method-name validation (reference `backend.py:247-251`). */
  def parse(s: String): RegridMethod =
    all.find(_.name == s).getOrElse(throw new IllegalArgumentException(
      s"method should be chosen from ${all.map(_.name).mkString("[", ", ", "]")}, got '$s'"))
}

/** A source/destination geometry: a structured grid or a point list. */
sealed trait GridDef {
  def isLocstream: Boolean
  def nCells: Long
  def shapeStr: String
  def hasBounds: Boolean
  def cells(spark: SparkSession, withBounds: Boolean): DataFrame
}

final case class RectDef(g: RectGrid, bounds: Boolean = true) extends GridDef {
  def isLocstream = false
  def nCells: Long = g.nCells
  def shapeStr = s"(${g.ny}, ${g.nx})"
  def hasBounds: Boolean = bounds
  def cells(spark: SparkSession, withBounds: Boolean): DataFrame = {
    if (withBounds && !bounds)
      // V5: conservative without corner bounds is an error
      // (reference `backend.py:254-260`, `test_frontend.py:100-102`)
      throw new NoSuchElementException("grid has no bounds (lon_b/lat_b) but method requires them")
    Grids.cells(spark, g, withBounds)
  }
}

/** Non-uniform rectilinear grid from user coordinate arrays
  * (reference accepts arbitrary coordinate datasets/dicts,
  * `frontend.py:59-69`). */
final case class CoordDef(g: CoordGrid, bounds: Boolean = true) extends GridDef {
  def isLocstream = false
  def nCells: Long = g.nCells
  def shapeStr = s"(${g.ny}, ${g.nx})"
  def hasBounds: Boolean = bounds
  def cells(spark: SparkSession, withBounds: Boolean): DataFrame = {
    if (withBounds && !bounds)
      throw new NoSuchElementException("grid has no bounds (lon_b/lat_b) but method requires them")
    CoordGrid.cells(spark, g, withBounds)
  }
}

/** Grid from a user-supplied cell relation — the fully general
  * ingestion path (the reference accepts raw datasets/dicts of
  * coordinate arrays, `frontend.py:58-69`). The DataFrame must carry
  * `(cell_id, lon, lat)` and, for bounds-needing methods, the four
  * bound columns. Works with conservative / nearest methods, which
  * only consume the cell relation; bilinear/patch need axis structure
  * and reject it.
  *
  * V2 shape contract (reference `frontend.py:23-28`): the relation
  * must have exactly `ny·nx` rows — checked once, lazily, at first
  * use. */
final case class CellsDef(df: DataFrame, ny: Int, nx: Int) extends GridDef {
  def isLocstream = false
  def nCells: Long = ny.toLong * nx
  def shapeStr = s"($ny, $nx)"
  private val boundCols = Set("lon_w", "lon_e", "lat_s", "lat_n")
  def hasBounds: Boolean = boundCols.subsetOf(df.columns.toSet)
  private lazy val v2Checked: Unit = {
    val n = df.count()
    require(n == nCells,
      s"cell relation has $n rows but declared shape $shapeStr = $nCells cells " +
        "(V2 shape contract, reference frontend.py:23-28)")
  }
  def cells(spark: SparkSession, withBounds: Boolean): DataFrame = {
    if (withBounds && !hasBounds)
      throw new NoSuchElementException("grid has no bounds (lon_b/lat_b) but method requires them")
    v2Checked
    if (withBounds) df else df.drop(boundCols.toSeq: _*)
  }
}

/** Curvilinear 2-D mesh grid: a tidy center relation
  * `(cell_id, y, x, lon, lat)` plus, for conservative, a corner-polygon
  * relation `(cell_id, lon_c0..lat_c3)` (see
  * [[Curvilinear.rotatedCells]]/[[Curvilinear.rotatedCorners]] for the
  * rotated-pole constructors, or supply any mesh). The reference's
  * 2-D-coordinate-array ingestion (`frontend.py:21-30`) as a grid
  * definition. */
final case class CurvDef(centerCells: DataFrame, polys: Option[DataFrame],
                         ny: Int, nx: Int) extends GridDef {
  def isLocstream = false
  def nCells: Long = ny.toLong * nx
  def shapeStr = s"($ny, $nx)"
  def hasBounds: Boolean = polys.isDefined
  def cells(spark: SparkSession, withBounds: Boolean): DataFrame = {
    if (withBounds && !hasBounds)
      throw new NoSuchElementException("curvilinear grid has no corner polygons but method requires them")
    centerCells
  }
  def polyRelation: DataFrame = polys.getOrElse(
    throw new NoSuchElementException("curvilinear grid has no corner polygons"))
}

final case class LocDef(points: Seq[(Double, Double)]) extends GridDef {
  def isLocstream = true
  def nCells: Long = points.size.toLong
  def shapeStr = s"(1, ${points.size})"
  def hasBounds = false
  def cells(spark: SparkSession, withBounds: Boolean): DataFrame = {
    if (withBounds)
      throw new NoSuchElementException("locstream has no cell bounds")
    Grids.locstream(spark, points)
  }
}

/** The user-facing regridder — the analog of `xesmf.Regridder`
  * (reference `xesmf/frontend.py:105-236`): precompute a sparse weights
  * relation once, apply it to any number of fields.
  *
  * Weight persistence/reuse (reference O1, `frontend.py:144-146`,
  * `:264-280`): weights can be written to / reloaded from Parquet under
  * `weightsDir` using the reference's deterministic filename scheme
  * (`frontend.py:251-262`), so a rebuild with `reuseWeights = true`
  * costs one Parquet read.
  */
final class Regridder(
    val spark: SparkSession,
    val gridIn: GridDef,
    val gridOut: GridDef,
    val method: RegridMethod,
    val periodicRequested: Boolean = false,
    val weightsDir: Option[String] = None,
    val reuseWeights: Boolean = false,
    val nearestBandDeg: Double = 0.0,   // ≤ 0 = auto from point density
    val ignoreDegenerate: Boolean = false,
    val exactEdges: Boolean = false) {

  // periodic is forced off for conservative (reference `frontend.py:164-176`)
  val periodic: Boolean = periodicRequested && method != RegridMethod.Conservative

  // great-circle edge semantics only applies to the conservative clip
  // kernel (ESMF CONSERVE, backend.py:241-246)
  if (exactEdges && method != RegridMethod.Conservative)
    throw new IllegalArgumentException(
      s"exactEdges applies only to the conservative method, got ${method.name}")

  // locstream/method validity matrix (reference `frontend.py:178-184`,
  // tested `test_frontend.py:223-224,241-246`)
  if (gridIn.isLocstream &&
      !Set[RegridMethod](RegridMethod.NearestS2D, RegridMethod.NearestD2S).contains(method))
    throw new IllegalArgumentException(
      s"locstream input is only supported for nearest_s2d/nearest_d2s, got ${method.name}")
  if (gridOut.isLocstream && method == RegridMethod.Conservative)
    throw new IllegalArgumentException("conservative method does not support locstream output")

  /** Default cache key, mirroring reference `frontend.py:251-262`:
    * `{method}_{NyIn}x{NxIn}_{NyOut}x{NxOut}[_peri].parquet`. */
  def defaultFilename: String = {
    def dims(g: GridDef): String = g match {
      case RectDef(r, _) => s"${r.ny}x${r.nx}"
      case CoordDef(c, _) => s"${c.ny}x${c.nx}"
      case c: CurvDef => s"${c.ny}x${c.nx}"
      case CellsDef(_, ny, nx) => s"${ny}x$nx"
      case l: LocDef => s"1x${l.nCells}"
    }
    val peri = if (periodic) "_peri" else ""
    // great-circle-edge weights are DIFFERENT weights: a distinct
    // cache key so reuseWeights never serves straight-edge weights to
    // an exactEdges regridder (or vice versa). The reference's scheme
    // (frontend.py:251-262) has no such axis — ESMF has only one edge
    // semantic — so the suffix is additive, not a deviation.
    val gc = if (exactEdges) "_gc" else ""
    s"${method.name}_${dims(gridIn)}_${dims(gridOut)}$peri$gc.parquet"
  }

  private def weightsPath: Option[String] = weightsDir.map(d => s"$d/$defaultFilename")

  /** V1 lat-range warning (reference warns inside `esmf_grid`,
    * `backend.py:40-52`) — auto-invoked from [[build]] on both grids.
    * Analytic (no Spark job) for grids whose latitudes live on the
    * driver; one filter-count for mesh/relation grids, where latitudes
    * only exist distributed. */
  private def warnV1(g: GridDef, cells: => DataFrame, what: String): Unit = g match {
    case RectDef(r, _) =>
      val a = r.latAxis
      Validate.warnLatRangeLocal(
        (0 until a.n).iterator.map(j => a.start + (j + 0.5) * a.step), what)
    case CoordDef(cg, _) => Validate.warnLatRangeLocal(cg.latAxis.centers.iterator, what)
    case LocDef(pts) => Validate.warnLatRangeLocal(pts.iterator.map(_._2), what)
    case _ => Validate.warnLatRange(cells, what)
  }

  private def build(): DataFrame = {
    val srcB = gridIn.cells(spark, method.needBounds)
    val dstB = gridOut.cells(spark, method.needBounds)
    warnV1(gridIn, srcB, "input grid")
    warnV1(gridOut, dstB, "output grid")
    method match {
      case RegridMethod.Bilinear =>
        gridIn match {
          case RectDef(r, _) => Weights.bilinear(r, dstB, periodic)
          case CoordDef(cg, _) => Weights.bilinearIrregular(cg, dstB, periodic)
          case c: CurvDef =>
            // P4 on curvilinear meshes (reference backend.py:92-95):
            // seam quads close the x ring
            Weights.bilinearCurvilinear(c.centerCells, dstB,
              periodicNx = if (periodic) Some(c.nx) else None)
          case _ => throw new IllegalArgumentException(
            "bilinear needs a rectilinear or curvilinear source grid")
        }
      case RegridMethod.Conservative if exactEdges ||
          gridIn.isInstanceOf[CurvDef] || gridOut.isInstanceOf[CurvDef] =>
        // polygon-clip kernel whenever either side is a curvilinear
        // mesh — or whenever great-circle edge semantics is requested
        // (the analytic rectilinear closed form assumes straight
        // lat/lon edges, so exactEdges routes rect grids through the
        // gc clip too); a rectilinear side contributes its bound boxes
        // as 4-corner polygons. Zero-area cells clip to weight 0 and
        // drop out (the polygon path is inherently degenerate-tolerant).
        def polysOf(g: GridDef, cellsWithBounds: => DataFrame): DataFrame = g match {
          case c: CurvDef => c.polyRelation
          case _ => Curvilinear.boundsToPolys(cellsWithBounds)
        }
        Weights.conservativeCurvilinear(
          polysOf(gridIn, srcB), polysOf(gridOut, dstB), exactEdges = exactEdges)
      case RegridMethod.Conservative =>
        // V6 `ignore_degenerate` (reference `backend.py:230-232`,
        // `frontend.py:148-150`): zero-area cells either error (ESMF's
        // default) or are silently dropped from the weight build
        def degenerate(cells: DataFrame) =
          cells.filter(col("lon_w") === col("lon_e") || col("lat_s") === col("lat_n"))
        if (ignoreDegenerate)
          Weights.conservative(
            srcB.except(degenerate(srcB)), dstB.except(degenerate(dstB)))
        else {
          val nBad = degenerate(srcB).count() + degenerate(dstB).count()
          if (nBad > 0) throw new IllegalArgumentException(
            s"$nBad degenerate (zero-area) cells in grid bounds; " +
              "pass ignoreDegenerate = true to skip them (reference backend.py:230-232)")
          Weights.conservative(srcB, dstB)
        }
      // GridDefs carry static nCells (exact by construction; CellsDef's
      // V2 check enforces declared == actual), so the nearest builders
      // get both sizes for free: no auto-radius count() job, and tiny
      // sides (≤ 64, e.g. locstream endpoints) take the exact-argmin
      // broadcast path instead of per-round tile iterations
      case RegridMethod.NearestS2D =>
        Weights.nearestS2D(srcB, dstB, nearestBandDeg, gridIn.nCells, gridOut.nCells)
      case RegridMethod.NearestD2S =>
        Weights.nearestD2S(srcB, dstB, nearestBandDeg, gridIn.nCells, gridOut.nCells)
      case RegridMethod.Patch =>
        gridIn match {
          case RectDef(r, _) => Weights.patch(r, dstB, periodic)
          case CoordDef(cg, _) =>
            // method matrix frontend.py:123-131: patch wherever
            // bilinear works (periodic closes the seam stencil ring)
            Weights.patchIrregular(cg, dstB, periodic)
          case c: CurvDef =>
            Weights.patchCurvilinear(c.centerCells, dstB, c.ny, c.nx,
              periodicNx = if (periodic) Some(c.nx) else None)
          case _ => throw new IllegalArgumentException(
            "patch needs a rectilinear or curvilinear source grid")
        }
    }
  }

  private var weightsInit = false
  private var slabApplierInit = false
  private var cscApplierInit = false
  private var closed = false

  /** Release the cached weights relation AND both kernels' broadcast
    * copies of W — the analog of the reference's
    * `esmf_regrid_finalize`, `backend.py:333-357`, which likewise frees
    * the native regrid object. No-op for parts never built; the
    * regridder is unusable afterwards ([[apply]] errors instead of
    * silently recomputing freed state). */
  def close(): Unit = if (!closed) {
    if (weightsInit) { weights.unpersist(); () }
    if (slabApplierInit) slabApplier.close()
    if (cscApplierInit) cscApplier.foreach(_.close())
    closed = true
  }

  /** The weights relation (row, col, s). Built once and cached;
    * round-trips through Parquet when `weightsDir` is set. */
  lazy val weights: DataFrame = {
    val df = weightsPath match {
      case Some(p) =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(path)) {
          if (reuseWeights) spark.read.parquet(p)
          else
            // V8: refuse to clobber (reference `backend.py:269-272`);
            // `cleanWeightFile()` removes it explicitly
            throw new IllegalStateException(
              s"Weight file $p already exists! Set reuseWeights = true to load it, " +
                "or cleanWeightFile() first (reference backend.py:269-272)")
        } else {
          build().write.parquet(p)
          spark.read.parquet(p)
        }
      case None => build()
    }
    weightsInit = true
    df.cache()
  }

  /** Shape/size accessors mirroring the reference's attributes
    * (`frontend.py:201-227`). */
  def nIn: Long = gridIn.nCells
  def nOut: Long = gridOut.nCells

  /** Deprecated alias for the weight matrix, kept for reference parity
    * (`frontend.py:238-249` `Regridder.A`). */
  @deprecated("use weights", "0.1.0")
  def A: DataFrame = weights

  /** Persist this regridder's weights bucketed on the source-cell join
    * key (see [[WeightsIO.writeBucketed]]) — the precompute-once /
    * apply-many form for weights too large to broadcast: subsequent
    * applies join the bucketed table without a weights-side shuffle. */
  def saveBucketedWeights(table: String, buckets: Int = 64): Unit =
    WeightsIO.writeBucketed(weights, table, buckets)

  /** Delete the persisted weight file (reference `frontend.py:282-293`). */
  def cleanWeightFile(): Unit = weightsPath.foreach { p =>
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) { fs.delete(path, true); () }
  }

  /** Dense-slab kernel, built once per regridder (collect + broadcast
    * of W — the analog of the reference holding scipy's COO in RAM for
    * the regridder's lifetime, `smm.py:34-41`). */
  lazy val slabApplier: SlabApplier = {
    require(gridOut.nCells <= Int.MaxValue,
      s"slab path needs nOut <= 2^31 (got ${gridOut.nCells}); use the relational apply")
    val a = new SlabApplier(weights, gridOut.nCells.toInt)
    slabApplierInit = true
    a
  }

  /** Tall-field kernel, built on the first tall apply that can use it
    * (collect + broadcast of a col-sorted W, held for the regridder's
    * lifetime like [[slabApplier]]). None when W is empty or over the
    * replicate-W ceiling: such weights always take [[Apply.regrid]]. */
  private[regrid] lazy val cscApplier: Option[CscApplier] = {
    val a = CscApplier.build(weights, gridOut.cells(spark, withBounds = false), gridOut.nCells)
    cscApplierInit = true
    a
  }

  /** Regrid a field. The field's shape picks the input form, and the
    * route follows from it (see [[Apply]]):
    *  - dense slab-major `(slab_id, values ARRAY<DOUBLE>)` (one row per
    *    extra-dim combo, index = cell_id — see [[Apply.toSlabs]]) →
    *    [[slabApplier]], W's COO arrays broadcast once, a dense scatter
    *    per slab; the fastest form for raster fields with many slabs;
    *  - tall relational `(cell_id, [extraDims...], [valueCols...])`,
    *    output in the same tall shape:
    *    - with `broadcastWeights` (the default), an integral `cell_id`
    *      and a non-empty W within the replicate-W ceiling
    *      ([[SlabApplier.defaultMaxTriplets]]) → [[CscApplier]]: W's
    *      col-sorted copy is broadcast once, on the first such apply,
    *      and each apply is one pass over the field plus the sum's
    *      one shuffle;
    *    - otherwise → [[Apply.regrid]]'s join + aggregate, which
    *      derives its padding and join side from W on every call.
    *
    * Both tall routes return the same rows; `validate` runs the same
    * shape check (reference `smm.py:77-86`) on either. */
  def apply(field: DataFrame,
            extraDims: Seq[String] = Nil,
            valueCols: Seq[String] = Seq("value"),
            broadcastWeights: Boolean = true,
            validate: Boolean = false): DataFrame = {
    require(!closed, "Regridder has been closed — its cached weights and " +
      "broadcast kernel state are released; build a new Regridder")
    val cols = field.columns.toSet
    if (cols.contains("values") && cols.contains("slab_id")) {
      // the dense kernel has no notion of these relational-path options
      // — error rather than silently ignore what the caller asked for
      require(extraDims.isEmpty && valueCols == Seq("value") && !validate,
        "slab-major input supports none of extraDims/valueCols/validate " +
          "(extra dims are packed into slab_id; shape is checked inside the kernel)")
      slabApplier.apply(field)
    } else {
      // the index is keyed by a long cell id; any other id type keeps
      // the join's own comparison semantics
      val integralIds = field.schema.exists(f => f.name == "cell_id" && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }))
      (if (broadcastWeights && integralIds) cscApplier else None) match {
        case Some(k) =>
          if (validate) Apply.requireShape(weights, field)
          k.apply(field, extraDims, valueCols)
        case None => Apply.regrid(weights, field, gridOut.cells(spark, withBounds = false),
          extraDims, valueCols, broadcastWeights, validate = validate)
      }
    }
  }

  /** Regrid and attach output-grid coordinates + method metadata
    * (reference R5, `frontend.py:400-446`). */
  def applyWithCoords(field: DataFrame,
                      extraDims: Seq[String] = Nil,
                      valueCols: Seq[String] = Seq("value")): DataFrame = {
    val out = apply(field, extraDims, valueCols)
    val coords = gridOut.cells(spark, withBounds = false)
      .select(col("cell_id"), col("lon"), col("lat"))
    // unhinted (r9): coords is O(destination cells) — fine to broadcast
    // for a 300×400 target, not for a 0.05° global one; AQE decides
    // from the true size (plain cell_id equi-join either way)
    out.join(coords, "cell_id")
      .withColumn("regrid_method", lit(method.name))
  }

  override def toString: String =
    s"""graft Regridder
       |  method:            ${method.name}
       |  input grid shape:  ${gridIn.shapeStr}
       |  output grid shape: ${gridOut.shapeStr}
       |  periodic:          $periodic
       |  weights file:      ${weightsPath.getOrElse("(in-memory)")}
       |  reuse weights:     $reuseWeights""".stripMargin
}
