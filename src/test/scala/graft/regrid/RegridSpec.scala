package graft.regrid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's analytic-oracle test layer
  * (`xesmf/tests/test_frontend.py`, thresholds in BASELINE.md):
  * regrid `wave_smooth` between the reference's own test grids and
  * compare to the analytically evaluated field on the output grid. */
class RegridSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("regrid-spec")
    .getOrCreate()

  // reference fixtures: test_frontend.py:11-12
  val gridIn: RectGrid = RectGrid.of(-180, 180, 20, -90, 90, 12)
  val gridOut: RectGrid = RectGrid.of(-180, 180, 15, -90, 90, 9)

  def srcCells(b: Boolean = false): DataFrame = Grids.cells(spark, gridIn, b)
  def dstCells(b: Boolean = false): DataFrame = Grids.cells(spark, gridOut, b)
  def waveIn: DataFrame = srcCells().select(col("cell_id"),
    TestFields.waveSmooth(col("lon"), col("lat")).as("value"))

  /** max |(ref - out)/ref| over all destination cells. */
  def maxRelErr(out: DataFrame): Double = {
    val ref = dstCells().select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    out.join(ref, "cell_id")
      .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e"))
      .head().getDouble(0)
  }

  test("grid shapes match reference (test_util.py:5-13)") {
    assert(gridIn.shape === ((15, 18)))
    assert(gridOut.shape === ((20, 24)))
    val g = RectGrid.of(-180, 180, 1.5, -90, 90, 1.5)
    assert(g.shape === ((120, 240)))
    assert(Grids.cells(spark, g).count() === 120L * 240)
    // non-divisible resolution warns (test_util.py:16-21)
    assert(RectGrid.globalWarnings(1.7, 1.5).nonEmpty)
    assert(RectGrid.globalWarnings(1.5, 1.5).isEmpty)
  }

  test("conservative: max rel err < 0.05 (test_frontend.py:186-187)") {
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val out = Apply.regrid(w, waveIn, dstCells())
    val e = maxRelErr(out)
    assert(e < 0.05, s"max rel err $e")
  }

  test("conservative weights: rows sum to 1 (area fractions)") {
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val bad = w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count()
    assert(bad === 0)
  }

  test("conservative: global area-weighted mean preserved to 1e-10 (Jones 1999)") {
    // Σ_d out_d·A_d == Σ_s in_s·A_s when grids tile the same sphere
    def area(cells: DataFrame): DataFrame = cells.withColumn("a",
      (col("lon_e") - col("lon_w")) * (sin(radians(col("lat_n"))) - sin(radians(col("lat_s")))))
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val out = Apply.regrid(w, waveIn, dstCells(), roundDigits = 0)
    val inMean = area(srcCells(b = true))
      .join(waveIn, "cell_id")
      .select(sum(col("a") * col("value")) / sum(col("a"))).head().getDouble(0)
    val outMean = area(dstCells(b = true))
      .join(out, "cell_id")
      .select(sum(col("a") * col("value")) / sum(col("a"))).head().getDouble(0)
    assert(math.abs(inMean - outMean) < 1e-10, s"$inMean vs $outMean")
  }

  test("bilinear non-periodic: max rel err == 1.0 — seam unmapped → 0 (test_frontend.py:116-127)") {
    val w = Weights.bilinear(gridIn, dstCells(), periodic = false)
    val out = Apply.regrid(w, waveIn, dstCells())
    assert(maxRelErr(out) === 1.0)
    assert(out.filter(col("value") === 0.0).count() > 0)
  }

  test("bilinear periodic: max rel err < 0.065 (test_frontend.py:136-137)") {
    val w = Weights.bilinear(gridIn, dstCells(), periodic = true)
    val out = Apply.regrid(w, waveIn, dstCells())
    val e = maxRelErr(out)
    assert(e < 0.065, s"max rel err $e")
  }

  test("bilinear weights: each mapped dest sums to 1; ≤ 4 entries non-periodic") {
    val w = Weights.bilinear(gridIn, dstCells(), periodic = false)
    val per = w.groupBy("row").agg(sum("s").as("t"), count("*").as("n"))
    assert(per.filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    assert(per.filter(col("n") > 4).count() === 0)
    val wp = Weights.bilinear(gridIn, dstCells(), periodic = true)
    assert(wp.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    // periodic maps every destination
    assert(wp.select("row").distinct().count() === gridOut.nCells)
  }

  test("nearest_s2d: exactly one weight of 1.0 per dest (FIXTURES.md §4)") {
    val w = Weights.nearestS2D(srcCells(), dstCells())
    assert(w.count() === gridOut.nCells)
    assert(w.select("row").distinct().count() === gridOut.nCells)
    assert(w.filter(col("s") =!= 1.0).count() === 0)
  }

  test("nearest_s2d matches brute-force argmin") {
    val src = srcCells().select(col("cell_id").as("sid"), col("lon").as("slon"), col("lat").as("slat"))
    val dst = dstCells().select(col("cell_id").as("did"), col("lon").as("dlon"), col("lat").as("dlat"))
    val brute = dst.crossJoin(src)
      .withColumn("dist", Rounding.r9(
        NearestJoin.sqChord(col("dlon"), col("dlat"), col("slon"), col("slat"))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("did").orderBy(col("dist"), col("sid"))))
      .filter(col("rn") === 1)
      .select(col("did").as("row"), col("sid").as("bcol"))
    val w = Weights.nearestS2D(srcCells(), dstCells())
    assert(w.join(brute, "row").filter(col("col") =!= col("bcol")).count() === 0)
  }

  test("nearest_d2s: every source assigned once; dest sums arrivals (test_frontend.py:64-78)") {
    val w = Weights.nearestD2S(srcCells(), dstCells())
    assert(w.count() === gridIn.nCells)           // one row per source
    assert(w.select("col").distinct().count() === gridIn.nCells)
    // applying to a constant-1 field counts arrivals; some dests get 0
    val ones = srcCells().select(col("cell_id"), lit(1.0).as("value"))
    val out = Apply.regrid(w, ones, dstCells())
    assert(out.count() === gridOut.nCells)
    assert(out.filter(col("value") === 0.0).count() > 0)      // non-surjective
    assert(out.agg(sum("value")).head().getDouble(0) === gridIn.nCells.toDouble)
  }

  test("4-D broadcast: horizontal mean preserved per (time,lev) slab to 10 dp (test_frontend.py:196-199)") {
    // conservative preserves the area-weighted mean; data4D = time*lev*wave
    val f4 = waveIn
      .crossJoin(spark.range(1, 8).toDF("time"))
      .crossJoin(spark.range(1, 12).toDF("lev"))
      .select(col("cell_id"), col("time"), col("lev"),
        (col("time") * col("lev") * col("value")).as("value"))
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val out = Apply.regrid(w, f4, dstCells(), extraDims = Seq("time", "lev"), roundDigits = 0)
    assert(out.count() === gridOut.nCells * 7 * 11)

    def area(c: DataFrame) = c.withColumn("a",
      (col("lon_e") - col("lon_w")) * (sin(radians(col("lat_n"))) - sin(radians(col("lat_s")))))
    val inMeans = area(srcCells(b = true)).join(f4, "cell_id")
      .groupBy("time", "lev")
      .agg((sum(col("a") * col("value")) / sum(col("a"))).as("m_in"))
    val outMeans = area(dstCells(b = true)).join(out, "cell_id")
      .groupBy("time", "lev")
      .agg((sum(col("a") * col("value")) / sum(col("a"))).as("m_out"))
    val bad = inMeans.join(outMeans, Seq("time", "lev"))
      .filter(abs(col("m_in") - col("m_out")) > 1e-10).count()
    assert(bad === 0)
  }

  test("multi-variable dataset map regrids all vars in one pass (frontend.py:448-511)") {
    val f = srcCells().select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("v1"),
      (col("lat") / 90.0 + 3.0).as("v2"))
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val out = Apply.regrid(w, f, dstCells(), valueCols = Seq("v1", "v2"))
    assert(out.columns.toSet === Set("cell_id", "v1", "v2"))
    assert(out.count() === gridOut.nCells)
    assert(out.filter(col("v1").isNull || col("v2").isNull).count() === 0)
  }

  test("Regridder facade: build, persist, reuse, clean (test_frontend.py:81-97)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-weights").toString
    val r1 = new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
      RegridMethod.Bilinear, periodicRequested = true, weightsDir = Some(dir))
    val n1 = r1.weights.count()
    assert(new java.io.File(s"$dir/${r1.defaultFilename}").exists())
    assert(r1.defaultFilename === "bilinear_15x18_20x24_peri.parquet")

    val r2 = new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
      RegridMethod.Bilinear, periodicRequested = true, weightsDir = Some(dir),
      reuseWeights = true)
    assert(r2.weights.count() === n1)

    assert(r1.toString.contains("graft Regridder"))
    assert(r1.toString.contains("bilinear"))

    r1.cleanWeightFile()
    assert(!new java.io.File(s"$dir/${r1.defaultFilename}").exists())
    r1.close()                                     // finalize analog
    assert(r1.weights.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Bilinear)
      .close()                                     // no-op before build
  }

  test("Regridder applyWithCoords attaches output coords + method attr (frontend.py:424-441)") {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Conservative)
    val out = r.applyWithCoords(waveIn)
    assert(out.columns.toSet === Set("cell_id", "value", "lon", "lat", "regrid_method"))
    val row = out.orderBy("cell_id").head()
    assert(row.getAs[String]("regrid_method") === "conservative")
    assert(out.count() === gridOut.nCells)
  }

  test("Regridder exactEdges: gc kernel via the facade, distinct cache key, method guard") {
    // rect grids route through the polygon path when exactEdges is on:
    // facade weights ≡ the direct gc kernel over the bounds polygons
    val rExact = new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
      RegridMethod.Conservative, exactEdges = true)
    val direct = Weights.conservativeCurvilinear(
      Curvilinear.boundsToPolys(Grids.cells(spark, gridIn, withBounds = true)),
      Curvilinear.boundsToPolys(Grids.cells(spark, gridOut, withBounds = true)),
      exactEdges = true)
    assert(rExact.weights.exceptAll(direct).count() === 0 &&
      direct.exceptAll(rExact.weights).count() === 0)
    // gc weights differ from the analytic straight-edge weights (that
    // difference is the feature) but still map every destination
    val rStraight = new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
      RegridMethod.Conservative)
    assert(rExact.weights.select("row").distinct().count() === gridOut.nCells)
    assert(rExact.weights.exceptAll(rStraight.weights).count() > 0)
    // distinct cache key so reuseWeights can't serve straight-edge
    // weights to an exactEdges regridder
    assert(rStraight.defaultFilename !== rExact.defaultFilename)
    assert(rExact.defaultFilename.contains("_gc"))
    intercept[IllegalArgumentException] {
      new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
        RegridMethod.Bilinear, exactEdges = true)
    }
  }

  test("deprecated Regridder.A aliases the weight relation (R8, frontend.py:238-249)") {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Bilinear)
    val a: DataFrame = r.A: @annotation.nowarn("cat=deprecation")
    // same relation, same triplets — a user migrating off `.A` loses nothing
    assert(a.columns.toSeq === r.weights.columns.toSeq)
    assert(a.exceptAll(r.weights).count() === 0 &&
      r.weights.exceptAll(a).count() === 0)
  }

  test("error paths (V5, V7, locstream matrix — test_frontend.py:100-102,241-246)") {
    // conservative without bounds
    intercept[NoSuchElementException] {
      new Regridder(spark, RectDef(gridIn, bounds = false), RectDef(gridOut),
        RegridMethod.Conservative).weights.count()
    }
    // unknown method name
    intercept[IllegalArgumentException] { RegridMethod.parse("bogus") }
    // locstream input with bilinear
    val locs = LocDef(Seq((0.0, -20.0), (5.0, -10.0)))
    intercept[IllegalArgumentException] {
      new Regridder(spark, locs, RectDef(gridOut), RegridMethod.Bilinear)
    }
    // locstream output with conservative
    intercept[IllegalArgumentException] {
      new Regridder(spark, RectDef(gridIn), locs, RegridMethod.Conservative)
    }
    // locstream in+out with nearest works (test_frontend.py:52-78 matrix)
    val r = new Regridder(spark, locs, LocDef(Seq((1.0, -19.0))), RegridMethod.NearestS2D)
    assert(r.weights.count() === 1)
  }

  test("NearestJoin tiny-set fast path == tile path, row for row") {
    // auto mode routes searched sets <= smallPtsMax through the exact
    // broadcast argmin; an explicit initBandDeg forces the tile rounds.
    // Same points, same probes: the two paths must agree on every
    // (probe, point, rounded dist) — the fast path is an optimization,
    // never a semantics change. Probes include a pole and both seam
    // sides (the tile path's special-cased regions).
    val pts = Seq((0L, 0.0, -20.0), (1L, 5.0, -10.0), (2L, 10.0, 0.0), (3L, 15.0, 10.0))
    val probes = Seq((0L, -179.5, -89.0), (1L, 179.5, 45.0), (2L, 0.25, -15.0),
      (3L, 12.0, 5.0), (4L, -90.0, 89.5), (5L, 100.0, 0.0))
    import spark.implicits._
    val ptsDf = pts.toDF("id", "lon", "lat")
    val probesDf = probes.toDF("id", "lon", "lat")
    assert(pts.size <= NearestJoin.smallPtsMax)
    def rows(df: DataFrame) = df.orderBy("probe_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fast = rows(NearestJoin.nearest(ptsDf, probesDf))             // auto → fast path
    val tiled = rows(NearestJoin.nearest(ptsDf, probesDf, initBandDeg = 60.0))
    assert(fast === tiled)
    assert(fast.map(_._1) === probes.map(_._1), "one row per probe")
  }

  test("NearestJoin tiny-PROBES fast path == tile path, row for row") {
    // symmetric to the tiny-points path: a probe-side size hint at or
    // below smallPtsMax routes through the broadcast exact argmin; the
    // tile rounds (forced via an explicit radius, and via a large
    // bogus probe hint) must produce the identical relation. Points
    // include a pole and both seam sides; the searched set is LARGER
    // than smallPtsMax so only the probe hint can trigger the path.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (0L until 200L).map(i =>
      (i, rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 178.0 - 89.0)) ++
      Seq((200L, -179.9, -89.9), (201L, 179.9, 89.9))
    val probes = Seq((0L, -179.5, -89.0), (1L, 179.5, 45.0), (2L, 0.25, -15.0),
      (3L, 12.0, 5.0), (4L, -90.0, 89.5), (5L, 100.0, 0.0))
    val ptsDf = pts.toDF("id", "lon", "lat")
    val probesDf = probes.toDF("id", "lon", "lat")
    assert(pts.size > NearestJoin.smallPtsMax)
    def rows(df: DataFrame) = df.orderBy("probe_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fast = rows(NearestJoin.nearest(ptsDf, probesDf,
      nPtsHint = pts.size.toLong, nProbesHint = probes.size.toLong))
    val tiled = rows(NearestJoin.nearest(ptsDf, probesDf, initBandDeg = 60.0))
    assert(fast === tiled)
    assert(fast.map(_._1) === probes.map(_._1), "one row per probe")
  }

  test("locstream OUTPUT works for bilinear and patch (method matrix, frontend.py:178-184)") {
    // 4 interior points: bilinear/patch to a locstream destination must
    // interpolate the analytic field closely
    val locs4: Seq[(Double, Double)] = graft.RegridQueries.locs4
    val locDef = LocDef(locs4)
    Seq(RegridMethod.Bilinear, RegridMethod.Patch).foreach { m =>
      val r = new Regridder(spark, RectDef(gridIn), locDef, m, periodicRequested = true)
      val out = r.apply(waveIn).orderBy("cell_id").collect()
      assert(out.length === 4, s"method ${m.name}")
      locs4.zip(out).foreach { case ((lon, lat), row) =>
        val ref = 2.0 + math.pow(math.cos(math.toRadians(lat)), 2) *
          math.cos(2.0 * math.toRadians(lon))
        val got = row.getAs[Double]("value")
        assert(math.abs(got - ref) / ref < 0.05, s"${m.name} at ($lon,$lat): $got vs $ref")
      }
    }
  }

  test("locstream OUTPUT works from non-uniform and curvilinear sources too (method matrix)") {
    def checkOut(r: Regridder, f: DataFrame, locs: Seq[(Double, Double)],
                 tag: String): Unit = {
      val out = r.apply(f).orderBy("cell_id").collect()
      assert(out.length === locs.length, tag)
      locs.zip(out).foreach { case ((lon, lat), row) =>
        val ref = 2.0 + math.pow(math.cos(math.toRadians(lat)), 2) *
          math.cos(2.0 * math.toRadians(lon))
        assert(math.abs(row.getAs[Double]("value") - ref) / ref < 0.2,
          s"$tag at ($lon,$lat): ${row.getAs[Double]("value")} vs $ref")
      }
    }
    // non-uniform rectilinear source (coarse stretched fixture → loose bar)
    val locs4: Seq[(Double, Double)] = graft.RegridQueries.locs4
    val cg = graft.RegridQueries.gridInNonuni
    val fNon = CoordGrid.cells(spark, cg).select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    Seq(RegridMethod.Bilinear, RegridMethod.Patch).foreach { m =>
      checkOut(new Regridder(spark, CoordDef(cg), LocDef(locs4), m),
        fNon, locs4, s"nonuniform ${m.name}")
    }
    // curvilinear source: probe points constructed INSIDE the mesh via
    // the rotation transform itself (interior rotated coordinates)
    val rot = graft.RegridQueries.rotGrid
    val (pLat, pLon) = (graft.RegridQueries.rotPoleLat, graft.RegridQueries.rotPoleLon)
    def geo(lamr: Double, thr: Double): (Double, Double) = {
      val (lr, tr, pl) = (math.toRadians(lamr), math.toRadians(thr), math.toRadians(pLat))
      val lat = math.toDegrees(math.asin(
        math.sin(tr) * math.sin(pl) + math.cos(tr) * math.cos(lr) * math.cos(pl)))
      val lon = pLon + math.toDegrees(math.atan2(
        math.cos(tr) * math.sin(lr),
        math.sin(tr) * math.cos(pl) - math.cos(tr) * math.cos(lr) * math.sin(pl)))
      (lon, lat)
    }
    val locsCurv = Seq(geo(20, -10), geo(30, 0), geo(40, 10), geo(50, 5))
    val src = Curvilinear.rotatedCells(spark, rot, pLat, pLon)
    val fCurv = src.select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    Seq(RegridMethod.Bilinear, RegridMethod.Patch).foreach { m =>
      checkOut(new Regridder(spark, CurvDef(src, None, rot.ny, rot.nx), LocDef(locsCurv), m),
        fCurv, locsCurv, s"curv ${m.name}")
    }
  }

  test("SlabApplier.close releases the broadcast (finalize analog, backend.py:333-357)") {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Conservative)
    val slabs = Apply.toSlabs(
      waveIn.crossJoin(spark.range(1, 3).toDF("time"))
        .select(col("cell_id"), col("time"), col("value")),
      gridIn.nCells.toInt, Seq("time"))
      .select(col("time").as("slab_id"), col("values"))
    assert(r.slabApplier.apply(slabs).count() === 2)
    r.slabApplier.close()
    intercept[Exception] { r.slabApplier.apply(slabs).count() }
  }

  test("Regridder.close releases the dense kernel too; apply after close errors") {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Conservative)
    val slabs = Apply.toSlabs(
      waveIn.crossJoin(spark.range(1, 3).toDF("time"))
        .select(col("cell_id"), col("time"), col("value")),
      gridIn.nCells.toInt, Seq("time"))
      .select(col("time").as("slab_id"), col("values"))
    assert(r.apply(slabs).count() === 2)
    r.close()
    r.close()   // idempotent — second close must not throw on the destroyed broadcast
    // broadcast COO arrays destroyed — the dense path cannot silently
    // reuse freed state
    val e = intercept[Exception] { r.apply(slabs).count() }
    assert(e.getMessage.contains("closed"))
  }

  test("SlabApplier accepts integer-typed weight columns (stats pass casts)") {
    import spark.implicits._
    val intW = Seq((0, 0, 1.0), (1, 0, 0.5)).toDF("row", "col", "s")   // IntegerType ids
    val slabs = Seq((0L, Array(2.0))).toDF("slab_id", "values")
    val out = new SlabApplier(intW, 2).apply(slabs).head()
    assert(out.getAs[Seq[Double]]("values") === Seq(2.0, 1.0))
  }

  test("SlabApplier rejects weights whose rows/cols break the index contract") {
    import spark.implicits._
    // row 99 >= nOut=10: must fail at construction with the shape-contract
    // message, not as an ArrayIndexOutOfBounds inside the kernel
    val bad = Seq((99L, 0L, 1.0)).toDF("row", "col", "s")
    val e1 = intercept[IllegalArgumentException] { new SlabApplier(bad, 10) }
    assert(e1.getMessage.contains("destination rows"))
    val neg = Seq((-1L, 0L, 1.0)).toDF("row", "col", "s")
    intercept[IllegalArgumentException] { new SlabApplier(neg, 10) }
    // col beyond 2^31 would wrap under the non-ANSI int cast — must error
    val wide = Seq((0L, Int.MaxValue.toLong + 5, 1.0)).toDF("row", "col", "s")
    val e2 = intercept[IllegalArgumentException] { new SlabApplier(wide, 10) }
    assert(e2.getMessage.contains("source cols"))
    // triplet-count ceiling still enforced (heap-derived default)
    val ok = Seq((0L, 0L, 1.0), (1L, 0L, 0.5)).toDF("row", "col", "s")
    intercept[IllegalArgumentException] { new SlabApplier(ok, 10, maxTriplets = 1L) }
    assert(SlabApplier.defaultMaxTriplets > 0)
  }

  test("bilinearIrregular rejects a single-center axis at the contract boundary") {
    val oneCol = CoordGrid(
      CoordAxis(Array(0.0), Array(-1.0, 1.0)),
      CoordAxis(Array(-10.0, 10.0), Array(-20.0, 0.0, 20.0)))
    val e = intercept[IllegalArgumentException] {
      Weights.bilinearIrregular(oneCol, dstCells())
    }
    assert(e.getMessage.contains("at least 2x2"))
  }

  test("V1 lat-range warning fires automatically at weight build (backend.py:40-52)") {
    val bad = RectGrid.of(-180, 180, 20, -102, 90, 12)   // top centers beyond 90
    val buf = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(buf)) {
      new Regridder(spark, RectDef(bad), RectDef(gridOut), RegridMethod.NearestS2D).weights
      ()
    }
    assert(buf.toString.contains("latitude outside [-90, 90]"),
      s"expected V1 warning, got: ${buf.toString}")
    // mesh-backed grids go through the distributed check
    val badCells = Grids.cells(spark, RectGrid.of(-180, 180, 20, -102, 90, 12))
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(buf2)) {
      new Regridder(spark, CellsDef(badCells, 16, 18), RectDef(gridOut),
        RegridMethod.NearestS2D).weights
      ()
    }
    assert(buf2.toString.contains("latitude outside [-90, 90]"))
  }

  test("periodic forced off for conservative (frontend.py:164-176)") {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
      RegridMethod.Conservative, periodicRequested = true)
    assert(!r.periodic)
  }

  test("lat validation warning range (backend.py:40-52)") {
    val cells = Grids.cells(spark, RectGrid.of(-180, 180, 10, -100, 90, 5))
    assert(Validate.latOutOfRange(cells) > 0)
    assert(Validate.latOutOfRange(srcCells()) === 0)
  }

  test("patch (bicubic stencil): weights sum to 1, ≤16 entries, beats bilinear accuracy") {
    val w = Weights.patch(gridIn, dstCells(), periodic = false)
    val per = w.groupBy("row").agg(sum("s").as("t"), count("*").as("n"))
    assert(per.filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    assert(per.filter(col("n") > 16).count() === 0)
    // on the cells patch maps, its error must beat bilinear's on the
    // same cells (higher-order interpolant, smooth field)
    val ref = dstCells().select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    def errOn(weights: DataFrame): Double = {
      val mapped = weights.select(col("row").as("cell_id")).distinct()
      Apply.regrid(weights, waveIn, dstCells()).join(mapped, "cell_id").join(ref, "cell_id")
        .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e"))
        .head().getDouble(0)
    }
    val eP = errOn(w)
    val eB = errOn(Weights.bilinear(gridIn, dstCells(), periodic = false))
    assert(eP < eB, s"patch err $eP !< bilinear err $eB")
    assert(eP < 0.05, s"patch max rel err $eP")
  }

  test("patch periodic: wraps longitude, maps every dest row with lat in hull") {
    val w = Weights.patch(gridIn, dstCells(), periodic = true)
    val nInHull = dstCells().filter(
      (col("lat") - gridIn.latAxis.firstCenter) / gridIn.latAxis.step >= 0.0 &&
      (col("lat") - gridIn.latAxis.firstCenter) / gridIn.latAxis.step <= (gridIn.ny - 1).toDouble
    ).count()
    assert(w.select("row").distinct().count() === nInHull)
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
  }

  test("patchIrregular: cubic Lagrange reproduces cubic fields exactly, same support as uniform patch") {
    val cg = CoordGrid(
      CoordAxis.fromUniform(gridIn.lonAxis), CoordAxis.fromUniform(gridIn.latAxis))
    val wI = Weights.patchIrregular(cg, dstCells())
    val wU = Weights.patch(gridIn, dstCells(), periodic = false)
    // same mapped destinations and stencil shape as the uniform Keys
    // builder (the kernels differ: Lagrange vs Keys — both documented
    // deviations from ESMF's internal patch recovery)
    assert(wI.select("row").distinct().count() === wU.select("row").distinct().count())
    assert(wI.groupBy("row").agg(sum("s").as("t"), count("*").as("n"))
      .filter(abs(col("t") - 1.0) > 1e-9 || col("n") > 16).count() === 0)
    // 4th-order check: a separable cubic (incl. cross terms) must be
    // interpolated exactly up to weight-rounding noise
    def cubic(lon: org.apache.spark.sql.Column, lat: org.apache.spark.sql.Column) =
      pow(lon / 90.0, 3) + pow(lat / 45.0, 3) + (lon / 100.0) * (lat / 50.0)
    val f = srcCells().select(col("cell_id"), cubic(col("lon"), col("lat")).as("value"))
    val ref = dstCells().select(col("cell_id"), cubic(col("lon"), col("lat")).as("ref"))
    val mapped = wI.select(col("row").as("cell_id")).distinct()
    val e = Apply.regrid(wI, f, dstCells(), roundDigits = 0)
      .join(mapped, "cell_id").join(ref, "cell_id")
      .select(max(abs(col("ref") - col("value"))).as("e")).head().getDouble(0)
    assert(e < 1e-9, s"cubic field must be reproduced exactly, err $e")
  }

  test("patchIrregular: non-uniform grid, weights sum to 1, ≤16 entries, bounded error") {
    val g = graft.RegridQueries.gridInNonuni
    val w = Weights.patchIrregular(g, dstCells())
    val per = w.groupBy("row").agg(sum("s").as("t"), count("*").as("n"))
    assert(per.filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    assert(per.filter(col("n") > 16).count() === 0)
    // smooth-field accuracy on the mapped cells
    val f = CoordGrid.cells(spark, g).select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val ref = dstCells().select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    def errOn(weights: DataFrame): Double = {
      val mapped = weights.select(col("row").as("cell_id")).distinct()
      Apply.regrid(weights, f, dstCells()).join(mapped, "cell_id").join(ref, "cell_id")
        .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e")).head().getDouble(0)
    }
    // same bar as bilinear on this deliberately stretched fixture
    // (~22°-tall equatorial cells), and the higher-order stencil must
    // still beat bilinear on the smooth field
    val e = errOn(w)
    val eB = errOn(Weights.bilinearIrregular(g, dstCells()))
    assert(e < 0.15, s"non-uniform patch max rel err $e")
    assert(e < eB, s"patch err $e !< bilinear err $eB on the same grid")
    // facade dispatch
    val r = new Regridder(spark, CoordDef(g, bounds = true), RectDef(gridOut), RegridMethod.Patch)
    assert(r.weights.count() === w.count())
  }

  test("patchIrregular periodic: seam stencils wrap, every lat-hull destination mapped") {
    val g = graft.RegridQueries.gridInNonuni
    val w = Weights.patchIrregular(g, dstCells(), periodic = true)
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    // periodic lon ⟹ mapped set limited only by the lat hull
    val la = g.latAxis
    val nInHull = dstCells().filter(
      col("lat") >= la.centers(0) && col("lat") <= la.centers(la.n - 1)).count()
    assert(w.select("row").distinct().count() === nInHull)
    // seam stencil indices stay on-grid
    assert(w.filter(col("col") < 0 || col("col") >= g.nCells).count() === 0)
  }

  test("bilinearIrregular on uniform coord arrays == closed-form bilinear") {
    val cg = CoordGrid(CoordAxis.fromUniform(gridIn.lonAxis), CoordAxis.fromUniform(gridIn.latAxis))
    val wi = Weights.bilinearIrregular(cg, dstCells()).withColumnRenamed("s", "si")
    val wu = Weights.bilinear(gridIn, dstCells(), periodic = false).withColumnRenamed("s", "su")
    val j = wi.join(wu, Seq("row", "col"), "full")
    assert(j.filter(col("si").isNull || col("su").isNull).count() === 0)
    assert(j.select(max(abs(col("si") - col("su")))).head().getDouble(0) < 1e-9)
  }

  test("bilinearIrregular: non-uniform (Gaussian-like) grid, rows sum to 1, analytic err bounded") {
    val g = graft.RegridQueries.gridInNonuni
    val w = Weights.bilinearIrregular(g, dstCells())
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    val f = CoordGrid.cells(spark, g).select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val mapped = w.select(col("row").as("cell_id")).distinct()
    val ref = dstCells().select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    val e = Apply.regrid(w, f, dstCells()).join(mapped, "cell_id").join(ref, "cell_id")
      .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e"))
      .head().getDouble(0)
    // wider bar than uniform: the smoothstep fixture has ~22°-tall
    // equatorial cells, so the linear-interp truncation error is larger
    assert(e < 0.15, s"non-uniform bilinear max rel err $e")
  }

  test("curvilinear bilinear: rotated-pole mesh, all dsts mapped, rows sum to 1, analytic err") {
    val rot = RectGrid.of(2, 62, 4, -30, 30, 4)            // rotated coords, 15x15
    val src = Curvilinear.rotatedCells(spark, rot, poleLat = 70.0, poleLon = -165.0)
    val dstG = RectGrid.of(-25, 0, 2.5, 5, 30, 2.5)        // inside the mesh footprint
    val dst = Grids.cells(spark, dstG)
    val w = Weights.bilinearCurvilinear(src, dst)
    assert(w.select("row").distinct().count() === dstG.nCells)
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    assert(w.groupBy("row").count().filter(col("count") > 4).count() === 0)
    val f = src.select(col("cell_id"), TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val ref = dst.select(col("cell_id"), TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    val e = Apply.regrid(w, f, dst).join(ref, "cell_id")
      .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e")).head().getDouble(0)
    assert(e < 0.02, s"curvilinear bilinear max rel err $e")
  }

  test("patchCurvilinear: rotated mesh, sums to 1, ≤16 entries, beats curvilinear bilinear") {
    val rot = graft.RegridQueries.rotGrid
    val src = Curvilinear.rotatedCells(spark, rot, poleLat = 70.0, poleLon = -165.0)
    val dst = Grids.cells(spark, graft.RegridQueries.dstCurv)
    val w = Weights.patchCurvilinear(src, dst, rot.ny, rot.nx)
    assert(w.select("row").distinct().count() === graft.RegridQueries.dstCurv.nCells)
    val per = w.groupBy("row").agg(sum("s").as("t"), count("*").as("n"))
    assert(per.filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    assert(per.filter(col("n") > 16).count() === 0)
    val f = src.select(col("cell_id"), TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val ref = dst.select(col("cell_id"), TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    def errOn(weights: DataFrame): Double =
      Apply.regrid(weights, f, dst).join(ref, "cell_id")
        .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e")).head().getDouble(0)
    val eP = errOn(w)
    val eB = errOn(Weights.bilinearCurvilinear(src, dst))
    assert(eP < eB, s"curvilinear patch err $eP !< bilinear err $eB")
    // facade dispatch (periodic seam path shares the located quads)
    val r = new Regridder(spark,
      CurvDef(src, None, rot.ny, rot.nx), RectDef(graft.RegridQueries.dstCurv),
      RegridMethod.Patch)
    assert(r.weights.count() === w.count())
  }

  test("curvilinear bilinear PERIODIC: global mesh, seam + antimeridian destinations mapped") {
    // global rotated mesh: lamr spans 360°, geographic lons cross ±180
    val rot = graft.RegridQueries.rotGlobGrid
    val src = Curvilinear.rotatedCells(spark, rot, poleLat = 70.0, poleLon = -165.0)
    // destinations = centers of a finer rotated mesh strictly inside
    // the source's rotated-lat hull: every one must be mapped, and the
    // ones between mesh columns nx-1 and 0 only via the seam quads
    val dst = Curvilinear.rotatedCells(spark, graft.RegridQueries.dstRotGlob,
      poleLat = 70.0, poleLon = -165.0).select("cell_id", "lon", "lat")
    val w = Weights.bilinearCurvilinear(src, dst, periodicNx = Some(rot.nx))
    assert(w.select("row").distinct().count() === graft.RegridQueries.dstRotGlob.nCells,
      "every interior destination of the global periodic mesh must be mapped")
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    // without the seam quads, the destinations between columns nx-1
    // and 0 stay unmapped — pin the non-periodic gap so this test
    // proves the seam actually did the mapping
    val w0 = Weights.bilinearCurvilinear(src, dst)
    assert(w0.select("row").distinct().count() < graft.RegridQueries.dstRotGlob.nCells)
    // smooth-field accuracy through the seam
    val f = src.select(col("cell_id"), TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val ref = dst.select(col("cell_id"), TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    val e = Apply.regrid(w, f, dst).join(ref, "cell_id")
      .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e")).head().getDouble(0)
    assert(e < 0.05, s"periodic curvilinear bilinear max rel err $e")
  }

  test("curvilinear bilinear: lon-seam-crossing mesh maps seam-straddling destinations") {
    // rotLon's atan2 branch cut sits at lamr ≈ 0 for this pole, so a
    // mesh spanning lamr = 0 gets stored lons that jump ~360° between
    // adjacent columns (≈195 to ≈−165 here) — the quad-unwrap case the
    // round-2 review flagged as silently unmapped
    val rot = RectGrid.of(-30, 30, 4, -30, 30, 4)
    val src = Curvilinear.rotatedCells(spark, rot, poleLat = 70.0, poleLon = 15.0)
    val lonRange = src.select(min("lon"), max("lon")).head()
    assert(lonRange.getDouble(1) - lonRange.getDouble(0) > 300,
      s"fixture must straddle the stored-lon seam, got $lonRange")
    val dst = Curvilinear.rotatedCells(spark, RectGrid.of(-12, 12, 3, -16, 16, 4),
      poleLat = 70.0, poleLon = 15.0).select("cell_id", "lon", "lat")
    val w = Weights.bilinearCurvilinear(src, dst)
    assert(w.select("row").distinct().count() === 8L * 8,
      "all interior destinations must be mapped across the stored-lon seam")
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    // destinations re-expressed in the standard [-180, 180) frame find
    // the same mesh via the ±360 shift copies
    val dstStd = dst.withColumn("lon",
      pmod(col("lon") + 180.0, lit(360.0)) - 180.0)
    val wStd = Weights.bilinearCurvilinear(src, dstStd)
    assert(wStd.select("row").distinct().count() === 8L * 8)
  }

  test("curvilinear conservative: straight-edge deviation vs exact great-circle clipping is bounded") {
    // The default clip kernel treats cell edges as straight in
    // (lon°, lat°); ESMF clips along great circles. Quantify the
    // deviation on the coarsest rotated fixture (4° cells) by
    // recomputing every weight with the EXACT gc kernel — promoted to
    // the library in round 6 ([[Geometry.gcOverlapWeight]]: gnomonic
    // projection about the destination centroid + spherical-triangle
    // excess areas), selectable via
    // `conservativeCurvilinear(exactEdges = true)`.
    def gcWeight(subj: Array[Double], clip: Array[Double]): Double =
      Geometry.gcOverlapWeight(subj, clip)
    val rot = graft.RegridQueries.rotGrid
    val srcPolys = Curvilinear.rotatedCorners(spark, rot, 70.0, -165.0)
      .collect().map(r => (0 until 4).flatMap(k =>
        Seq(r.getAs[Double](s"lon_c$k"), r.getAs[Double](s"lat_c$k"))).toArray)
    val dstPolys = Grids.cells(spark, graft.RegridQueries.dstCurv, withBounds = true)
      .collect().map { r =>
        val (w, e) = (r.getAs[Double]("lon_w"), r.getAs[Double]("lon_e"))
        val (s0, n) = (r.getAs[Double]("lat_s"), r.getAs[Double]("lat_n"))
        Array(w, s0, e, s0, e, n, w, n)
      }
    var maxDev = 0.0
    for (dp <- dstPolys; sp <- srcPolys) {
      val wStraight = Geometry.overlapWeight(sp, dp)
      val wGc = gcWeight(sp, dp)
      if (wStraight > 0 || wGc > 0)
        maxDev = math.max(maxDev, math.abs(wStraight - wGc))
    }
    // pins the documented deviation (Geometry.scala scaladoc): straight
    // (lon°, lat°) edges vs exact great-circle edges on 4° cells
    info(f"measured max straight-vs-gc weight deviation: $maxDev%.6f")
    assert(maxDev < 0.012, s"straight-edge weight deviation $maxDev exceeds documented bound")
    assert(maxDev > 1e-6, s"deviation measurement degenerate ($maxDev) — fixture not curved?")
  }

  test("clipConvexEps: crossing parameter clamped — tolerance-straddling near-parallel edge stays on segment") {
    // r6 ADVICE: with eps-inclusive classification, dp ∈ [-eps, 0) can
    // classify P inside while Q (dq < -eps) is outside even though both
    // are BELOW the clip line — the raw t = dp/(dp-dq) is then negative
    // (unbounded as dq → dp), inserting a vertex on the clip line far
    // outside the subject segment. Subject edge P→Q rides y ≈ -1e-6,
    // near-parallel to the clip line y = 0: unclamped t = -0.5 would
    // insert x = -4.5, 5 units left of the subject's true extent.
    val eps = 1e-6
    val subject = Array(0.5, -0.5e-6, 10.5, -1.5e-6, 5.0, 5.0)
    val clip = Array(-100.0, 0.0, 100.0, 0.0, 0.0, 100.0)
    val out = Geometry.clipConvexEps(subject, clip, eps)
    assert(out.length >= 6, "intersection must be non-degenerate")
    val xs = out.indices.collect { case i if i % 2 == 0 => out(i) }
    assert(xs.min >= 0.4, s"inserted vertex left the subject segment: min x = ${xs.min}")
    // area sanity: the intersection can never exceed the subject
    def shoelace(p: Array[Double]): Double = {
      val n = p.length / 2
      math.abs((0 until n).map { i =>
        val j = (i + 1) % n
        p(2 * i) * p(2 * j + 1) - p(2 * j) * p(2 * i + 1)
      }.sum / 2)
    }
    assert(shoelace(out) <= shoelace(subject) + 1e-9,
      "clipped area exceeds subject area — spurious vertex inflated the intersection")
  }

  test("gcOverlapWeight: pole-centred destination cell gets a valid chart basis (not silent 0)") {
    // r6 ADVICE: the gnomonic basis cross(z, ctr) is the zero vector
    // when the clip cell's vertex centroid IS the pole; unit3 then
    // yields a NaN basis and every pair silently got weight 0
    // (unmapped pole cell). The x-axis fallback must restore exactness.
    val poleCap = Array(0.0, 85.0, 90.0, 85.0, 180.0, 85.0, 270.0, 85.0)
    val self = Geometry.gcOverlapWeight(poleCap, poleCap)
    assert(math.abs(self - 1.0) < 1e-9, s"pole cap self-overlap weight $self != 1")
    // a quarter cap overlaps the cap by ~its area share; must be in (0, 1)
    val quarter = Array(0.0, 85.0, 90.0, 85.0, 45.0, 89.9)
    val part = Geometry.gcOverlapWeight(quarter, poleCap)
    assert(part > 0.0 && part < 1.0, s"partial pole overlap weight $part out of (0,1)")
    // disjoint low-latitude subject: weight 0, no NaN
    val far = Array(0.0, 5.0, 10.0, 5.0, 10.0, 10.0, 0.0, 10.0)
    assert(Geometry.gcOverlapWeight(far, poleCap) === 0.0)
  }

  test("gc-exact conservative on the gnomonic lattice: closed-form parity, tiling, r9 headroom") {
    import graft.RegridQueries._
    // the full library path: projection + Sutherland–Hodgman +
    // spherical-excess areas on the gnomonic-lattice fixture
    val wk = Weights.conservativeCurvilinear(
      Curvilinear.gnomonicCorners(spark, gnoSrcN, gnoSrcN, gnoSrcX0, gnoSrcX0,
        gnoSrcStep, gnoTanLon, gnoTanLat),
      Curvilinear.gnomonicCorners(spark, gnoDstN, gnoDstN, gnoDstX0, gnoDstX0,
        gnoDstStep, gnoTanLon, gnoTanLat),
      exactEdges = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // independent closed form (what the DuckDB oracle evaluates):
    // cells are central projections of plane rectangles, so overlaps
    // are rectangles and spherical areas are rectangle solid angles
    def sg(x: Double, y: Double) = math.atan2(x * y, math.sqrt(1.0 + x * x + y * y))
    def omega(a: Double, b: Double, c: Double, d: Double) =
      sg(b, d) - sg(a, d) - sg(b, c) + sg(a, c)
    def rect(n: Int, x0: Double, h: Double, id: Int) = {
      val j = id / n; val i = id % n
      (x0 + i * h, x0 + (i + 1) * h, x0 + j * h, x0 + (j + 1) * h)
    }
    var maxGap = 0.0
    var maxGapPair = (0L, 0L)
    var minBoundaryDist = Double.MaxValue
    val oraclePairs = scala.collection.mutable.Set[(Long, Long)]()
    for (d <- 0 until gnoDstN * gnoDstN; s <- 0 until gnoSrcN * gnoSrcN) {
      val (dx1, dx2, dy1, dy2) = rect(gnoDstN, gnoDstX0, gnoDstStep, d)
      val (sx1, sx2, sy1, sy2) = rect(gnoSrcN, gnoSrcX0, gnoSrcStep, s)
      val (a, b) = (math.max(sx1, dx1), math.min(sx2, dx2))
      val (c, dd) = (math.max(sy1, dy1), math.min(sy2, dy2))
      if (a < b && c < dd) {
        val wO = omega(a, b, c, dd) / omega(dx1, dx2, dy1, dy2)
        oraclePairs += ((d.toLong, s.toLong))
        val wK = wk.getOrElse((d.toLong, s.toLong),
          fail(s"kernel missing pair (d=$d, s=$s) with oracle weight $wO"))
        if (math.abs(wK - wO) > maxGap) { maxGapPair = (d.toLong, s.toLong) }
        maxGap = math.max(maxGap, math.abs(wK - wO))
        // r9 is floor(w·1e9 + 0.5)/1e9: engines disagree only if
        // w·1e9 + 0.5 straddles an integer across the formulation gap
        val y = wO * 1e9 + 0.5
        minBoundaryDist = math.min(minBoundaryDist, math.abs(y - math.rint(y)) / 1e9)
      }
    }
    // pairs that only TOUCH along a coincident gridline (exact binary
    // lattice coords) roundtrip through the sphere to ~1e-16 slivers in
    // the raw kernel output; the contract query's r9 rounding drops
    // them. Assert they really are FP noise, then compare the surviving
    // set against the closed form.
    val slivers = wk.filter { case (k, v) => !oraclePairs.contains(k) && v != 0.0 }
    assert(slivers.values.forall(_ < 1e-12),
      s"non-oracle pair with non-sliver weight: ${slivers.maxBy(_._2)}")
    val wkReal = wk.filter(_._2 >= 0.5e-9)
    assert(wkReal.keySet === oraclePairs.toSet,
      s"kernel emitted ${wkReal.size} above-r9 pairs, closed form ${oraclePairs.size}")
    info(f"kernel-vs-closed-form max gap: $maxGap%.3e at $maxGapPair; min r9 boundary distance: $minBoundaryDist%.3e")
    assert(maxGap < 1e-12, s"kernel deviates from the closed form by $maxGap")
    // oracle-safety headroom (same discipline as q_w_conservative_curv):
    // the closest weight to an r9 boundary must sit ≫ the gap away
    assert(minBoundaryDist > 100 * maxGap,
      s"r9 headroom too thin: boundary dist $minBoundaryDist vs gap $maxGap")

    // dst hull strictly inside src hull + exact plane tiling ⇒ every
    // destination fully covered: row sums = 1 to FP
    val rowSums = wk.groupBy(_._1._1).map { case (r, m) => r -> m.values.sum }
    assert(rowSums.size === gnoDstN * gnoDstN)
    val badRows = rowSums.filter { case (_, t) => math.abs(t - 1.0) > 1e-10 }
    assert(badRows.isEmpty, s"rows not tiled to 1e-10: $badRows")

    // the straight-edge kernel on the same fixture: deviation is real
    // (this is WHY exactEdges exists) and bounded
    val wStraight = Weights.conservativeCurvilinear(
      Curvilinear.gnomonicCorners(spark, gnoSrcN, gnoSrcN, gnoSrcX0, gnoSrcX0,
        gnoSrcStep, gnoTanLon, gnoTanLat),
      Curvilinear.gnomonicCorners(spark, gnoDstN, gnoDstN, gnoDstX0, gnoDstX0,
        gnoDstStep, gnoTanLon, gnoTanLat))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val maxDev = (wk.keySet ++ wStraight.keySet).iterator
      .map(k => math.abs(wk.getOrElse(k, 0.0) - wStraight.getOrElse(k, 0.0))).max
    info(f"straight-vs-exact max weight deviation on ~3.6° gnomonic cells: $maxDev%.6f")
    assert(maxDev > 1e-5, s"deviation degenerate ($maxDev) — fixture not curved?")
    assert(maxDev < 0.02, s"straight-edge deviation $maxDev out of documented family")
  }

  test("curvilinear conservative: GLOBAL mesh tiles exactly; dateline-straddling cells clip correctly") {
    // (a) global rotated mesh: the cross-frame seam between mesh
    // columns 35 and 0 must be bridged (±360 shift copies), every
    // interior destination fully tiled
    val srcRot = RectGrid.of(0, 360, 10, -60, 60, 10)      // (12, 36)
    val dstRot = RectGrid.of(0, 360, 7.5, -50, 50, 10)     // (10, 48), interior lat hull
    val w = Weights.conservativeCurvilinear(
      Curvilinear.rotatedCorners(spark, srcRot, 70.0, -165.0),
      Curvilinear.rotatedCorners(spark, dstRot, 70.0, -165.0), bandDeg = 5.0)
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-10).count() === 0,
      "global-mesh conservation broken on some destinations")
    assert(w.select("row").distinct().count() === dstRot.nCells)

    // (b) a user-supplied mesh stored in [-180,180] with a cell that
    // CROSSES the dateline (corner lons 172 and -176): without the
    // vertex unwrap it clips as a garbage ~348°-wide polygon
    import spark.implicits._
    def cell(id: Long, w0: Double, e0: Double, s0: Double, n0: Double) =
      (id, w0, s0, e0, s0, e0, n0, w0, n0)
    val src = Seq(
      cell(0L, 160.0, 172.0, 0.0, 10.0),
      cell(1L, 172.0, -176.0, 0.0, 10.0),   // stored straddling: 172..184
      cell(2L, -176.0, -164.0, 0.0, 10.0))
      .toDF("cell_id", "lon_c0", "lat_c0", "lon_c1", "lat_c1",
        "lon_c2", "lat_c2", "lon_c3", "lat_c3")
    val dst = Seq(cell(0L, 170.0, 190.0, 2.0, 8.0))
      .toDF("cell_id", "lon_c0", "lat_c0", "lon_c1", "lat_c1",
        "lon_c2", "lat_c2", "lon_c3", "lat_c3")
    val ws = Weights.conservativeCurvilinear(src, dst, bandDeg = 5.0)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(ws(0L) - 2.0 / 20.0) < 1e-12, s"cell0 weight ${ws.get(0L)}")
    assert(math.abs(ws(1L) - 12.0 / 20.0) < 1e-12, s"straddling cell weight ${ws.get(1L)}")
    assert(math.abs(ws(2L) - 6.0 / 20.0) < 1e-12, s"cell2 weight ${ws.get(2L)}")
  }

  test("Geometry kernel: clip + spherical area closed forms") {
    // axis box area equals the rectilinear closed form
    val box = Array(0.0, 0.0, 10.0, 0.0, 10.0, 20.0, 0.0, 20.0)
    val expect = 10.0 * (math.sin(math.toRadians(20.0)) - 0.0)
    assert(math.abs(Geometry.sphericalArea(box) - expect) < 1e-12)
    // clip of two offset unit boxes = the shared half
    val b2 = Array(5.0, 0.0, 15.0, 0.0, 15.0, 20.0, 5.0, 20.0)
    val inter = Geometry.clipConvex(box, b2)
    assert(math.abs(Geometry.sphericalArea(Geometry.ccw(inter)) - expect / 2.0) < 1e-12)
    // orientation independence (same box, clockwise vertex order)
    val boxCw = Array(0.0, 0.0, 0.0, 20.0, 10.0, 20.0, 10.0, 0.0)
    assert(Geometry.overlapWeight(boxCw, b2) === Geometry.overlapWeight(box, b2))
    // disjoint → 0
    val far = Array(100.0, 0.0, 110.0, 0.0, 110.0, 20.0, 100.0, 20.0)
    assert(Geometry.overlapWeight(box, far) === 0.0)
  }

  test("curvilinear conservative: exact tiling — rows sum to 1 to 1e-10, constant preserved") {
    val rot = RectGrid.of(2, 62, 4, -30, 30, 4)
    val srcPolys = Curvilinear.rotatedCorners(spark, rot, poleLat = 70.0, poleLon = -165.0)
    val dstG = RectGrid.of(-25, 0, 2.5, 5, 30, 2.5)
    val dstPolys = Curvilinear.boundsToPolys(Grids.cells(spark, dstG, withBounds = true))
    val w = Weights.conservativeCurvilinear(srcPolys, dstPolys)
    // destination strictly inside the mesh footprint → exact tiling
    assert(w.select("row").distinct().count() === dstG.nCells)
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-10).count() === 0)
    // constant field regrids to exactly 1 (conservation)
    val src = Curvilinear.rotatedCells(spark, rot, poleLat = 70.0, poleLon = -165.0)
    val ones = src.select(col("cell_id"), lit(1.0).as("value"))
    val out = Apply.regrid(w, ones, Grids.cells(spark, dstG), roundDigits = 0)
    assert(out.select(max(abs(col("value") - lit(1.0)))).head().getDouble(0) < 1e-10)
    // smooth analytic field: modest first-order error on a 4° mesh
    val f = src.select(col("cell_id"), TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val ref = Grids.cells(spark, dstG).select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    val e = Apply.regrid(w, f, Grids.cells(spark, dstG)).join(ref, "cell_id")
      .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e")).head().getDouble(0)
    assert(e < 0.02, s"curvilinear conservative max rel err $e")
  }

  test("conservative-curv oracle headroom: kernel-vs-analytic gap clears the r9 boundary by 100x+") {
    // the q_w_conservative_curv contract rounds at 9 decimals; this
    // pins WHY that is deterministically safe: on the identity-rotation
    // fixture the clip kernel's weights sit within ~1e-14 of the
    // analytic conservative formula (trig-corner noise), while no
    // weight value comes near an r9 rounding boundary — so both engines
    // round every weight identically, forever, unless the kernel
    // regresses by orders of magnitude (which this test then catches).
    val rot = graft.RegridQueries.rotGrid
    val dstG = graft.RegridQueries.dstCurv
    val w = Weights.conservativeCurvilinear(
      Curvilinear.rotatedCorners(spark, rot, poleLat = 90.0, poleLon = -165.0),
      Curvilinear.boundsToPolys(Grids.cells(spark, dstG, withBounds = true)))
      .select(col("row"), col("col"), col("s"))
    // analytic weights of the coincident mirrored rect grid (the
    // idRotGridSql relation, evaluated here in Scala)
    val c = -165.0 + 180.0
    val sCells = Grids.cells(spark, rot, withBounds = true)
      .select(col("cell_id").as("col"),
        (lit(c) - col("lon_e")).as("s_lon_w"), (lit(c) - col("lon_w")).as("s_lon_e"),
        col("lat_s").as("s_lat_s"), col("lat_n").as("s_lat_n"))
    val dCells = Grids.cells(spark, dstG, withBounds = true)
      .select(col("cell_id").as("row"), col("lon_w"), col("lon_e"), col("lat_s"), col("lat_n"))
    val analytic = dCells.join(sCells,
        col("s_lon_w") < col("lon_e") && col("s_lon_e") > col("lon_w") &&
        col("s_lat_s") < col("lat_n") && col("s_lat_n") > col("lat_s"))
      .select(col("row"), col("col"),
        ((least(col("s_lon_e"), col("lon_e")) - greatest(col("s_lon_w"), col("lon_w"))) *
          (sin(radians(least(col("s_lat_n"), col("lat_n")))) -
           sin(radians(greatest(col("s_lat_s"), col("lat_s"))))) /
         ((col("lon_e") - col("lon_w")) *
          (sin(radians(col("lat_n"))) - sin(radians(col("lat_s")))))).as("sa"))
    val j = w.join(analytic, Seq("row", "col"), "full")
    // overlap pairs agree to ~1e-14; kernel-only slivers are < 1e-13
    val gap = j.select(max(abs(coalesce(col("s"), lit(0.0)) -
      coalesce(col("sa"), lit(0.0)))).as("g")).head().getDouble(0)
    assert(gap < 1e-13, s"kernel-vs-analytic gap $gap")
    // min distance of any analytic weight to an r9 rounding boundary:
    // boundaries are where sa*1e9 + 0.5 is an integer, so the distance
    // is 0.5 - |frac - 0.5| (in 1e-9 units)
    val margin = analytic
      .select(min(lit(0.5) - abs(((col("sa") * 1e9 + 0.5) % 1.0) - 0.5)).as("m"))
      .head().getDouble(0) / 1e9
    assert(margin > 100 * math.max(gap, 1e-16),
      s"r9 boundary margin $margin vs gap $gap — rounding no longer deterministic")
  }

  test("NetCDF-3 weight file: round-trips the ESMF convention bit-exactly") {
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val path = "/root/repo/target/weights_io/roundtrip.nc"
    new java.io.File(path).delete()
    WeightsIO.writeEsmfNc(w, path)
    val back = WeightsIO.readEsmfNc(spark, path)
    assert(back.count() === w.count())
    val j = w.select(col("row"), col("col"), col("s").as("orig"))
      .join(back, Seq("row", "col"), "full")
    assert(j.filter(col("orig").isNull || col("s").isNull ||
      col("orig") =!= col("s")).count() === 0, "NetCDF round-trip altered weights")
    // V8 no-clobber contract applies to the .nc path too
    val e = intercept[IllegalStateException](WeightsIO.writeEsmfNc(w, path))
    assert(e.getMessage.contains("already exists"))
  }

  test("NetCDF-3 writer rejects an empty weight set loudly (0-length n_s would read as the record dimension)") {
    val path = "/root/repo/target/weights_io/empty.nc"
    new java.io.File(path).getParentFile.mkdirs()
    val e = intercept[IllegalArgumentException](
      NetCDF3.writeTriplets(path, Array.empty, Array.empty, Array.empty))
    assert(e.getMessage.contains("empty weight set"))
  }

  test("NetCDF-3 writer emits the exact classic-format bytes (spec-derived golden file)") {
    val path = "/root/repo/target/weights_io/golden.nc"
    new java.io.File(path).delete()
    new java.io.File(path).getParentFile.mkdirs()
    NetCDF3.writeTriplets(path, Array(1, 2), Array(3, 4), Array(0.5, 1.5))
    // expected bytes built HERE from the NetCDF classic spec, not from
    // the writer: magic CDF\x01, numrecs, dim_list [n_s=2], no gatts,
    // var_list [col int, row int, S double], data big-endian
    val b = java.nio.ByteBuffer.allocate(152 + 8 + 8 + 16)
    b.put("CDF".getBytes).put(1.toByte).putInt(0)
    b.putInt(0x0A).putInt(1)                                  // NC_DIMENSION, 1 dim
    b.putInt(3).put("n_s".getBytes).put(0.toByte).putInt(2)   // "n_s" (pad 4), len 2
    b.putInt(0).putInt(0)                                     // gatt_list ABSENT
    b.putInt(0x0B).putInt(3)                                  // NC_VARIABLE, 3 vars
    def putName(name: String): Unit = {
      b.putInt(name.length).put(name.getBytes)                // true length prefix
      (name.length until (name.length + 3) / 4 * 4).foreach(_ => b.put(0.toByte))
    }
    def varEntry(name: String, tpe: Int, begin: Int, vsize: Int): Unit = {
      putName(name)                                           // padded to 4 bytes
      b.putInt(1).putInt(0)                                   // 1 dim, dimid 0
      b.putInt(0).putInt(0)                                   // vatt_list ABSENT
      b.putInt(tpe).putInt(vsize).putInt(begin)
    }
    varEntry("col", 4, 152, 8)
    varEntry("row", 4, 160, 8)
    varEntry("S", 6, 168, 16)
    b.putInt(1).putInt(2)                                     // col data
    b.putInt(3).putInt(4)                                     // row data
    b.putDouble(0.5).putDouble(1.5)                           // S data
    val got = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(got.toSeq === b.array().toSeq, "writer bytes differ from spec-derived golden")
  }

  test("NetCDF-3 reader handles the CDF2 64-bit-offset variant and rejects HDF5") {
    // hand-crafted CDF2 file (version byte 2, 8-byte begin offsets):
    // n_s=1, col=[7] int, row=[9] int, S=[2.25] double
    val hdr = 8 + 20 + 8 + 8 + 40 * 3                          // = 164
    val b = java.nio.ByteBuffer.allocate(hdr + 4 + 4 + 8)
    b.put("CDF".getBytes).put(2.toByte).putInt(0)
    b.putInt(0x0A).putInt(1)
    b.putInt(3).put("n_s".getBytes).put(0.toByte).putInt(1)
    b.putInt(0).putInt(0)
    b.putInt(0x0B).putInt(3)
    def varEntry(name: String, tpe: Int, begin: Long, vsize: Int): Unit = {
      b.putInt(name.length).put(name.getBytes)                 // length + pad to 4
      (name.length until (name.length + 3) / 4 * 4).foreach(_ => b.put(0.toByte))
      b.putInt(1).putInt(0).putInt(0).putInt(0)
      b.putInt(tpe).putInt(vsize).putLong(begin)               // 64-bit begin
    }
    varEntry("col", 4, 164L, 4)
    varEntry("row", 4, 168L, 4)
    varEntry("S", 6, 172L, 8)
    b.putInt(7).putInt(9).putDouble(2.25)
    val path = "/root/repo/target/weights_io/cdf2.nc"
    new java.io.File(path).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), b.array())
    val (c, r, s) = NetCDF3.readTriplets(path)
    assert(c.toSeq === Seq(7L) && r.toSeq === Seq(9L) && s.toSeq === Seq(2.25))
    // an HDF5 container (NetCDF-4) must be rejected with a clear scope
    // message, not a parse crash
    val h5 = "/root/repo/target/weights_io/fake_h5.nc"
    java.nio.file.Files.write(java.nio.file.Paths.get(h5),
      Array[Byte](0x89.toByte, 'H', 'D', 'F', 0x0D, 0x0A, 0x1A, 0x0A))
    val e = intercept[IllegalArgumentException](NetCDF3.readTriplets(h5))
    assert(e.getMessage.contains("HDF5"))
  }

  test("Regridder with CoordDef: conservative on a non-uniform grid preserves the global mean") {
    val g = graft.RegridQueries.gridInNonuni       // tiles [-180,180]x[-90,90]
    val r = new Regridder(spark, CoordDef(g), RectDef(gridOut), RegridMethod.Conservative)
    val w = r.weights
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    val f = CoordGrid.cells(spark, g).select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val out = r.apply(f, broadcastWeights = true)
    def area(c: DataFrame) = c.withColumn("a",
      (col("lon_e") - col("lon_w")) * (sin(radians(col("lat_n"))) - sin(radians(col("lat_s")))))
    val inMean = area(CoordGrid.cells(spark, g, withBounds = true)).join(f, "cell_id")
      .select(sum(col("a") * col("value")) / sum(col("a"))).head().getDouble(0)
    val outMean = area(dstCells(b = true)).join(out, "cell_id")
      .select(sum(col("a") * col("value")) / sum(col("a"))).head().getDouble(0)
    // facade apply rounds output to 9 dp (oracle parity), so the mean
    // carries up to ~5e-10 rounding per destination value
    assert(math.abs(inMean - outMean) < 1e-8, s"$inMean vs $outMean")
    // bilinear dispatch on the same CoordDef goes through the interval-join builder
    val rb = new Regridder(spark, CoordDef(g), RectDef(gridOut), RegridMethod.Bilinear)
    assert(rb.weights.count() > 0)
  }

  test("Regridder with CurvDef: curvilinear bilinear + conservative through the facade") {
    val rot = RectGrid.of(2, 62, 4, -30, 30, 4)
    val curv = CurvDef(
      Curvilinear.rotatedCells(spark, rot, poleLat = 70.0, poleLon = -165.0),
      Some(Curvilinear.rotatedCorners(spark, rot, poleLat = 70.0, poleLon = -165.0)),
      rot.ny, rot.nx)
    val dstG = RectGrid.of(-25, 0, 2.5, 5, 30, 2.5)
    val f = curv.centerCells.select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val ref = Grids.cells(spark, dstG).select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("ref"))
    Seq(RegridMethod.Bilinear, RegridMethod.Conservative).foreach { m =>
      val r = new Regridder(spark, curv, RectDef(dstG), m)
      val out = r.apply(f)
      assert(out.count() === dstG.nCells, m.name)
      val e = out.join(ref, "cell_id")
        .select(max(abs((col("ref") - col("value")) / col("ref"))).as("e"))
        .head().getDouble(0)
      assert(e < 0.02, s"${m.name} facade max rel err $e")
    }
    // conservative without corner polygons errors at the boundary (V5)
    intercept[NoSuchElementException] {
      new Regridder(spark,
        CurvDef(curv.centerCells, None, rot.ny, rot.nx),
        RectDef(dstG), RegridMethod.Conservative).weights.count()
    }
  }

  test("K2 with EMPTY weights: every destination still surfaces as exactly 0.0") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("row", "col", "s")
    val out = Apply.regrid(empty, waveIn, dstCells())
    assert(out.count() === gridOut.nCells)
    assert(out.filter(col("value") =!= 0.0).count() === 0)
  }

  test("slab kernel reports the shape-contract violation with the offending slab") {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Conservative)
    import spark.implicits._
    val shortSlab = Seq((7L, Array.fill(10)(1.0))).toDF("slab_id", "values")
    val e = intercept[org.apache.spark.SparkException] {
      r.apply(shortSlab).count()
    }
    assert(e.getMessage.contains("shape contract") ||
      Option(e.getCause).exists(_.getMessage.contains("shape contract")))
    // and the facade refuses relational-only options on slab input
    intercept[IllegalArgumentException] { r.apply(shortSlab, validate = true) }
  }

  test("nearest join: tiny radius at the pole cap still finds the true neighbor") {
    import spark.implicits._
    // nearest point is 20° away in lon but only ~2e-4° in angle;
    // a decoy sits within the first-round bound at a larger angle
    val pts = Seq(
      (0L, 120.0, 89.9995),     // true nearest (angular dist ~2e-4°)
      (1L, 100.0, 89.9959))     // decoy 0.004° away — within the round-1
                                // bound, so a missed true point would be
                                // wrongly accepted as the global minimum
      .toDF("id", "lon", "lat")
    val probes = Seq((0L, 100.0, 89.9999)).toDF("id", "lon", "lat")
    val got = NearestJoin.nearest(pts, probes, initBandDeg = 0.005)
      .select("point_id").head().getLong(0)
    assert(got === 0L, "pole-cap reach must cover the full lon ring")
  }

  test("curvilinear conservative rejects non-convex destination cells") {
    import spark.implicits._
    // (0,0),(10,0),(2,2),(0,10) is concave at (2,2)
    val concave = Seq((0L, 0.0, 0.0, 10.0, 0.0, 2.0, 2.0, 0.0, 10.0))
      .toDF("cell_id", "lon_c0", "lat_c0", "lon_c1", "lat_c1",
        "lon_c2", "lat_c2", "lon_c3", "lat_c3")
    val src = Curvilinear.boundsToPolys(
      Grids.cells(spark, RectGrid.of(-20, 20, 10, -20, 20, 10), withBounds = true))
    // the check runs lazily inside the clip kernel (no eager dst scan
    // at plan time), so Spark surfaces it wrapped in a job failure
    val e = intercept[Exception] {
      Weights.conservativeCurvilinear(src, concave).count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("; ")
    assert(msgs.contains("non-convex"), s"unexpected failure: $msgs")
  }

  test("bilinearIrregular periodic: seam wrapped, every lat-hull destination mapped") {
    val g = graft.RegridQueries.gridInNonuni
    val w = Weights.bilinearIrregular(g, dstCells(), periodic = true)
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    val inHull = dstCells().filter(
      col("lat") >= g.latAxis.centers(0) && col("lat") <= g.latAxis.centers(g.ny - 1)).count()
    assert(w.select("row").distinct().count() === inHull)
    // non-periodic leaves seam destinations unmapped — periodic must map more
    assert(Weights.bilinearIrregular(g, dstCells(), periodic = false)
      .select("row").distinct().count() < inHull)
    // periodic on a non-global axis is rejected
    intercept[IllegalArgumentException] {
      val part = CoordGrid(
        CoordAxis.fromBounds(Array(-90.0, 0.0, 90.0)), g.latAxis)
      Weights.bilinearIrregular(part, dstCells(), periodic = true).count()
    }
  }

  test("CoordAxis V3 shape contract: bad bounds/centers rejected at the boundary") {
    intercept[IllegalArgumentException] {         // bounds must be n+1
      CoordAxis(Array(0.0, 1.0), Array(0.0, 0.5, 1.0, 1.5))
    }
    intercept[IllegalArgumentException] {         // centers monotone
      CoordAxis(Array(1.0, 0.0), Array(-0.5, 0.5, 1.5))
    }
    intercept[IllegalArgumentException] {         // center inside its cell
      CoordAxis(Array(0.9, 1.0), Array(0.0, 0.5, 1.5))
    }
  }

  test("V2 shape contract: cell relation row count must match declared shape") {
    val df = srcCells()                            // 270 cells
    intercept[IllegalArgumentException] {
      CellsDef(df, 10, 10).cells(spark, withBounds = false).count()
    }
    assert(CellsDef(df, 15, 18).cells(spark, withBounds = false).count() === 270)
  }

  test("V8: weight file must not pre-exist unless reuseWeights (backend.py:269-272)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-v8").toString
    def mk(reuse: Boolean) = new Regridder(spark, RectDef(gridIn), RectDef(gridOut),
      RegridMethod.Bilinear, weightsDir = Some(dir), reuseWeights = reuse)
    val r1 = mk(reuse = false)
    val n1 = r1.weights.count()
    intercept[IllegalStateException] { mk(reuse = false).weights.count() }
    assert(mk(reuse = true).weights.count() === n1)
    r1.cleanWeightFile()
    assert(mk(reuse = false).weights.count() === n1)   // rebuilds after clean
  }

  test("V6 ignore_degenerate: zero-area cells error by default, dropped with flag") {
    import spark.implicits._
    // 2x2 grid with one zero-height cell (lat_s == lat_n)
    val deg = Seq(
      (0L, -10.0, -10.0, -20.0, 0.0, -5.0, -5.0),   // degenerate
      (1L, 10.0, -10.0, 0.0, 20.0, -10.0, 0.0),
      (2L, -10.0, 5.0, -20.0, 0.0, 0.0, 10.0),
      (3L, 10.0, 5.0, 0.0, 20.0, 0.0, 10.0))
      .toDF("cell_id", "lon", "lat", "lon_w", "lon_e", "lat_s", "lat_n")
    val dst = RectDef(RectGrid.of(-20, 20, 10, -10, 10, 5))
    intercept[IllegalArgumentException] {
      new Regridder(spark, CellsDef(deg, 2, 2), dst, RegridMethod.Conservative).weights.count()
    }
    val w = new Regridder(spark, CellsDef(deg, 2, 2), dst, RegridMethod.Conservative,
      ignoreDegenerate = true).weights
    assert(w.filter(col("col") === 0L).count() === 0)  // degenerate source dropped
    assert(w.count() > 0)
  }

  test("V4: validate flag catches weights referencing cells absent from the field (smm.py:77-86)") {
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val truncated = waveIn.filter(col("cell_id") < 100)
    intercept[IllegalArgumentException] {
      Apply.regrid(w, truncated, dstCells(), validate = true).count()
    }
    // full field passes with validation on
    assert(Apply.regrid(w, waveIn, dstCells(), validate = true).count() === gridOut.nCells)
  }

  test("WeightsIO: ESMF 1-based round-trip is identity; refuses to clobber") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wio").toString
    val p = s"$dir/w.parquet"
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    WeightsIO.writeEsmf(w, p)
    // on-disk convention is 1-based: no zero ids
    assert(spark.read.parquet(p).filter(col("row") === 0L || col("col") === 0L).count() === 0)
    val back = WeightsIO.readEsmf(spark, p).withColumnRenamed("s", "sb")
    val j = w.join(back, Seq("row", "col"), "full")
    assert(j.filter(col("s").isNull || col("sb").isNull).count() === 0)
    assert(j.filter(col("s") =!= col("sb")).count() === 0)
    intercept[IllegalStateException] { WeightsIO.writeEsmf(w, p) }
  }

  test("bucketed weights: apply join reads W with NO weights-side shuffle") {
    // the huge-W path: W persisted bucketed on the join key `col`
    // must join the field without an Exchange above the weights scan
    spark.sql("DROP TABLE IF EXISTS w_bucketed_test")
    // a previously-failed run can leave an orphaned managed-table
    // location behind (DROP TABLE doesn't clean a location with no
    // table) — remove it so the CTAS doesn't refuse
    locally {
      val loc = new org.apache.hadoop.fs.Path("spark-warehouse/w_bucketed_test")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    WeightsIO.writeBucketed(w, "w_bucketed_test", buckets = 8)
    val wb = WeightsIO.readBucketed(spark, "w_bucketed_test")
    val f = waveIn
    val joined = f.join(wb.hint("shuffle_merge"), f("cell_id") === wb("col"))
      .groupBy("row").agg(sum(col("s") * col("value")).as("value"))
    // same numbers as the in-memory weights
    val direct = f.join(w, f("cell_id") === w("col"))
      .groupBy("row").agg(sum(col("s") * col("value")).as("value"))
    assert(joined.join(direct.withColumnRenamed("value", "v2"), "row")
      .filter(abs(col("value") - col("v2")) > 1e-9).count() === 0)
    // plan shape: the bucketed variant must have strictly fewer
    // Exchanges than the same join over plain (unbucketed) weights —
    // the weights-side shuffle is gone
    def nExchanges(df: DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val directShuffled = f.join(w.hint("shuffle_merge"), f("cell_id") === w("col"))
      .groupBy("row").agg(sum(col("s") * col("value")).as("value"))
    val (nB, nD) = (nExchanges(joined), nExchanges(directShuffled))
    assert(nB < nD, s"bucketed plan has $nB exchanges, unbucketed $nD — " +
      s"expected the weights-side shuffle to disappear:\n" +
      joined.queryExecution.executedPlan.toString)
    // CO-BUCKETED field: landing the field with writeBucketedField
    // (same bucket count, keyed on cell_id) removes the field-side
    // Exchange too — the executed plan keeps ONLY the output
    // aggregation's shuffle, and the numbers are unchanged
    spark.sql("DROP TABLE IF EXISTS f_bucketed_test")
    locally {
      val loc = new org.apache.hadoop.fs.Path("spark-warehouse/f_bucketed_test")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
    WeightsIO.writeBucketedField(f, "f_bucketed_test", buckets = 8)
    val fb = spark.table("f_bucketed_test")
    val cob = fb.join(wb.hint("shuffle_merge"), fb("cell_id") === wb("col"))
      .groupBy("row").agg(sum(col("s") * col("value")).as("value"))
    assert(cob.join(direct.withColumnRenamed("value", "v2"), "row")
      .filter(abs(col("value") - col("v2")) > 1e-9).count() === 0)
    cob.count()
    assert(nExchanges(cob) <= 1,
      s"co-bucketed apply must keep only the output-agg Exchange:\n" +
        cob.queryExecution.executedPlan.toString)
    spark.sql("DROP TABLE IF EXISTS f_bucketed_test")
    spark.sql("DROP TABLE IF EXISTS w_bucketed_test")
  }

  test("conservative bridges longitude conventions ([0,360) src vs [-180,180] dst)") {
    val src360 = RectGrid.of(0, 360, 20, -90, 90, 12)
    val w = Weights.conservative(Grids.cells(spark, src360, withBounds = true),
      dstCells(b = true))
    // every destination fully covered despite the frame mismatch
    assert(w.groupBy("row").agg(sum("s").as("t"))
      .filter(abs(col("t") - 1.0) > 1e-9).count() === 0)
    assert(w.select("row").distinct().count() === gridOut.nCells)
  }

  test("slab applier == relational apply on a dense 3-D field") {
    val w = Weights.conservative(srcCells(b = true), dstCells(b = true))
    val f = waveIn.crossJoin(spark.range(1, 6).toDF("time"))
      .select(col("cell_id"), col("time"), (col("time") * col("value")).as("value"))
    val rel = Apply.regrid(w, f, dstCells(), extraDims = Seq("time"), roundDigits = 0)
    val slabs = Apply.toSlabs(f, gridIn.nCells.toInt, Seq("time"))
      .select(col("time").as("slab_id"), col("values"))
    val dense = Apply.regridSlabbed(w, slabs, gridOut.nCells.toInt)
      .select(col("slab_id").as("time"), posexplode(col("values")).as(Seq("cell_id", "dv")))
    val j = rel.join(dense, Seq("time", "cell_id"))
    assert(j.count() === gridOut.nCells * 5)
    assert(j.select(max(abs(col("value") - col("dv")))).head().getDouble(0) < 1e-9)
  }

  test("Regridder auto-routes slab-major input through the dense kernel") {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Conservative)
    val f = waveIn.crossJoin(spark.range(1, 4).toDF("time"))
      .select(col("cell_id"), col("time"), (col("time") * col("value")).as("value"))
    val slabs = Apply.toSlabs(f, gridIn.nCells.toInt, Seq("time"))
      .select(col("time").as("slab_id"), col("values"))
    val out = r.apply(slabs)
    assert(out.columns.toSet === Set("slab_id", "values"))
    assert(out.count() === 3)
    assert(out.selectExpr("max(size(values))").head().getInt(0) === gridOut.nCells.toInt)
  }

  /** A tall (time, lev) field over `gridIn` with two value columns: v1
    * is NULL on every seventh cell, v2 never; plus rows whose cell ids
    * lie outside the weights' col range on both sides. */
  def tallField: DataFrame = {
    val f = waveIn
      .crossJoin(spark.range(1, 3).toDF("time"))
      .crossJoin(spark.range(1, 4).toDF("lev").select(col("lev").cast("int")))
      .select(col("cell_id"), col("time"), col("lev"),
        when(col("cell_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("time") * col("lev") * col("value")).as("v1"),
        (col("value") + col("lev")).as("v2"))
    val outside = f.filter(col("cell_id") < 3)
      .withColumn("cell_id", when(col("cell_id") === 0, lit(-5L))
        .otherwise(col("cell_id") + gridIn.nCells + 100))
    f.unionByName(outside)
  }

  /** Both sides hold the same rows (multiset) under the same column
    * names and types; nullability flags may differ. */
  def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    def cols(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(cols(got) === cols(want), what)
    assert(got.count() === want.count(), what)
    assert(got.exceptAll(want).count() === 0, what)
    assert(want.exceptAll(got).count() === 0, what)
  }

  test("tall Regridder.apply on the CSC kernel == Apply.regrid, row for row") {
    val dims = Seq("time", "lev")
    val vals = Seq("v1", "v2")
    val f = tallField.cache()
    // bilinear, non-periodic: the seam destinations are unmapped (K2)
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Bilinear)
    val viaCsc = r.apply(f, dims, vals)
    assert(r.cscApplier.isDefined)
    assert(viaCsc.queryExecution.executedPlan.toString.contains("graft_csc_lookup"))
    val want = Apply.regrid(r.weights, f, dstCells(), dims, vals)
    assertSameRows(viaCsc, want, "bilinear, two dims, two values, NULLs, outside cells")
    // every destination × (time, lev) combo surfaces, unmapped ones as 0.0
    assert(viaCsc.count() === gridOut.nCells * 2 * 3)
    assert(viaCsc.filter(col("v2") === 0.0).count() > 0)
    // the interpreted lookup (no whole-stage codegen) gives the same rows
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = r.apply(f, dims, vals)
      assert(interpreted.queryExecution.executedPlan.toString.contains("graft_csc_lookup"))
      assertSameRows(interpreted, want, "interpreted lookup")
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")

    // broadcastWeights = false falls back to the shuffled join
    val shuffled = r.apply(f, dims, vals, broadcastWeights = false)
    assert(!shuffled.queryExecution.executedPlan.toString.contains("graft_csc_lookup"))
    assertSameRows(shuffled, want, "broadcastWeights = false")
    // a non-integral cell_id keeps the join's comparison semantics
    val fd = f.withColumn("cell_id", col("cell_id").cast("double"))
    val viaJoin = r.apply(fd, dims, vals)
    assert(!viaJoin.queryExecution.executedPlan.toString.contains("graft_csc_lookup"))
    assertSameRows(viaJoin, Apply.regrid(r.weights, fd, dstCells(), dims, vals), "double cell ids")

    // validate = true still runs the dangling-column check
    intercept[IllegalArgumentException] {
      r.apply(f.filter(col("cell_id") < 100), dims, vals, validate = true)
    }
    assert(r.apply(f, dims, vals, validate = true).count() === gridOut.nCells * 2 * 3)

    // locstream source, nearest_d2s: 476 of 480 destinations unmapped
    val locs4 = graft.RegridQueries.locs4
    val pts = Grids.locstream(spark, locs4).select(col("cell_id"),
      TestFields.waveSmooth(col("lon"), col("lat")).as("value"))
    val rl = new Regridder(spark, LocDef(locs4), RectDef(gridOut), RegridMethod.NearestD2S)
    val loc = rl.apply(pts)
    assert(rl.cscApplier.isDefined)
    assertSameRows(loc, Apply.regrid(rl.weights, pts, dstCells()), "locstream nearest_d2s")
    assert(loc.filter(col("value") === 0.0).count() === gridOut.nCells - 4)
    Seq(r, rl).foreach(_.close())
    f.unpersist()
  }

  test("tall Regridder.apply with EMPTY weights falls back to Apply.regrid: all zeros") {
    // disjoint regional grids: bilinear finds no source quad at all
    val src = RectGrid.of(0, 10, 1, 0, 10, 1)
    val dst = RectGrid.of(100, 120, 2, 50, 60, 2)
    val r = new Regridder(spark, RectDef(src), RectDef(dst), RegridMethod.Bilinear)
    val f = Grids.cells(spark, src, false).select(col("cell_id"), lit(1.0).as("value"))
    val out = r.apply(f)
    assert(r.weights.count() === 0)
    assert(r.cscApplier.isEmpty)
    assert(out.count() === dst.nCells)
    assert(out.filter(col("value") =!= 0.0).count() === 0)
    r.close()
  }

  test("warm tall apply: no weight work — no broadcast, one shuffle, no W collect job") {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def exchanges(df: DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan
      (Plans.collect(plan) { case e: ShuffleExchangeLike => e }.size,
        Plans.collect(plan) { case e: BroadcastExchangeLike => e }.size)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def jobsOf(action: => Unit): Int = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      action
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.get
    }
    val dims = Seq("time", "lev")
    val f = tallField.cache()
    f.count()
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Bilinear)
    spark.sparkContext.addSparkListener(listener)
    try {
      r.apply(f, dims, Seq("v1")).collect()          // cold: builds the CSC index
      val warm = r.apply(f, dims, Seq("v1"))
      val warmJobs = jobsOf(warm.collect())
      assert(exchanges(warm) === ((1, 0)), warm.queryExecution.executedPlan.toString)
      // the same action over a plain one-shuffle aggregate of the field
      // runs as many jobs: nothing of W is collected or broadcast
      val plainJobs = jobsOf(f.groupBy(dims.map(col): _*).agg(sum("v1")).collect())
      assert(warmJobs === plainJobs)
      // the per-call route re-derives W: a broadcast and extra jobs
      val perCall = Apply.regrid(r.weights, f, dstCells(), dims, Seq("v1"))
      assert(jobsOf(perCall.collect()) > warmJobs)
      assert(exchanges(perCall)._2 > 0)

      // close() destroys the broadcast index; later applies error
      val csc = r.cscApplier.get
      r.close()
      val e = intercept[IllegalArgumentException] { r.apply(f, dims, Seq("v1")) }
      assert(e.getMessage.contains("closed"))
      intercept[Exception] { csc.apply(f, dims, Seq("v1")).collect() }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      f.unpersist()
    }
  }
}
