package graft.regrid

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** The one dataflow kernel of the reference: sparse matrix–vector apply,
  * `out[d] = Σ_s W[d,s] · in[s]` (reference `xesmf/smm.py:44-95`, dot at
  * `:90`) — re-expressed as join + hash-aggregate.
  *
  * Relational form makes the reference's three kernel features free:
  *  - K2 unmapped→0: every destination surfaces, with 0.0 where no
  *    weight reaches it (`unmapped_action=IGNORE`, reference
  *    `backend.py:275-280`);
  *  - K3 extra-dim broadcasting (time, lev, …): extra dims are just
  *    additional groupBy keys carried through (reference `smm.py:89-94`);
  *  - R6 multi-variable Datasets: one pass aggregating several value
  *    columns at once (reference `frontend.py:448-511`).
  *
  * Three apply routes answer the same question. [[Regridder.apply]]
  * picks one per call from the field's shape, its `broadcastWeights`
  * argument and the replicate-W ceiling
  * ([[SlabApplier.defaultMaxTriplets]]):
  *  - slab-major `(slab_id, values)` input → [[SlabApplier]], a dense
  *    scatter over W's COO arrays, broadcast once per regridder;
  *  - tall input with `broadcastWeights`, a non-empty W within the
  *    ceiling and an integral `cell_id` → [[CscApplier]], a per-row
  *    lookup in a col-sorted copy of W broadcast once per regridder,
  *    then the sum's one shuffle;
  *  - any other tall input → [[regrid]], which derives the K2 padding
  *    and the join side from the weights relation on every call. It is
  *    also the entry point for direct functional callers.
  *
  * Scale shape of [[regrid]]: the weights side is `broadcast()` when
  * small (the exact analog of the reference's dask strategy "replicate
  * W to every chunk, partition the field over extra dims",
  * `frontend.py:375-389`); for huge grids pass `broadcastWeights =
  * false` and the plan becomes a shuffled hash join keyed on source
  * cell, with map-side partial aggregation before the groupBy shuffle.
  */
object Apply {

  /** @param weights   (row, col, s)
    * @param field     (cell_id, [extraDims...], [valueCols...])
    * @param destCells destination relation with a `cell_id` column; one
    *                  output row per destination (× extra-dim combo)
    * @param extraDims names of extra dimension columns in `field`
    * @param valueCols names of value columns to regrid (≥ 1)
    * @param roundDigits decimals kept on output values (oracle parity);
    *                    pass 0 to disable rounding
    */
  def regrid(weights: DataFrame, field: DataFrame, destCells: DataFrame,
             extraDims: Seq[String] = Nil,
             valueCols: Seq[String] = Seq("value"),
             broadcastWeights: Boolean = true,
             roundDigits: Int = 9,
             validate: Boolean = false): DataFrame = {
    if (validate) requireShape(weights, field)
    val w0 = weights.select(col("row"), col("col"), col("s"))

    // K2 (unmapped → 0) at WEIGHTS cardinality, not output cardinality:
    // destinations with no weights get one zero-weight triplet against
    // an arbitrary existing source cell, so the join-agg below emits
    // every (dest × extra-dim combo) with value 0.0 — no outer join
    // against the (dest × slabs)-sized output frame. At 500 slabs that
    // turns a 60M-row join into a 120k-row anti-join at plan time.
    // Assumes a dense field (every source cell present per slab), which
    // is the reference's own data model (flattened dense arrays,
    // smm.py:89).
    // any existing source cell works as the zero-weight anchor; take it
    // from the weights relation (small) rather than scanning the field.
    // An EMPTY weights relation (fully non-overlapping grids) would
    // yield a NULL anchor and an empty output instead of the promised
    // all-zero frame — fall back to one arbitrary field cell (limit(1)
    // reads a single partition, not the whole field).
    val anyCol = broadcast(
      w0.select(col("col"))
        .unionByName(field.select(col("cell_id").as("col")).limit(1))
        .select(min(col("col")).as("col")))
    val padding = destCells.select(col("cell_id").as("row"))
      .join(w0.select("row").distinct(), Seq("row"), "left_anti")
      .crossJoin(anyCol)
      .withColumn("s", lit(0.0))
    val padded = w0.unionByName(padding)
    val w = if (broadcastWeights) broadcast(padded) else padded

    // the field is not pre-shuffled: the broadcast join needs no
    // shuffle, so the sum's groupBy is the plan's only one
    sumProducts(field.join(w, field("cell_id") === w("col")), extraDims, valueCols, roundDigits)
  }

  /** V4 shape contract (reference `smm.py:77-86`): every weight column
    * must reference a source cell present in the field; a mismatched
    * field would otherwise silently contribute zeros. Opt-in — costs
    * one anti-join count at plan time. */
  private[regrid] def requireShape(weights: DataFrame, field: DataFrame): Unit = {
    val dangling = Validate.danglingWeightCols(weights, field.select(col("cell_id")))
    require(dangling == 0,
      s"weights reference $dangling source cells absent from the field " +
        "(shape contract, reference smm.py:77-86)")
  }

  /** The tail every tall route shares: `pairs` holds one row per
    * (weight, field row) match, carrying `row`, `s`, the extra dims and
    * the value columns. Sums `s · v` per (row, extra dims), rounds to
    * `roundDigits` (0 = off), and reports a sum with no non-NULL term
    * as 0.0. Output: `(cell_id, extraDims..., valueCols...)`. */
  private[regrid] def sumProducts(pairs: DataFrame, extraDims: Seq[String],
                                  valueCols: Seq[String], roundDigits: Int): DataFrame = {
    def finish(c: Column): Column = {
      val r = if (roundDigits > 0) Rounding.roundN(c, roundDigits) else c
      coalesce(r, lit(0.0))
    }
    pairs
      .groupBy(col("row") +: extraDims.map(col): _*)
      .agg(
        sum(col("s") * col(valueCols.head)).as(valueCols.head),
        valueCols.tail.map(v => sum(col("s") * col(v)).as(v)): _*)
      .select(
        (col("row").as("cell_id") +: extraDims.map(col)) ++
          valueCols.map(v => finish(col(v)).as(v)): _*)
  }

  /** Convert a tall field `(cell_id, extraDims..., value)` to slab-major
    * dense layout: one row per extra-dim combo carrying the whole
    * horizontal field as `values ARRAY<DOUBLE>` (index = cell_id).
    *
    * This is the Spark-native analog of the dense arrays the reference
    * operates on (and of Spark ML's vector columns): for raster data the
    * per-value relational row is the WRONG storage at scale — 500 slabs
    * × 240k cells is 120M rows but only 500 × 1.9 MB arrays. The
    * conversion is one shuffle; do it once and cache. */
  def toSlabs(field: DataFrame, nIn: Int, extraDims: Seq[String]): DataFrame = {
    require(extraDims.nonEmpty, "slab layout needs at least one extra dim")
    field
      .groupBy(extraDims.map(col): _*)
      .agg(collect_list(struct(col("cell_id"), col("value"))).as("kv"))
      .select(extraDims.map(c => col(c).cast("long")) :+
        expr(s"transform(array_sort(kv), x -> x.value)").as("values"): _*)
  }

  /** Slab-vectorized apply — the reference's own distribution strategy
    * (O6/P1, `frontend.py:375-389`: partition over extra dims, replicate
    * the full W to every chunk, run a dense local kernel per chunk).
    *
    * Weights are collected once into primitive COO arrays and broadcast
    * (1M triplets ≈ 24 MB — the same "every dask chunk sees all of W"
    * memory bar the reference sets). Each task then scatters
    * `out[row] += s·in[col]` over its slabs at memory speed — the exact
    * kernel and layout of the reference's scipy path (`smm.py:90`).
    *
    * Use for dense raster fields with many slabs; use [[regrid]] when
    * the field is genuinely sparse/relational or W is too large to
    * replicate.
    *
    * @param slabs (slab_id LONG, values ARRAY<DOUBLE>): [[toSlabs]]
    *              output with the extra dims packed into `slab_id`
    *              relationally (cheap: one projection over #slabs rows)
    * @return (slab_id, values) on the destination grid; unmapped dests 0.0
    */
  def regridSlabbed(weights: DataFrame, slabs: DataFrame, nOut: Int): DataFrame =
    new SlabApplier(weights, nOut).apply(slabs)
}

/** Reusable dense-slab regrid kernel: the weights relation is collected
  * into primitive COO arrays ONCE, at construction, and broadcast for
  * the applier's lifetime — exactly the reference's model, where
  * `Regridder.__init__` loads the scipy COO matrix into RAM once
  * (`smm.py:34-41`) and every apply is just the dot (`smm.py:90`).
  *
  * The replicate-W memory bar is the same one the reference's dask path
  * sets ("every chunk sees the full W", `frontend.py:375-389`):
  * ~20 bytes/triplet, asserted below so the ceiling is explicit rather
  * than an executor OOM. For weights beyond the bar, use the shuffled
  * relational [[Apply.regrid]].
  */
object SlabApplier {
  /** Replicate-W ceiling derived from the driver's max heap instead of
    * a fixed constant: the COO arrays cost 20 B/triplet resident plus a
    * transient per-partition copy during collect, so cap at ~25% of max
    * heap at 24 B/triplet (64 GiB heap → ~700 M triplets; default sbt
    * 8 GiB → ~90 M). Overridable per instance for testing. */
  def defaultMaxTriplets: Long = Runtime.getRuntime.maxMemory / 4 / 24
}

final class SlabApplier(weights: DataFrame, val nOut: Int,
                        maxTriplets: Long = SlabApplier.defaultMaxTriplets) {
  private val spark = weights.sparkSession

  // the broadcast COO arrays, and the largest source col they index
  // (-1 for no triplets): each slab must hold more values than that
  private val (bw, maxCol) = {
    // one aggregate pass yields the triplet count AND the index-range
    // contract: rows must land in [0, nOut), row/col must fit in Int —
    // otherwise the non-ANSI int cast below would silently wrap and the
    // scatter kernel would either throw a bare ArrayIndexOutOfBounds or
    // write the wrong destination cell
    val st = weights.agg(
      count(lit(1)), min(col("row").cast("long")), max(col("row").cast("long")),
      min(col("col").cast("long")), max(col("col").cast("long"))).head()
    val nW = st.getLong(0)
    require(nW <= math.min(maxTriplets, Int.MaxValue.toLong),
      s"weights relation has $nW triplets > replicate-W ceiling $maxTriplets " +
        "(~25% of driver heap at 24 B/triplet, and Int-indexed arrays cap at 2^31); " +
        "use the shuffled relational Apply.regrid instead")
    val parts: Array[(Array[Int], Array[Int], Array[Double])] =
      if (nW == 0) Array.empty
      else {
        require(st.getLong(1) >= 0 && st.getLong(2) < nOut,
          s"weights reference destination rows [${st.getLong(1)}, ${st.getLong(2)}] " +
            s"outside [0, $nOut) (shape contract, reference smm.py:77-86)")
        require(st.getLong(3) >= 0 && st.getLong(4) <= Int.MaxValue,
          s"weights reference source cols [${st.getLong(3)}, ${st.getLong(4)}] " +
            "outside [0, 2^31) — the dense slab kernel indexes slabs with Int")
        import spark.implicits._
        // per-partition primitive arrays: the collect moves 20 B/triplet,
        // not millions of boxed Row objects
        weights.select(col("row").cast("int"), col("col").cast("int"), col("s"))
          .as[(Int, Int, Double)]
          .mapPartitions { it =>
            val rb = Array.newBuilder[Int]
            val cb = Array.newBuilder[Int]
            val sb = Array.newBuilder[Double]
            it.foreach { t => rb += t._1; cb += t._2; sb += t._3 }
            Iterator.single((rb.result(), cb.result(), sb.result()))
          }
          .collect()
      }
    val rowA = new Array[Int](nW.toInt)
    val colA = new Array[Int](nW.toInt)
    val sA = new Array[Double](nW.toInt)
    var off = 0
    parts.foreach { case (r, c, s) =>
      System.arraycopy(r, 0, rowA, off, r.length)
      System.arraycopy(c, 0, colA, off, c.length)
      System.arraycopy(s, 0, sA, off, s.length)
      off += r.length
    }
    (spark.sparkContext.broadcast((rowA, colA, sA)), if (nW == 0) -1L else st.getLong(4))
  }

  private var closed = false

  /** Release the broadcast weight arrays (the analog of the reference's
    * `esmf_regrid_finalize`, `backend.py:333-357` — it too frees the
    * native regrid object once the weights are extracted). The applier
    * is unusable afterwards; closing twice is a no-op (Closeable
    * convention) rather than a broadcast-validity error. */
  def close(): Unit = if (!closed) { closed = true; bw.destroy() }

  /** @param slabs (slab_id LONG, values ARRAY<DOUBLE>)
    * @return (slab_id, values) on the destination grid; unmapped 0.0 */
  def apply(slabs: DataFrame): DataFrame = {
    import spark.implicits._
    val n = nOut
    val b = bw
    val mc = maxCol
    // typed Dataset: ArrayType decodes to primitive Array[Double]
    // (no per-element boxing, unlike Row.getSeq)
    slabs.select(col("slab_id").cast("long"), col("values"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (rw, cl, sv) = b.value
        it.map { case (k, inA) =>
          // V4 shape contract for the dense path: every weight column
          // must index into the slab (reference smm.py:77-86); report the
          // offending slab instead of a bare ArrayIndexOutOfBounds
          if (inA.length <= mc)
            throw new IllegalArgumentException(
              s"slab $k has ${inA.length} values but weights reference source cell $mc " +
                "(shape contract, reference smm.py:77-86)")
          val out = new Array[Double](n)
          var j = 0
          while (j < rw.length) { out(rw(j)) += sv(j) * inA(cl(j)); j += 1 }
          (k, out)
        }
      }
      .toDF("slab_id", "values")
  }
}

/** Reusable tall-field regrid kernel: the weights relation is collected
  * ONCE into a col-sorted (CSC) index and broadcast for the applier's
  * lifetime, so an apply does no weight work. Each field row looks up
  * the weights of its source cell (`ptr(cell)..ptr(cell+1)`) and emits
  * `(row, extraDims…, s·v…)`; the sum of [[Apply.sumProducts]] is the
  * plan's one shuffle. The reference's model again: W is loaded once
  * (`smm.py:34-41`) and every apply is the sparse dot (`smm.py:90`).
  *
  * Same answer as [[Apply.regrid]] over the same weights:
  *  - K2: each destination without weights has one zero-weight entry
  *    on the min(col) anchor, put into the index once;
  *  - the lookup is a Catalyst generator ([[CscLookup]]), so extra dims
  *    and value columns of any type pass through Spark's own
  *    expressions, and a NULL value contributes as SQL `sum` does;
  *  - a field cell outside W's col range matches no weight.
  *
  * Built only by [[CscApplier.build]], which declines W that is empty
  * or over the replicate-W ceiling; those go through [[Apply.regrid]].
  */
final class CscApplier private (index: Broadcast[CscApplier.Index]) {
  private var closed = false

  /** Release the broadcast index; the applier is unusable afterwards,
    * and closing twice is a no-op (as [[SlabApplier.close]]). */
  def close(): Unit = if (!closed) { closed = true; index.destroy() }

  /** @param field (cell_id, [extraDims...], [valueCols...]) with an
    *              integral `cell_id`
    * @return (cell_id, extraDims..., valueCols...) on the destination
    *         grid, as [[Apply.regrid]] returns it at its default 9-dp
    *         rounding */
  def apply(field: DataFrame, extraDims: Seq[String], valueCols: Seq[String]): DataFrame = {
    val lookup = GraftColumnBridge.column(
      CscLookup(GraftColumnBridge.expression(col("cell_id").cast("long")), index))
    Apply.sumProducts(field.select((extraDims ++ valueCols).map(col) :+ lookup: _*),
      extraDims, valueCols, roundDigits = 9)
  }
}

object CscApplier {
  /** The weights of source cell `c` are `rows(j)`, `s(j)` for `j` in
    * `ptr(c - minCol) until ptr(c - minCol + 1)`. */
  final case class Index(minCol: Long, ptr: Array[Int], rows: Array[Long], s: Array[Double])

  /** Collects `weights` into a broadcast index, with K2 padding for the
    * destinations of `destCells` (`nDest` rows) that no weight reaches.
    * Returns None when W is empty (no anchor to pad on) or when its
    * triplets, its col span and `nDest` together exceed the replicate-W
    * ceiling [[SlabApplier.defaultMaxTriplets]] (the index costs 16 B
    * per triplet or padding entry and 4 B per col of span, within that
    * ceiling's 24 B per triplet). Three jobs: the stats, the padding
    * anti-join, the collect. */
  def build(weights: DataFrame, destCells: DataFrame, nDest: Long): Option[CscApplier] = {
    val spark = weights.sparkSession
    import spark.implicits._
    val st = weights.agg(count(lit(1)), min(col("col").cast("long")),
      max(col("col").cast("long"))).head()
    val nW = st.getLong(0)
    if (nW == 0 || st.isNullAt(1)) None
    else {
      val minCol = st.getLong(1)
      val span = st.getLong(2) - minCol + 1
      if (nW + span + nDest > math.min(SlabApplier.defaultMaxTriplets, Int.MaxValue.toLong - 1)) None
      else {
        val pad = destCells.select(col("cell_id").as("row"))
          .join(weights.select("row").distinct(), Seq("row"), "left_anti")
          .select(col("row").cast("long")).as[Long].collect()
        // per-partition primitive arrays, cols already relative to minCol
        val parts = weights
          .select(col("row").cast("long"), (col("col").cast("long") - minCol).cast("int"), col("s"))
          .as[(Long, Int, Double)]
          .mapPartitions { it =>
            val rb = Array.newBuilder[Long]
            val cb = Array.newBuilder[Int]
            val sb = Array.newBuilder[Double]
            it.foreach { t => rb += t._1; cb += t._2; sb += t._3 }
            Iterator.single((rb.result(), cb.result(), sb.result()))
          }
          .collect()
        // counting sort by col: ptr(c + 1) counts col c, then prefix sums
        val ptr = new Array[Int](span.toInt + 1)
        ptr(1) += pad.length
        parts.foreach { case (_, cs, _) => cs.foreach(c => ptr(c + 1) += 1) }
        var c = 0
        while (c < span) { ptr(c + 1) += ptr(c); c += 1 }
        val n = ptr(span.toInt)
        val rows = new Array[Long](n)
        val s = new Array[Double](n)
        val next = java.util.Arrays.copyOf(ptr, span.toInt)
        pad.foreach { r => rows(next(0)) = r; next(0) += 1 }
        parts.foreach { case (rs, cs, ss) =>
          var j = 0
          while (j < rs.length) {
            val k = next(cs(j))
            rows(k) = rs(j); s(k) = ss(j); next(cs(j)) = k + 1
            j += 1
          }
        }
        Some(new CscApplier(spark.sparkContext.broadcast(Index(minCol, ptr, rows, s))))
      }
    }
  }
}

/** The Catalyst generator behind [[CscApplier]]: for a source cell id,
  * one `(row, s)` element per weight of that cell in the broadcast
  * index. A NULL or out-of-range id yields nothing, as it finds no
  * match in [[Apply.regrid]]'s inner join.
  *
  * Generated code runs inside whole-stage codegen, so the lookup and
  * the partial sum after it are one loop per field row. It reuses one
  * [[CscCursor]] per task, which is safe because Generate drains the
  * elements of a row before it evaluates the next one. */
case class CscLookup(child: Expression, index: Broadcast[CscApplier.Index])
    extends UnaryExpression with Generator {
  override def elementSchema: StructType = new StructType()
    .add("row", LongType, nullable = false)
    .add("s", DoubleType, nullable = false)

  @transient private lazy val ix = index.value

  def newCursor(): CscCursor = new CscCursor(ix)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val id = child.eval(input)
    newCursor().reset(id == null, if (id == null) 0L else id.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[CscCursor].getName
    val self = ctx.addReferenceObj("cscLookup", this)
    val cursor = ctx.addMutableState(cls, "cscCursor", v => s"$v = $self.newCursor();")
    val id = child.genCode(ctx)
    ev.copy(code = code"""
      |${id.code}
      |$cls ${ev.value} = $cursor.reset(${id.isNull}, ${id.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override def prettyName: String = "graft_csc_lookup"
  override protected def withNewChildInternal(c: Expression): CscLookup = copy(child = c)
}

/** The weights of one source cell as `(row, s)` elements, read through
  * one mutable row: a consumer must copy an element before it asks for
  * the next one. [[reset]] moves the cursor to another cell. */
final class CscCursor(ix: CscApplier.Index) extends Iterator[InternalRow] {
  private val out = new SpecificInternalRow(Seq(LongType, DoubleType))
  private var j = 0
  private var end = 0

  def reset(isNull: Boolean, id: Long): CscCursor = {
    val c = id - ix.minCol
    if (isNull || c < 0 || c >= ix.ptr.length - 1) { j = 0; end = 0 }
    else { j = ix.ptr(c.toInt); end = ix.ptr(c.toInt + 1) }
    this
  }

  def hasNext: Boolean = j < end

  def next(): InternalRow = {
    out.setLong(0, ix.rows(j))
    out.setDouble(1, ix.s(j))
    j += 1
    out
  }
}
