package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, count,
  element_at, explode, floor, greatest, least, lit,
  monotonically_increasing_id, pmod, round, struct, sum, typedLit, when}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType,
  LongType, StructField, StructType}
import graft.core.{Axis, Bicubic, Boundary, Interpolate}
import scala.collection.immutable.ListMap

/** Dense 2-D grid (x-major storage) + its axes — the broadcastable analog
  * of the reference Grid2D (`/root/reference/cxx/include/pyinterp/pybind/
  * grid.hpp:184-342`). `values(i * ny + j)` is z(x_i, y_j).
  */
final case class Grid2D(xAxis: Axis, yAxis: Axis, values: Array[Double])
    extends Serializable {
  require(values.length == xAxis.size.toLong * yAxis.size,
    s"grid size ${values.length} != ${xAxis.size}x${yAxis.size}")
  @inline def apply(i: Int, j: Int): Double = values(i * yAxis.size + j)
}

/** 1-D grid (`core.Grid` with one axis): the `univariate` /
  * `univariate_derivative` entry points' data model.
  */
final case class Grid1D(axis: Axis, values: Array[Double])
    extends Serializable {
  require(values.length == axis.size, "grid size != axis size")
}

/** 3-D grid: z-axis stacked planes of Grid2D (z may be a temporal axis
  * carried as epoch-encoded doubles).
  */
final case class Grid3D(xAxis: Axis, yAxis: Axis, zAxis: Axis,
                        values: Array[Double]) extends Serializable {
  @inline def apply(i: Int, j: Int, k: Int): Double =
    values((i.toLong * yAxis.size * zAxis.size + j.toLong * zAxis.size + k).toInt)
}

/** 4-D grid (x, y, z, u) — u typically a level axis, z possibly temporal
  * (`pyinterp/core/__init__.pyi:599-611` Grid4D shape).
  */
final case class Grid4D(xAxis: Axis, yAxis: Axis, zAxis: Axis, uAxis: Axis,
                        values: Array[Double]) extends Serializable {
  @inline def apply(i: Int, j: Int, k: Int, l: Int): Double =
    values((((i.toLong * yAxis.size + j) * zAxis.size + k) *
      uAxis.size + l).toInt)
}

/** Grid interpolation as a shuffle-free map stage: the grid is broadcast
  * once per executor and each partition runs the per-thread kernel loop of
  * the reference (`parallel_for` chunk ≙ partition,
  * `pybind/windowed/bivariate.hpp:96-112`). Appends a `value` double
  * column (NaN when the point cannot be framed).
  *
  * Methods: geometric {bilinear, idw, nearest}
  * (`math/interpolate/geometric/bivariate.hpp`) and windowed {bicubic,
  * spline-bilinear} (`math/interpolate/bivariate/bicubic.hpp`) with the
  * reference default half-window of 3 (6x6) and undef|shrink boundaries
  * (`pyinterp/regular_grid_interpolator.py:66-79`).
  */
object GridInterpolator {

  private val geometricMethods = Set("bilinear", "idw", "nearest")

  def bivariate(spark: SparkSession, df: DataFrame, xCol: String, yCol: String,
                grid: Grid2D, method: String, halfWindow: Int = 3,
                boundary: Boundary.Value = Boundary.Undef,
                outputCol: String = "value",
                sortProbes: Boolean = true): DataFrame = {
    val bc: Broadcast[Grid2D] = spark.sparkContext.broadcast(grid)
    // windowed methods keep a per-window cache (fits reused across probes
    // in the same 6x6 window); a PARTITION-LOCAL sort by grid cell turns
    // scattered probes into runs of cache hits — no shuffle, and at scale
    // the O(p log p) per-task sort is far cheaper than per-row refits
    val input =
      if (!sortProbes || geometricMethods.contains(method)) df
      else if (grid.xAxis.isRegular && grid.yAxis.isRegular)
        df.sortWithinPartitions(
          floor((col(xCol) - lit(grid.xAxis.front)) / lit(grid.xAxis.step)),
          floor((col(yCol) - lit(grid.yAxis.front)) / lit(grid.yAxis.step)))
      else df.sortWithinPartitions(col(xCol), col(yCol))
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val yIdx = df.schema.fieldIndex(yCol)
    val m = method
    val hw = halfWindow
    val bdy = boundary
    input.mapPartitions { iter =>
      val g = bc.value
      val interp = new BivariateKernel(g, m, hw, bdy)
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val y = row.getDouble(yIdx)
        Row.fromSeq(row.toSeq :+ interp(x, y))
      }
    }(enc)
  }

  /** Pins the synthetic probe row id BEFORE the plan branches (r3 ADVICE,
    * medium): `monotonically_increasing_id` is nondeterministic, so when
    * the id-stamped probe is evaluated once under the corner->agg branch
    * and again under the final left join, a task retry / speculative
    * re-execution / shuffled upstream could assign DIFFERENT ids in the
    * two branches — silently pairing interpolated values with the wrong
    * probe rows. `localCheckpoint` materializes the stamped rows once
    * (executor-local blocks, lineage truncated), so every branch reads the
    * SAME ids; a lost block then fails the job loudly instead of
    * corrupting it.
    */
  private def withStableId(df: DataFrame): DataFrame =
    df.withColumn("_rid", monotonically_increasing_id()).localCheckpoint()

  /** One lattice axis of a grid-as-table call, in (x, y, z, u) order: the
    * probe's coordinate column, the lattice table's coordinate column, the
    * axis resolved from the table's distinct values, and its period (the
    * lon-periodic x axis; 0 = not periodic).
    */
  private final case class TableAxis(probeCol: String, tableCol: String,
                                     axis: Axis, period: Double) {
    def periodic: Boolean = period != 0.0
  }

  // per-axis internal column names, x first: lattice key, normalized
  // coordinate, fractional index, bracketing lower node, bracket fraction
  private val KeyCols = Seq("_ci", "_cj", "_ck", "_cl")
  private val CoordCols = Seq("_nx", "_ny", "_nz", "_nu")
  private val FracCols = Seq("_fx", "_fy", "_fz", "_fu")
  private val LowCols = Seq("_i0", "_j0", "_k0", "_l0")
  private val FracTCols = Seq("_tx", "_ty", "_tz", "_tu")

  /** The 2^rank bracket corners as per-axis 0/1 offsets, x outermost —
    * the enumeration order of the corner rows and of the weight product.
    */
  private def cornerOffsets(rank: Int): Seq[Seq[Int]] =
    (0 until (1 << rank)).map(c =>
      (0 until rank).map(d => (c >> (rank - 1 - d)) & 1))

  /** Encoder of the non-null rows the irregular-axis flatMaps emit. */
  private def rowEncoder(fields: Seq[(String, DataType)])
      : ExpressionEncoder[Row] =
    ExpressionEncoder(RowEncoder.encoderFor(StructType(fields.map {
      case (n, t) => StructField(n, t, nullable = false) })))

  /** Axis roles, value column and shape checks of the grid-as-table paths:
    * lon/lat from CF/name heuristics, z from `zColName` (or the time
    * role), u from `uColName` (the 4th axis has no universal naming
    * convention — callers must name it), value = the first remaining
    * column. Only the O(Σ axis sizes) distinct axis values reach the
    * driver. `planeNodes` is the minimum x/y axis length (2·halfWindow on
    * the windowed paths). A nonzero `xPeriod` declares a GLOBAL
    * lon-periodic lattice, which must be regular and close the circle
    * (nx·step = period).
    */
  private def resolveTable(caller: String, gridTable: DataFrame,
                           probeCols: Seq[String], zColName: String,
                           uColName: String, valueCol: String,
                           xPeriod: Double, planeNodes: Int)
      : (Seq[TableAxis], String) = {
    import graft.sources.GridLoader
    val rank = probeCols.size
    val roles = GridLoader.identifyAxes(gridTable)
    val lonCol = roles.lon.getOrElse(
      throw new IllegalArgumentException("no longitude/x axis identified"))
    val latCol = roles.lat.getOrElse(
      throw new IllegalArgumentException("no latitude/y axis identified"))
    val zName =
      if (rank < 3 || zColName.nonEmpty) zColName
      else roles.time.getOrElse(
        throw new IllegalArgumentException("no time/z axis identified"))
    if (rank == 4) require(uColName.nonEmpty,
      s"$caller: name the 4th axis column via uColName")
    val tableCols = Seq(lonCol, latCol, zName, uColName).take(rank)
    val vCol =
      if (valueCol.nonEmpty) valueCol
      else gridTable.schema.fields.map(_.name)
        .filterNot(tableCols.contains).headOption
        .getOrElse(throw new IllegalArgumentException("no value column"))
    val axes = GridLoader.axesOf(gridTable, tableCols)
    require(axes.forall(a =>
      a.size >= 2 && !a.isPeriodic && a.front < a.back),
      s"$caller requires ascending non-periodic axes of >= 2 nodes")
    require(axes.take(2).forall(_.size >= planeNodes),
      s"$caller requires >= 2*halfWindow nodes per plane axis")
    val periodic = xPeriod != 0.0
    if (periodic) {
      val x = axes.head
      require(axes.forall(_.isRegular),
        "xPeriod requires a regular full-circle lattice")
      require(math.abs(x.size * x.step - xPeriod) <= 1e-6 * x.step,
        s"xPeriod=$xPeriod requires a full-circle lattice: nx*step = " +
          s"${x.size * x.step}")
    }
    val tableAxes = probeCols.indices.map(d => TableAxis(probeCols(d),
      tableCols(d), axes(d), if (d == 0) xPeriod else 0.0))
    (tableAxes, vCol)
  }

  /** The lattice as `(_ci, _cj[, _ck[, _cl]], _z)` rows keyed by integer
    * node indices. Regular lattices key by the affine round((c − front) /
    * step) — pure column arithmetic, fully codegen. Irregular ones
    * broadcast the axis value arrays (O(Σ axis sizes), the d-th root of
    * the lattice) and key by the nearest-index `Axis.findIndex`; rows off
    * the axes are dropped.
    */
  private def cellKeys(spark: SparkSession, gridTable: DataFrame,
                       axes: Seq[TableAxis], vCol: String,
                       regular: Boolean): DataFrame = {
    val rank = axes.size
    if (regular)
      gridTable.select(axes.indices.map { d =>
        val a = axes(d).axis
        round((col(axes(d).tableCol).cast("double") - lit(a.front)) /
          lit(a.step)).cast("int").as(KeyCols(d))
      } :+ col(vCol).cast("double").as("_z"): _*)
    else {
      val bcAxes = spark.sparkContext.broadcast(axes.map(_.axis).toArray)
      gridTable.select(axes.map(a => col(a.tableCol).cast("double")) :+
          col(vCol).cast("double"): _*)
        .flatMap { r =>
          val ax = bcAxes.value
          val key = Array.tabulate(rank)(d =>
            ax(d).findIndex(r.getDouble(d), bounded = false))
          if (key.forall(_ >= 0))
            Iterator.single(Row.fromSeq(key.toSeq :+ r.getDouble(rank)))
          else Iterator.empty
        }(rowEncoder(KeyCols.take(rank).map(_ -> IntegerType) :+
          ("_z" -> DoubleType)))
    }
  }

  /** Regular-lattice probe brackets as pure column arithmetic, with
    * `Axis.findIndexes`' semantics decided against the node VALUES: per
    * axis the coordinate `_n?` (periodic x shifted into [front,
    * front + period) by whole periods, like `Axis.normalize`), the fractional
    * index `_f?` = (`_n?` − front)/step and the lower bracketing node
    * `_?0` — the side of the nearest node the coordinate lies on, and a
    * coordinate exactly on a node brackets that node and the next one
    * (the last node: the previous one). Node-exact probes thus see the
    * broadcast kernel's cells and windows however (c − front)/step
    * rounds; periodic x past the last node brackets (nx-1, wrap-to-0).
    * Returns the bracketed probes and their frame condition front <= c
    * <= back, which periodic x never rejects.
    */
  private def regularBrackets(withId: DataFrame, axes: Seq[TableAxis])
      : (DataFrame, Column) = {
    // one projection per quantity, all axes at once (x first)
    def perAxis(name: Seq[String])(f: Int => Column) =
      ListMap(axes.indices.map(d => name(d) -> f(d)): _*)
    val bracketed = withId
      .withColumns(perAxis(CoordCols) { d =>
        val c = col(axes(d).probeCol).cast("double")
        if (!axes(d).periodic) c
        else {
          val front = lit(axes(d).axis.front)
          val p = lit(axes(d).period)
          val shifted = c - p * floor((c - front) / p)
          when(shifted >= front + p, shifted - p)
            .when(shifted < front, shifted + p).otherwise(shifted)
        }
      })
      .withColumns(perAxis(FracCols) { d =>
        (col(CoordCols(d)) - lit(axes(d).axis.front)) / lit(axes(d).axis.step)
      })
      .withColumns(perAxis(LowCols) { d =>
        val n = axes(d).axis.size
        val c = col(CoordCols(d))
        val nearest = least(greatest(floor(col(FracCols(d)) + 0.5), lit(0L)),
          lit(n - 1L)).cast("int")
        val node = element_at(typedLit(axes(d).axis.values), nearest + 1)
        when(c === node, least(nearest, lit(n - 2)))
          .when(c < node, nearest - 1).otherwise(nearest)
      })
    val frame = axes.indices.filterNot(axes(_).periodic).map { d =>
      col(CoordCols(d)) >= lit(axes(d).axis.front) &&
        col(CoordCols(d)) <= lit(axes(d).axis.back)
    }.reduce(_ && _)
    (bracketed, frame)
  }

  /** Irregular-lattice probe brackets of a `(_rid, c_x, c_y, ...)` row:
    * per axis (lo, hi, t) from the SAME `Axis.findIndexes` binary search
    * and (c − c0)/(c1 − c0) fraction as the broadcast kernels
    * (`container.hpp:383-404` lower_bound semantics), so table ≡
    * broadcast on irregular lattices too. None when any axis cannot frame
    * the probe.
    */
  private def irregularBrackets(ax: Array[Axis], r: Row)
      : Option[Array[(Int, Int, Double)]] = {
    val out = new Array[(Int, Int, Double)](ax.length)
    var d = 0
    while (d < ax.length) {
      val c = r.getDouble(d + 1)
      ax(d).findIndexes(c) match {
        case Some((lo, hi)) =>
          val c0 = ax(d)(lo); val c1 = ax(d)(hi)
          out(d) = (lo, hi, if (c1 == c0) 0.0 else (c - c0) / (c1 - c0))
        case None => return None
      }
      d += 1
    }
    Some(out)
  }

  /** `(_rid, c_x, c_y, ...)`: the rows the irregular-axis paths read. */
  private def probeCoords(withId: DataFrame, axes: Seq[TableAxis])
      : DataFrame =
    withId.select(
      col("_rid") +: axes.map(a => col(a.probeCol).cast("double")): _*)

  /** Attaches the interpolated `(_rid, _v)` rows to the probes; probes
    * without a value (unframed, or a masked/missing cell) get NaN.
    */
  private def attach(withId: DataFrame, vals: DataFrame,
                     outputCol: String): DataFrame =
    withId.join(vals, Seq("_rid"), "left")
      .withColumn(outputCol, coalesce(col("_v"), lit(Double.NaN)))
      .drop("_rid", "_v")

  /** Rank-generic GEOMETRIC grid-as-table interpolation (multilinear over
    * the 2^rank bracketing lattice corners): each probe row fans out to
    * its corners with weights Π (1 − t | t) multiplied x first, a shuffle
    * equi-join on the corner key pulls the corner values from the cell
    * table, and a groupBy reassembles sum(w·z) — two keyed shuffles, no
    * driver state, AQE-skew-safe. The `_n === 2^rank` check NaNs a probe
    * with a masked (absent) corner cell, like the dense grid's NaN cells.
    * Periodic x: the seam cell's right corners wrap to lattice column 0
    * (`findIndexes` wrap, `axis.hpp:722-778`).
    */
  private def cornerTable(caller: String, spark: SparkSession,
                          probe: DataFrame, probeCols: Seq[String],
                          gridTable: DataFrame, zColName: String,
                          uColName: String, valueCol: String,
                          outputCol: String, xPeriod: Double): DataFrame = {
    val (axes, vCol) = resolveTable(caller, gridTable, probeCols, zColName,
      uColName, valueCol, xPeriod, planeNodes = 2)
    val rank = axes.size
    val keys = KeyCols.take(rank)
    val regular = axes.forall(_.axis.isRegular)
    val withId = withStableId(probe)
    val cells = cellKeys(spark, gridTable, axes, vCol, regular)
    val corners =
      if (regular) {
        val (bracketed, frame) = regularBrackets(withId, axes)
        val p = bracketed.filter(frame).withColumns(ListMap(axes.indices.map(
          d => FracTCols(d) -> (col(FracCols(d)) - col(LowCols(d)))): _*))
        val cornerStructs = cornerOffsets(rank).map { offs =>
          val keyCols = axes.indices.map { d =>
            val c =
              if (offs(d) == 0) col(LowCols(d)) else col(LowCols(d)) + offs(d)
            (if (axes(d).periodic) pmod(c, lit(axes(d).axis.size)) else c)
              .as(keys(d))
          }
          val w = axes.indices.map { d =>
            val t = col(FracTCols(d))
            if (offs(d) == 1) t else lit(1.0) - t
          }.reduceLeft(_ * _)
          struct(keyCols :+ w.as("_w"): _*)
        }
        p.select(col("_rid"), explode(array(cornerStructs: _*)).as("_c"))
          .select(col("_rid") +:
            (keys :+ "_w").map(k => col(s"_c.$k").as(k)): _*)
      } else {
        val bcAxes = spark.sparkContext.broadcast(axes.map(_.axis).toArray)
        val offsets = cornerOffsets(rank)
        probeCoords(withId, axes)
          .flatMap { r =>
            irregularBrackets(bcAxes.value, r) match {
              case Some(br) =>
                val rid = r.getLong(0)
                offsets.iterator.map { offs =>
                  val key = offs.indices.map(d =>
                    if (offs(d) == 1) br(d)._2 else br(d)._1)
                  val w = offs.indices.map { d =>
                    if (offs(d) == 1) br(d)._3 else 1 - br(d)._3
                  }.reduceLeft(_ * _)
                  Row.fromSeq((rid +: key) :+ w)
                }
              case None => Iterator.empty
            }
          }(rowEncoder((("_rid" -> LongType) +:
            keys.map(_ -> IntegerType)) :+ ("_w" -> DoubleType)))
      }
    val agg = corners.join(cells, keys)
      .groupBy("_rid")
      .agg(sum(col("_w") * col("_z")).as("_v"), count(lit(1)).as("_n"))
      .select(col("_rid"),
        when(col("_n") === (1 << rank), col("_v")).otherwise(lit(Double.NaN))
          .as("_v"))
    attach(withId, agg, outputCol)
  }

  /** Rank-generic WINDOWED grid-as-table interpolation: probes are keyed
    * by window origin `(wi, wj)` — the x/y bracket minus (halfWindow − 1)
    * — and by the lower z/u bracketing plane `(k0, l0)` with its combine
    * fraction `(tz, tu)`, then [[WindowedTileJoin]] co-groups them with
    * the lattice cells by window tile and evaluates plane-wise with the
    * broadcast path's kernels. The frame rule mirrors `Axis.window` with
    * boundary `undef`: probes whose window leaves the lattice never reach
    * the join and surface as NaN. Periodic probes evaluate at the
    * UNWRAPPED window coordinate front + fx·step (fx − wi ≈
    * halfWindow−1 + tx, always inside the unwrapped window frame) over
    * affine window nodes; non-periodic probes evaluate at the raw x over
    * the axis VALUES, like the broadcast window.
    */
  private def windowedTable(caller: String, spark: SparkSession,
                            probe: DataFrame, probeCols: Seq[String],
                            gridTable: DataFrame, method: String,
                            zMethod: String, uMethod: String,
                            halfWindow: Int, zColName: String,
                            uColName: String, valueCol: String,
                            outputCol: String, xPeriod: Double): DataFrame = {
    import spark.implicits._
    require(!geometricMethods.contains(method),
      s"method $method is geometric — use ${caller.stripSuffix("Windowed")}")
    require(halfWindow >= 1, "halfWindow must be >= 1")
    val (axes, vCol) = resolveTable(caller, gridTable, probeCols, zColName,
      uColName, valueCol, xPeriod, planeNodes = 2 * halfWindow)
    val rank = axes.size
    val n = 2 * halfWindow
    val tXY = WindowedTileJoin.DefaultTileXY
    val tPl = WindowedTileJoin.DefaultTilePlane
    val Seq(xAxis, yAxis) = axes.take(2).map(_.axis)
    val sizes = axes.map(_.axis.size).padTo(4, 0)
    val periodic = axes.head.periodic
    val regular = axes.forall(_.axis.isRegular)
    val withId = withStableId(probe)
    val cells = cellKeys(spark, gridTable, axes, vCol, regular)
    val probesT =
      if (regular) {
        val (bracketed, frame) = regularBrackets(withId, axes)
        val p = bracketed.withColumns(ListMap(
          "_wi" -> (col("_i0") - lit(halfWindow - 1)),
          "_wj" -> (col("_j0") - lit(halfWindow - 1))))
        // the window [i0-(hw-1), i0+hw] stays on the axis iff
        // values(hw-1) <= c < values(size-hw) (or c <= back for hw = 1):
        // the bracket's node rule restated on the coordinate, so the
        // filter needs no node lookup
        def windowFits(d: Int) = {
          val a = axes(d).axis
          val c = col(CoordCols(d))
          if (halfWindow == 1) lit(true)
          else c >= lit(a(halfWindow - 1)) && c < lit(a(a.size - halfWindow))
        }
        val windowFrame =
          if (periodic) windowFits(1) else windowFits(0) && windowFits(1)
        val xEval =
          if (periodic) lit(xAxis.front) + col("_fx") * lit(xAxis.step)
          else col(axes(0).probeCol).cast("double")
        def tile(c: Column, t: Int) = floor(c / lit(t)).cast("int")
        def low(d: Int) = if (d < rank) col(LowCols(d)) else lit(0)
        def frac(d: Int) =
          if (d < rank) col(FracCols(d)) - col(LowCols(d)) else lit(0.0)
        p.filter(frame && windowFrame).select(
            tile(col("_wi"), tXY).as("tx"), tile(col("_wj"), tXY).as("ty"),
            tile(low(2), tPl).as("tk"), tile(low(3), tPl).as("tl"),
            col("_rid").as("rid"), xEval.as("x"),
            col(axes(1).probeCol).cast("double").as("y"),
            frac(2).as("tz"), frac(3).as("tu"),
            col("_wi").as("wi"), col("_wj").as("wj"),
            low(2).as("k0"), low(3).as("l0"))
          .as[TileProbe]
      } else {
        val bcAxes = spark.sparkContext.broadcast(axes.map(_.axis).toArray)
        val hw = halfWindow
        probeCoords(withId, axes)
          .flatMap { r =>
            irregularBrackets(bcAxes.value, r) match {
              case Some(br) =>
                val wi = br(0)._1 - (hw - 1)
                val wj = br(1)._1 - (hw - 1)
                if (wi >= 0 && wi + (n - 1) <= sizes(0) - 1 &&
                    wj >= 0 && wj + (n - 1) <= sizes(1) - 1) {
                  def low(d: Int) = if (d < rank) br(d)._1 else 0
                  def frac(d: Int) = if (d < rank) br(d)._3 else 0.0
                  Iterator.single(TileProbe(Math.floorDiv(wi, tXY),
                    Math.floorDiv(wj, tXY), Math.floorDiv(low(2), tPl),
                    Math.floorDiv(low(3), tPl), r.getLong(0), r.getDouble(1),
                    r.getDouble(2), frac(2), frac(3), wi, wj, low(2), low(3)))
                } else Iterator.empty
              case None => Iterator.empty
            }
          }
      }
    val cellsT = WindowedTileJoin.fanOutCells(spark, cells, arity = rank,
      n = n, halfWindow = halfWindow, tileXY = tXY, tilePlane = tPl,
      nx = sizes(0), ny = sizes(1), nz = sizes(2), nu = sizes(3),
      periodicX = periodic)
    val vals = WindowedTileJoin.evaluate(spark, probesT, cellsT,
      arity = rank, method = method, zMethod = zMethod, uMethod = uMethod,
      n = n, tileXY = tXY, tilePlane = tPl,
      xFront = xAxis.front, xStep = xAxis.step,
      yFront = yAxis.front, yStep = yAxis.step,
      xVals = if (periodic) null else xAxis.values,
      yVals = yAxis.values)
    attach(withId, vals, outputCol)
  }

  /** Grid-as-table bilinear interpolation — the big-grid path (SURVEY
    * §1.1 row 3; reference behavior `pybind/geometric/bivariate.hpp:
    * 48-97` over grids the reference memory-maps,
    * `pyinterp/backends/xarray.py:582-688`): the lattice is NEVER
    * collected or broadcast. Axis roles are inferred like `GridLoader`;
    * only the O(nx + ny) distinct axis values reach the driver. Probes
    * outside the axes, or probes with a masked/missing corner cell, yield
    * NaN — the broadcast path's semantics.
    *
    * Accepts regular ascending axes (pure column-arithmetic cell keys),
    * IRREGULAR ascending axes (broadcast axis value arrays and the same
    * `Axis.findIndexes` brackets as the broadcast kernel; the join plan
    * is identical), and a GLOBAL lon-periodic lattice — the single most
    * common huge grid — declared by `xPeriod` (e.g. 360.0): the lattice
    * must cover the full circle (nx·step = period), probe coordinates
    * normalize into the period (`math/axis.hpp:294-333` semantics), the x
    * bracket never rejects, and the seam cell's right corners wrap to
    * lattice column 0.
    *
    * The six grid-as-table entry points are thin wrappers over one
    * rank-generic axis-list path (`cornerTable` / `windowedTable`).
    */
  def bivariateTable(spark: SparkSession, probe: DataFrame, xCol: String,
                     yCol: String, gridTable: DataFrame,
                     valueCol: String = "",
                     outputCol: String = "value",
                     xPeriod: Double = 0.0): DataFrame =
    cornerTable("bivariateTable", spark, probe, Seq(xCol, yCol), gridTable,
      "", "", valueCol, outputCol, xPeriod)

  /** 3-D grid-as-table trilinear interpolation: [[bivariateTable]]'s
    * corner join over the 8 bracketing lattice corners (bilinear in
    * (x, y) × linear in z — the geometric trivariate semantics,
    * `pybind/geometric/trivariate.hpp:46-120`). Same scale contract: the
    * lattice never leaves the cluster.
    */
  def trivariateTable(spark: SparkSession, probe: DataFrame, xCol: String,
                      yCol: String, zCol: String, gridTable: DataFrame,
                      zColName: String = "", valueCol: String = "",
                      outputCol: String = "value",
                      xPeriod: Double = 0.0): DataFrame =
    cornerTable("trivariateTable", spark, probe, Seq(xCol, yCol, zCol),
      gridTable, zColName, "", valueCol, outputCol, xPeriod)

  /** 4-D grid-as-table QUADRILINEAR interpolation: [[bivariateTable]]'s
    * corner join over the 16 bracketing lattice corners (the geometric
    * quadrivariate semantics, `pybind/geometric/quadrivariate.hpp`). The
    * 4th axis column must be named via `uColName`.
    */
  def quadrivariateTable(spark: SparkSession, probe: DataFrame,
                         xCol: String, yCol: String, zCol: String,
                         uCol: String, gridTable: DataFrame,
                         zColName: String = "", uColName: String = "",
                         valueCol: String = "",
                         outputCol: String = "value",
                         xPeriod: Double = 0.0): DataFrame =
    cornerTable("quadrivariateTable", spark, probe,
      Seq(xCol, yCol, zCol, uCol), gridTable, zColName, uColName, valueCol,
      outputCol, xPeriod)

  /** Grid-as-table WINDOWED interpolation (r3 VERDICT item 1): bicubic /
    * spline_bilinear / the separable univariate family over a lattice too
    * large for the broadcast gate — the reference's flagship windowed
    * methods (`math/interpolate/bivariate/bicubic.hpp:89-186`, default of
    * `pyinterp/regular_grid_interpolator.py:45-63`) without ever
    * collecting the grid.
    *
    * Plan ([[WindowedTileJoin]], tile-halo co-partitioning): probes and
    * lattice cells are both keyed by WINDOW TILE and co-grouped in one
    * shuffle each — each cell ships once per tile (+ once more in the
    * (2·halfWindow-1)-cell halo band), NOT once per referencing probe,
    * so shuffle volume is ~1 probe pass + ~1.2 lattice passes instead of
    * the (2·halfWindow)² per-probe stencil fan-out. Per tile the cells
    * fill a dense local block and the SAME core kernels as the broadcast
    * path ([[graft.core.Bicubic]] / [[graft.core.Univariate1D]] /
    * cspline) evaluate origin-sorted probes with a last-window fit cache
    * — so table ≡ broadcast to the last bit. Probes whose window cannot
    * be framed (boundary `undef` semantics) or with a missing/masked
    * stencil cell yield NaN, matching the broadcast kernel.
    *
    * Requires ascending axes of at least 2·halfWindow nodes — regular
    * (affine cell keys, fully codegen) or IRREGULAR (broadcast axis
    * arrays + the broadcast kernel's findIndexes binary search; same
    * tile-halo plan, window nodes read from the value arrays). A GLOBAL
    * lon-periodic lattice is declared by `xPeriod` (e.g. 360.0; requires
    * nx·step = period): probe x normalizes into the period, the x frame
    * never rejects, and windows crossing the seam pull their stencil
    * columns through `floorMod(wi+di, nx)` — the broadcast window's wrap
    * (`math/interpolate/cache_loader.hpp:110-133` semantics). The
    * evaluator then works in UNWRAPPED window coordinates (xs may extend
    * past the axis ends by < halfWindow·step), exactly like the
    * broadcast kernel's monotonic window unwrap.
    */
  def bivariateTableWindowed(spark: SparkSession, probe: DataFrame,
                             xCol: String, yCol: String,
                             gridTable: DataFrame,
                             method: String = "bicubic",
                             halfWindow: Int = 3,
                             valueCol: String = "",
                             outputCol: String = "value",
                             xPeriod: Double = 0.0): DataFrame =
    windowedTable("bivariateTableWindowed", spark, probe,
      Seq(xCol, yCol), gridTable, method, "", "", halfWindow, "", "",
      valueCol, outputCol, xPeriod)

  /** 3-D grid-as-table WINDOWED interpolation: the reference's flagship
    * trivariate semantics — windowed bicubic/spline in the (x, y) plane
    * on the two z-bracketing planes, then linear (or nearest) combine
    * along z (`pybind/windowed/trivariate.hpp:36-113`) — for lattices too
    * large for the broadcast gate. [[bivariateTableWindowed]]'s
    * tile-halo plan extended with the z bracket: probes key by (window
    * tile, z-plane tile), cells ship once per tile (+ xy halo band + one
    * halo plane — replication ~1.2·(1+1/tilePlane), NOT the 72×
    * per-probe stencil fan-out). The linear z combine is v0 + t·(v1 − v0)
    * on BOTH bracketing planes even at t = 0 or 1 — the broadcast
    * kernel's exact op order and NaN propagation. Irregular z takes
    * t = (z − z0)/(z1 − z0) from the axis VALUES. A GLOBAL lon-periodic
    * lattice is declared by `xPeriod` exactly as on
    * [[bivariateTableWindowed]].
    */
  def trivariateTableWindowed(spark: SparkSession, probe: DataFrame,
                              xCol: String, yCol: String, zCol: String,
                              gridTable: DataFrame,
                              method: String = "bicubic",
                              zMethod: String = "linear",
                              halfWindow: Int = 3,
                              zColName: String = "", valueCol: String = "",
                              outputCol: String = "value",
                              xPeriod: Double = 0.0): DataFrame =
    windowedTable("trivariateTableWindowed", spark, probe,
      Seq(xCol, yCol, zCol), gridTable, method, zMethod, "", halfWindow,
      zColName, "", valueCol, outputCol, xPeriod)

  /** 4-D grid-as-table WINDOWED interpolation: windowed bicubic/spline in
    * the (x, y) plane on the FOUR (z, u)-bracketing planes, then bilinear
    * (or nearest per axis) combine across (z, u) — the
    * `pybind/windowed/quadrivariate.hpp` semantics for lattices above the
    * broadcast gate, on the [[WindowedTileJoin]] tile-halo plan (cell
    * replication ~1.2·(1+1/tilePlane)², NOT the 144× per-probe stencil
    * fan-out). The linear combine is the broadcast kernel's nested lerp
    * (u outer, z inner) — bit-identical op order and NaN propagation;
    * nearest snaps per axis and only assembles the snapped plane. A
    * GLOBAL lon-periodic lattice is declared by `xPeriod` exactly as on
    * [[bivariateTableWindowed]].
    */
  def quadrivariateTableWindowed(spark: SparkSession, probe: DataFrame,
                                 xCol: String, yCol: String, zCol: String,
                                 uCol: String, gridTable: DataFrame,
                                 method: String = "bicubic",
                                 zMethod: String = "linear",
                                 uMethod: String = "linear",
                                 halfWindow: Int = 3,
                                 zColName: String = "", uColName: String = "",
                                 valueCol: String = "",
                                 outputCol: String = "value",
                                 xPeriod: Double = 0.0): DataFrame =
    windowedTable("quadrivariateTableWindowed", spark, probe,
      Seq(xCol, yCol, zCol, uCol), gridTable, method, zMethod, uMethod,
      halfWindow, zColName, uColName, valueCol, outputCol, xPeriod)

  /** Univariate interpolation / derivative over a broadcast 1-D grid —
    * the `pyinterp.univariate` / `univariate_derivative` entry points
    * (`regular_grid_interpolator.py` univariate path): the chosen
    * [[graft.core.Univariate1D]] method is fitted ONCE per partition and
    * evaluated per row; `derivative = true` emits the fitted curve's
    * derivative instead of its value.
    */
  def univariate(spark: SparkSession, df: DataFrame, xCol: String,
                 grid: Grid1D, method: String,
                 derivative: Boolean = false,
                 outputCol: String = "value"): DataFrame = {
    val bc = spark.sparkContext.broadcast(grid)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val m = method
    val deriv = derivative
    df.mapPartitions { iter =>
      val g = bc.value
      val interp = graft.core.Univariate1D(m)
      val ok = interp.fit(g.axis.values, g.values)
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val v =
          if (!ok) Double.NaN
          else if (deriv) interp.derivative(x)
          else interp.value(x)
        Row.fromSeq(row.toSeq :+ v)
      }
    }(enc)
  }

  /** Trivariate interpolation: bivariate on the two z-bracketing planes,
    * then linear (or nearest) combine along z
    * (`pybind/geometric/trivariate.hpp:46-120`,
    * `pybind/windowed/trivariate.hpp:36-113`).
    */
  def trivariate(spark: SparkSession, df: DataFrame, xCol: String,
                 yCol: String, zCol: String, grid: Grid3D, method: String,
                 zMethod: String = "linear", halfWindow: Int = 3,
                 boundary: Boundary.Value = Boundary.Undef,
                 outputCol: String = "value"): DataFrame = {
    val bc = spark.sparkContext.broadcast(grid)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val yIdx = df.schema.fieldIndex(yCol)
    val zIdx = df.schema.fieldIndex(zCol)
    val m = method
    val zm = zMethod
    val hw = halfWindow
    val bdy = boundary
    df.mapPartitions { iter =>
      val g = bc.value
      val nz = g.zAxis.size
      // one bivariate kernel per z-plane, built lazily and cached
      val planes = new Array[BivariateKernel](nz)
      def planeKernel(k: Int): BivariateKernel = {
        if (planes(k) == null) {
          val vals = new Array[Double](g.xAxis.size * g.yAxis.size)
          var i = 0
          while (i < g.xAxis.size) {
            var j = 0
            while (j < g.yAxis.size) {
              vals(i * g.yAxis.size + j) = g(i, j, k)
              j += 1
            }
            i += 1
          }
          planes(k) = new BivariateKernel(
            Grid2D(g.xAxis, g.yAxis, vals), m, hw, bdy)
        }
        planes(k)
      }
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val y = row.getDouble(yIdx)
        val z = row.getDouble(zIdx)
        val v = g.zAxis.findIndexes(z) match {
          case None => Double.NaN
          case Some((k0, k1)) =>
            val z0 = g.zAxis(k0)
            val z1 = g.zAxis(k1)
            if (zm == "nearest") {
              val k = if (math.abs(z - z0) <= math.abs(z1 - z)) k0 else k1
              planeKernel(k)(x, y)
            } else {
              val v0 = planeKernel(k0)(x, y)
              val v1 = planeKernel(k1)(x, y)
              val t = if (z1 == z0) 0.0 else (z - z0) / (z1 - z0)
              v0 + t * (v1 - v0)
            }
        }
        Row.fromSeq(row.toSeq :+ v)
      }
    }(enc)
  }
}

/** Quadrivariate: 2 (or 4) bivariate surfaces on the bracketing (z, u)
  * planes, then linear/nearest combine along z and u
  * (`pybind/windowed/quadrivariate.hpp`, `pybind/geometric/
  * quadrivariate.hpp` structure). Companion to
  * [[GridInterpolator.trivariate]].
  */
object QuadrivariateInterpolator {
  def quadrivariate(spark: SparkSession, df: DataFrame, xCol: String,
                    yCol: String, zCol: String, uCol: String, grid: Grid4D,
                    method: String, zMethod: String = "linear",
                    uMethod: String = "linear", halfWindow: Int = 3,
                    boundary: Boundary.Value = Boundary.Undef,
                    outputCol: String = "value"): DataFrame = {
    val bc = spark.sparkContext.broadcast(grid)
    val outSchema = StructType(df.schema.fields :+
      StructField(outputCol, DoubleType, nullable = false))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val xIdx = df.schema.fieldIndex(xCol)
    val yIdx = df.schema.fieldIndex(yCol)
    val zIdx = df.schema.fieldIndex(zCol)
    val uIdx = df.schema.fieldIndex(uCol)
    val m = method
    val zm = zMethod
    val um = uMethod
    val hw = halfWindow
    val bdy = boundary
    df.mapPartitions { iter =>
      val g = bc.value
      // per-(z-plane, u-level) bivariate kernels, built lazily
      val kernels = new java.util.HashMap[(Int, Int), BivariateKernel]()
      def kernel(k: Int, l: Int): BivariateKernel = {
        var kr = kernels.get((k, l))
        if (kr == null) {
          val vals = new Array[Double](g.xAxis.size * g.yAxis.size)
          var i = 0
          while (i < g.xAxis.size) {
            var j = 0
            while (j < g.yAxis.size) {
              vals(i * g.yAxis.size + j) = g(i, j, k, l)
              j += 1
            }
            i += 1
          }
          kr = new BivariateKernel(Grid2D(g.xAxis, g.yAxis, vals), m, hw, bdy)
          kernels.put((k, l), kr)
        }
        kr
      }
      def alongZ(x: Double, y: Double, z: Double, l: Int): Double =
        g.zAxis.findIndexes(z) match {
          case None => Double.NaN
          case Some((k0, k1)) =>
            val z0 = g.zAxis(k0)
            val z1 = g.zAxis(k1)
            if (zm == "nearest") {
              val k = if (math.abs(z - z0) <= math.abs(z1 - z)) k0 else k1
              kernel(k, l)(x, y)
            } else {
              val v0 = kernel(k0, l)(x, y)
              val v1 = kernel(k1, l)(x, y)
              val t = if (z1 == z0) 0.0 else (z - z0) / (z1 - z0)
              v0 + t * (v1 - v0)
            }
        }
      iter.map { row =>
        val x = row.getDouble(xIdx)
        val y = row.getDouble(yIdx)
        val z = row.getDouble(zIdx)
        val u = row.getDouble(uIdx)
        val v = g.uAxis.findIndexes(u) match {
          case None => Double.NaN
          case Some((l0, l1)) =>
            val u0 = g.uAxis(l0)
            val u1 = g.uAxis(l1)
            if (um == "nearest") {
              val l = if (math.abs(u - u0) <= math.abs(u1 - u)) l0 else l1
              alongZ(x, y, z, l)
            } else {
              val v0 = alongZ(x, y, z, l0)
              val v1 = alongZ(x, y, z, l1)
              val t = if (u1 == u0) 0.0 else (u - u0) / (u1 - u0)
              v0 + t * (v1 - v0)
            }
        }
        Row.fromSeq(row.toSeq :+ v)
      }
    }(enc)
  }
}

/** Per-partition bivariate kernel with the geometric / windowed dispatch
  * of `pyinterp/regular_grid_interpolator.py:45-63`. Windowed path keeps
  * a per-instance window cache (reload only when the query leaves the
  * cached window — `math/interpolate/cache.hpp` behavior), so feeding
  * cell-sorted partitions makes consecutive lookups cache hits.
  */
final class BivariateKernel(grid: Grid2D, method: String, halfWindow: Int,
                            boundary: Boundary.Value) extends Serializable {
  private val xAxis = grid.xAxis
  private val yAxis = grid.yAxis

  // window cache state (windowed methods)
  private var cachedXIdx: Array[Int] = null
  private var cachedYIdx: Array[Int] = null
  private var cachedBicubic: Bicubic = null
  private var cachedXs: Array[Double] = null
  private var cachedYs: Array[Double] = null
  private var cachedZ: Array[Array[Double]] = null

  def apply(x: Double, y: Double): Double = method match {
    case "bilinear" | "idw" | "nearest" => geometric(x, y)
    case "bicubic" => windowedBicubic(x, y)
    case "spline_bilinear" => windowedSplineLinear(x, y)
    // windowed separable univariate methods
    // (`regular_grid_interpolator.py:49-63` windowed set)
    case "akima" | "akima_periodic" | "c_spline" | "c_spline_not_a_knot" |
         "c_spline_periodic" | "linear" | "polynomial" | "steffen" =>
      windowedSeparable(x, y)
    case other => throw new IllegalArgumentException(s"method $other")
  }

  @transient private lazy val uniY = graft.core.Univariate1D(method)
  // reused across evaluations: window shapes are constant per kernel
  @transient private var sepTmp: Array[Double] = null
  // per-window cached row fits: the x-direction fits are query-independent,
  // so an unchanged window answers each probe with evaluations + ONE
  // y-direction fit instead of (rows+1) fits (the q_akima_grid hot spot)
  @transient private var sepRowFits: Array[graft.core.Univariate1D] = null
  @transient private var sepRowOk: Array[Boolean] = null
  private var sepFitsValid = false

  /** Separable application of a univariate method: fit along x for each
    * window row, then along y (`math/interpolate/bivariate/spline.hpp`
    * structure generalized to every univariate kernel).
    */
  private def windowedSeparable(x: Double, y: Double): Double = {
    if (!loadWindow(x, y)) return Double.NaN
    val xq = queryX(x)
    val ny = cachedYs.length
    if (sepTmp == null || sepTmp.length != ny)
      sepTmp = new Array[Double](ny)
    if (!sepFitsValid) {
      if (sepRowFits == null || sepRowFits.length != ny) {
        sepRowFits = Array.fill(ny)(graft.core.Univariate1D(method))
        sepRowOk = new Array[Boolean](ny)
      }
      var j = 0
      while (j < ny) {
        // fresh slice per row: fit() retains the array reference
        val colv = new Array[Double](cachedXs.length)
        var i = 0
        while (i < cachedXs.length) { colv(i) = cachedZ(i)(j); i += 1 }
        sepRowOk(j) = sepRowFits(j).fit(cachedXs, colv)
        j += 1
      }
      sepFitsValid = true
    }
    var j = 0
    while (j < ny) {
      if (!sepRowOk(j)) return Double.NaN
      sepTmp(j) = sepRowFits(j).value(xq)
      j += 1
    }
    if (!uniY.fit(cachedYs, sepTmp)) return Double.NaN
    uniY.value(y)
  }

  private def geometric(x: Double, y: Double): Double = {
    val fx = xAxis.findIndexes(x)
    val fy = yAxis.findIndexes(y)
    if (fx.isEmpty || fy.isEmpty) return Double.NaN
    val (i0, i1) = fx.get
    val (j0, j1) = fy.get
    val x0 = xAxis(i0)
    var x1 = xAxis(i1)
    val y0 = yAxis(j0)
    val y1 = yAxis(j1)
    // periodic seam: keep x1 on the +period side of x0
    var xq = xAxis.normalize(x)
    if (xAxis.isPeriodic && x1 < x0) x1 += xAxis.period
    if (xAxis.isPeriodic && xq < x0) xq += xAxis.period
    val q00 = grid(i0, j0)
    val q01 = grid(i0, j1)
    val q10 = grid(i1, j0)
    val q11 = grid(i1, j1)
    method match {
      case "bilinear" => Interpolate.bilinear(xq, y, x0, y0, x1, y1, q00, q01, q10, q11)
      case "idw" => Interpolate.idw4(xq, y, x0, y0, x1, y1, q00, q01, q10, q11)
      case "nearest" => Interpolate.nearest4(xq, y, x0, y0, x1, y1, q00, q01, q10, q11)
    }
  }

  private def loadWindow(x: Double, y: Double): Boolean = {
    val wx = xAxis.window(x, halfWindow, boundary)
    val wy = yAxis.window(y, halfWindow, boundary)
    if (wx.isEmpty || wy.isEmpty) return false
    val xi = wx.get._1
    val yi = wy.get._1
    if (cachedXIdx != null && java.util.Arrays.equals(xi, cachedXIdx) &&
        java.util.Arrays.equals(yi, cachedYIdx)) return true
    val xs = new Array[Double](xi.length)
    var unwrapOffset = 0.0
    var prev = Double.NegativeInfinity
    var i = 0
    while (i < xi.length) {
      var xv = xAxis(xi(i)) + unwrapOffset
      if (xAxis.isPeriodic && xv <= prev) { // wrap across seam
        unwrapOffset += xAxis.period
        xv = xAxis(xi(i)) + unwrapOffset
      }
      xs(i) = xv
      prev = xv
      i += 1
    }
    val ys = yi.map(yAxis(_))
    val z = Array.ofDim[Double](xi.length, yi.length)
    i = 0
    while (i < xi.length) {
      var j = 0
      while (j < yi.length) {
        z(i)(j) = grid(xi(i), yi(j))
        j += 1
      }
      i += 1
    }
    cachedXIdx = xi
    cachedYIdx = yi
    cachedXs = xs
    cachedYs = ys
    cachedZ = z
    cachedBicubic = null
    sepFitsValid = false
    true
  }

  /** Normalize query x into the cached (possibly unwrapped) window. */
  private def queryX(x: Double): Double = {
    if (!xAxis.isPeriodic) return x
    var xq = xAxis.normalize(x)
    if (xq < cachedXs(0)) xq += xAxis.period
    xq
  }

  private def windowedBicubic(x: Double, y: Double): Double = {
    if (!loadWindow(x, y)) return Double.NaN
    if (cachedBicubic == null)
      cachedBicubic = new Bicubic(cachedXs, cachedYs, cachedZ)
    cachedBicubic(queryX(x), y)
  }

  /** Separable spline: cspline along x for each window row, then along y
    * (`math/interpolate/bivariate/spline.hpp` behavior).
    */
  private def windowedSplineLinear(x: Double, y: Double): Double = {
    if (!loadWindow(x, y)) return Double.NaN
    val xq = queryX(x)
    val tmp = new Array[Double](cachedYs.length)
    var j = 0
    while (j < cachedYs.length) {
      val colv = new Array[Double](cachedXs.length)
      var i = 0
      while (i < cachedXs.length) { colv(i) = cachedZ(i)(j); i += 1 }
      tmp(j) = Interpolate.cspline(cachedXs, colv, xq)
      j += 1
    }
    Interpolate.cspline(cachedYs, tmp, y)
  }
}

/** One assembled (2·halfWindow)² window's kernel: the SAME evaluation as
  * [[BivariateKernel]] — lazily-built [[graft.core.Bicubic]], per-row
  * separable [[graft.core.Univariate1D]] fits, or cspline
  * (spline_bilinear) — over a fixed window. The tile-local evaluation
  * stage of [[WindowedTileJoin]] builds one per window (per bracketing
  * z/u plane on the 3-D/4-D paths) from its dense cell block.
  */
private[operators] final class WindowFit(method: String, n: Int,
    xs: Array[Double], ys: Array[Double], z: Array[Array[Double]]) {
  private var bicubic: Bicubic = null
  private var rowFits: Array[graft.core.Univariate1D] = null
  private var rowOk: Array[Boolean] = null
  private var sepFitsValid = false
  private lazy val uniY = graft.core.Univariate1D(method)
  private val sepTmp = new Array[Double](n)

  def eval(x: Double, y: Double): Double = method match {
    case "bicubic" =>
      if (bicubic == null) bicubic = new Bicubic(xs, ys, z)
      bicubic(x, y)
    case "spline_bilinear" => splineLinear(x, y)
    case _ => sepEval(x, y)
  }

  /** Mirror of [[BivariateKernel]].windowedSeparable: fit along x per
    * window row (cached for the window's lifetime), evaluate, fit along y.
    */
  private def sepEval(x: Double, y: Double): Double = {
    if (!sepFitsValid) {
      rowFits = Array.fill(n)(graft.core.Univariate1D(method))
      rowOk = new Array[Boolean](n)
      var j = 0
      while (j < n) {
        val colv = new Array[Double](n)
        var i = 0
        while (i < n) { colv(i) = z(i)(j); i += 1 }
        rowOk(j) = rowFits(j).fit(xs, colv)
        j += 1
      }
      sepFitsValid = true
    }
    var j = 0
    while (j < n) {
      if (!rowOk(j)) return Double.NaN
      sepTmp(j) = rowFits(j).value(x)
      j += 1
    }
    if (!uniY.fit(ys, sepTmp)) return Double.NaN
    uniY.value(y)
  }

  /** Mirror of [[BivariateKernel]].windowedSplineLinear. */
  private def splineLinear(x: Double, y: Double): Double = {
    val tmp = new Array[Double](n)
    var j = 0
    while (j < n) {
      val colv = new Array[Double](n)
      var i = 0
      while (i < n) { colv(i) = z(i)(j); i += 1 }
      tmp(j) = Interpolate.cspline(xs, colv, x)
      j += 1
    }
    Interpolate.cspline(ys, tmp, y)
  }
}
