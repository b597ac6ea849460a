package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Geometry support for lake tables: WKB parsing, per-file extent
  * statistics, and a bbox-intersection predicate the scan planner can turn
  * into catalog file pruning.
  *
  * The lake stores `geometry` columns as WKB blobs (reference
  * src/include/storage/ducklake_geo_stats.hpp:30-32 — extent + geometry
  * type set per column), so everything here works on standard OGC WKB:
  * both endiannesses, ISO type codes (base + 1000·Z + 2000·M) and
  * EWKB-style Z/M/SRID flag bits. Spark has no geometry type, so the
  * user-facing surface is a handful of ST-style column functions; the
  * statistics side is consumed by the lake's insert path.
  */
object GeoWkb {

  /** Mutable running extent — the Scala shape of the reference's
    * DuckLakeColumnGeoStats (ducklake_geo_stats.cpp:16-45). */
  final class Extent {
    var xmin: Double = Double.PositiveInfinity
    var xmax: Double = Double.NegativeInfinity
    var ymin: Double = Double.PositiveInfinity
    var ymax: Double = Double.NegativeInfinity
    var zmin: Double = Double.PositiveInfinity
    var zmax: Double = Double.NegativeInfinity
    var mmin: Double = Double.PositiveInfinity
    var mmax: Double = Double.NegativeInfinity
    val types: scala.collection.mutable.TreeSet[String] =
      scala.collection.mutable.TreeSet.empty[String]
    var hasEmpty: Boolean = false

    def isDefined: Boolean = xmin <= xmax
    def hasZ: Boolean = zmin <= zmax
    def hasM: Boolean = mmin <= mmax

    def addPoint(x: Double, y: Double): Unit = {
      if (x < xmin) xmin = x
      if (x > xmax) xmax = x
      if (y < ymin) ymin = y
      if (y > ymax) ymax = y
    }
    def addZ(z: Double): Unit = {
      if (z < zmin) zmin = z
      if (z > zmax) zmax = z
    }
    def addM(m: Double): Unit = {
      if (m < mmin) mmin = m
      if (m > mmax) mmax = m
    }
    def merge(o: Extent): Unit = {
      if (o.xmin < xmin) xmin = o.xmin
      if (o.xmax > xmax) xmax = o.xmax
      if (o.ymin < ymin) ymin = o.ymin
      if (o.ymax > ymax) ymax = o.ymax
      if (o.zmin < zmin) zmin = o.zmin
      if (o.zmax > zmax) zmax = o.zmax
      if (o.mmin < mmin) mmin = o.mmin
      if (o.mmax > mmax) mmax = o.mmax
      types ++= o.types
      hasEmpty ||= o.hasEmpty
    }
  }

  private val TypeNames = Map(
    1 -> "POINT", 2 -> "LINESTRING", 3 -> "POLYGON", 4 -> "MULTIPOINT",
    5 -> "MULTILINESTRING", 6 -> "MULTIPOLYGON", 7 -> "GEOMETRYCOLLECTION")

  /** Accumulate `wkb`'s coordinates into `acc`; false on malformed input. */
  def accumulate(wkb: Array[Byte], acc: Extent): Boolean =
    try {
      val buf = ByteBuffer.wrap(wkb)
      parseGeom(buf, acc)
      true
    } catch {
      case _: RuntimeException => false
    }

  def extent(wkb: Array[Byte]): Option[Extent] = {
    val e = new Extent
    if (accumulate(wkb, e)) Some(e) else None
  }

  private def parseGeom(buf: ByteBuffer, acc: Extent): Unit = {
    val endian = buf.get()
    buf.order(
      if (endian == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val raw = buf.getInt()
    // EWKB flag bits, then ISO base+1000Z+2000M encoding
    val ewkbZ = (raw & 0x80000000) != 0
    val ewkbM = (raw & 0x40000000) != 0
    val hasSrid = (raw & 0x20000000) != 0
    val iso = raw & 0x1FFFFFFF
    val base = iso % 1000
    val hasZ = ewkbZ || (iso / 1000) == 1 || (iso / 1000) == 3
    val hasM = ewkbM || (iso / 1000) == 2 || (iso / 1000) == 3
    if (hasSrid) buf.getInt() // skip SRID
    val name = TypeNames.getOrElse(base, sys.error(s"wkb type $base"))
    acc.types += name
    val dims = 2 + (if (hasZ) 1 else 0) + (if (hasM) 1 else 0)
    def readPoint(): Unit = {
      val x = buf.getDouble(); val y = buf.getDouble()
      // empty points serialize as NaN coordinates
      if (x.isNaN || y.isNaN) acc.hasEmpty = true
      else {
        acc.addPoint(x, y)
        if (hasZ) { val z = buf.getDouble(); if (!z.isNaN) acc.addZ(z) }
        if (hasM) { val m = buf.getDouble(); if (!m.isNaN) acc.addM(m) }
        return
      }
      var skip = dims - 2
      while (skip > 0) { buf.getDouble(); skip -= 1 }
    }
    def readRing(): Unit = {
      val n = buf.getInt()
      if (n == 0) acc.hasEmpty = true
      var i = 0
      while (i < n) { readPoint(); i += 1 }
    }
    base match {
      case 1 => readPoint()
      case 2 => readRing() // linestring = one coordinate sequence
      case 3 => // polygon: nrings × coordinate sequences
        val rings = buf.getInt()
        if (rings == 0) acc.hasEmpty = true
        var i = 0
        while (i < rings) { readRing(); i += 1 }
      case _ => // multi*/collections: n child geometries, each a full WKB
        val n = buf.getInt()
        if (n == 0) acc.hasEmpty = true
        var i = 0
        while (i < n) { parseGeom(buf, acc); i += 1 }
    }
  }

  // ------------------------------------------------------------- builders

  /** Little-endian WKB for a 2D point (test/demo constructor). */
  def pointWkb(x: Double, y: Double): Array[Byte] = {
    val b = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
    b.array()
  }

  /** Little-endian WKB for a 2D linestring. */
  def lineStringWkb(pts: Seq[(Double, Double)]): Array[Byte] = {
    val b = ByteBuffer.allocate(9 + 16 * pts.size)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(2).putInt(pts.size)
    pts.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
    b.array()
  }

  // -------------------------------------------------------- serialization

  private def jnum(v: Double, low: Boolean): String =
    if (low && v == Double.PositiveInfinity) "null"
    else if (!low && v == Double.NegativeInfinity) "null"
    else v.toString

  /** The reference's extra_stats JSON:
    * `{"bbox": {"xmin": …, …}, "types": […]}`
    * (ducklake_geo_stats.cpp:47-73). */
  def serialize(e: Extent): String = {
    val bbox = s"""{"xmin": ${jnum(e.xmin, low = true)}, "xmax": ${jnum(
        e.xmax, low = false)}, "ymin": ${jnum(e.ymin, low = true)}, "ymax": ${jnum(
        e.ymax, low = false)}, "zmin": ${jnum(e.zmin, low = true)}, "zmax": ${jnum(
        e.zmax, low = false)}, "mmin": ${jnum(e.mmin, low = true)}, "mmax": ${jnum(
        e.mmax, low = false)}}"""
    val types = e.types.map(t => "\"" + t + "\"").mkString("[", ", ", "]")
    s"""{"bbox": $bbox, "types": $types}"""
  }

  private val NumRe =
    """"(xmin|xmax|ymin|ymax|zmin|zmax|mmin|mmax)":\s*(-?[0-9][-+0-9.eE]*)""".r
  private val TypeRe = """"(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|GEOMETRYCOLLECTION)"""".r

  /** Parse [[serialize]]'s output (tolerates nulls / missing fields). */
  def deserialize(s: String): Extent = {
    val e = new Extent
    NumRe.findAllMatchIn(s).foreach { m =>
      val v = m.group(2).toDouble
      m.group(1) match {
        case "xmin" => e.xmin = v
        case "xmax" => e.xmax = v
        case "ymin" => e.ymin = v
        case "ymax" => e.ymax = v
        case "zmin" => e.zmin = v
        case "zmax" => e.zmax = v
        case "mmin" => e.mmin = v
        case "mmax" => e.mmax = v
      }
    }
    TypeRe.findAllMatchIn(s).foreach(m => e.types += m.group(1))
    e
  }

  /** XY-plane bbox intersection (pruning predicate). An undefined extent
    * (all-empty file) intersects nothing. */
  def intersects(e: Extent, xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Boolean =
    e.isDefined && e.xmin <= xmax && xmin <= e.xmax &&
      e.ymin <= ymax && ymin <= e.ymax
}

/** Per-row extent struct for the stats-collection aggregation: parses the
  * WKB once and exposes the bbox fields for plain min/max aggregates.
  * Write-path only (one evaluation per row per insert), so an interpreted
  * expression is the right cost point — the query hot path never sees it. */
case class GeoExtentStruct(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = GeoExtentStruct.schema
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    GeoWkb.extent(bytes) match {
      case None => null
      case Some(e) => GeoExtentStruct.toRow(e)
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Merged extent over an ARRAY of WKB blobs — the per-row stats shape for
  * geometry nested under a list/map (reference geo stats over shredded
  * nested columns, ducklake_geo_stats.cpp). NULL / unparsable elements are
  * skipped; a row with no parsable geometry yields NULL, matching the
  * scalar [[GeoExtentStruct]]. Write-path only, like the scalar form. */
case class GeoExtentMergeArray(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = GeoExtentStruct.schema
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new GeoWkb.Extent
    var any = false
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        // fresh extent per element: a malformed blob must not leak
        // partially-parsed coordinates into the merged bbox
        GeoWkb.extent(arr.getBinary(i)).foreach { e =>
          acc.merge(e); any = true
        }
      }
      i += 1
    }
    if (any) GeoExtentStruct.toRow(acc) else null
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GeoExtentStruct {
  /** extent → stats-struct row (shared by the scalar and array forms) */
  private[functions] def toRow(e: GeoWkb.Extent): InternalRow = {
    def f(v: Double, low: Boolean): Any =
      if (low && v == Double.PositiveInfinity) null
      else if (!low && v == Double.NegativeInfinity) null
      else v
    InternalRow(
      f(e.xmin, true), f(e.xmax, false), f(e.ymin, true),
      f(e.ymax, false), f(e.zmin, true), f(e.zmax, false),
      f(e.mmin, true), f(e.mmax, false),
      new GenericArrayData(
        e.types.toArray.map(t => UTF8String.fromString(t)): Array[Any]),
      e.hasEmpty)
  }
  val schema: StructType = StructType(Seq(
    StructField("xmin", DoubleType), StructField("xmax", DoubleType),
    StructField("ymin", DoubleType), StructField("ymax", DoubleType),
    StructField("zmin", DoubleType), StructField("zmax", DoubleType),
    StructField("mmin", DoubleType), StructField("mmax", DoubleType),
    StructField("gtypes", ArrayType(StringType)),
    StructField("has_empty", BooleanType)))
}

/** st_point(x, y): WKB point blob. */
/** Hilbert space-filling-curve index (reference
  * merge_adjacent_sorted_spatial_hilbert.test sorts compaction output by
  * `st_hilbert(st_point(i, j))`). Two forms:
  *
  *   st_hilbert(geom)                               — WKB, global mapping
  *   st_hilbert(geom, xmin, ymin, xmax, ymax)       — bounds-scaled
  *
  * Each coordinate maps to a 16-bit grid cell — with bounds by linear
  * scaling, without by the order-preserving IEEE-754 bits trick (flip
  * sign bit for positives, all bits for negatives; preserves < on all
  * doubles incl. negatives) — then the standard d2xy walk interleaves
  * them into one 32-bit curve position. Sorting by it clusters
  * 2-D-nearby rows into the same files, which is what makes the per-file
  * bbox stats prunable: after a Hilbert-sorted compaction each file
  * covers a compact region instead of a slice of everything. */
object Hilbert2D {
  val Side = 1 << 16

  /** order-preserving double → [0, 2^16) */
  def gridGlobal(v: Double): Int = {
    val bits = java.lang.Double.doubleToLongBits(v)
    val key = if (bits >= 0) bits ^ Long.MinValue else ~bits
    (key >>> 48).toInt // top 16 bits of the order-preserving key
  }

  def gridScaled(v: Double, lo: Double, hi: Double): Int =
    if (hi <= lo) 0
    else {
      val f = (v - lo) / (hi - lo)
      val c = (f * (Side - 1)).toInt
      math.max(0, math.min(Side - 1, c))
    }

  /** standard Hilbert xy→d walk on a Side×Side grid */
  def xy2d(xi: Int, yi: Int): Long = {
    var x = xi; var y = yi; var d = 0L
    var s = Side / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate quadrant
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

case class StHilbert(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.size == 1 || children.size == 5,
    "st_hilbert(geom) or st_hilbert(geom, xmin, ymin, xmax, ymax)")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val g = children.head.eval(input)
    if (g == null) return null
    GeoWkb.extent(g.asInstanceOf[Array[Byte]]) match {
      case Some(e) =>
        // non-point geometries index by their bbox center, like the
        // spatial extension's geometry overload
        val cx = (e.xmin + e.xmax) / 2
        val cy = (e.ymin + e.ymax) / 2
        if (children.size == 5) {
          val b = children.tail.map(_.eval(input))
          if (b.contains(null)) return null
          val Seq(xmin, ymin, xmax, ymax) =
            b.map(v => v.asInstanceOf[Number].doubleValue())
          Hilbert2D.xy2d(Hilbert2D.gridScaled(cx, xmin, xmax),
            Hilbert2D.gridScaled(cy, ymin, ymax))
        } else
          Hilbert2D.xy2d(Hilbert2D.gridGlobal(cx), Hilbert2D.gridGlobal(cy))
      case None => null
    }
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = copy(children = cs)
}

case class StPoint(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(x: Any, y: Any): Any =
    GeoWkb.pointWkb(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** st_bbox_intersects(geom, xmin, ymin, xmax, ymax): does the geometry's
  * bounding box intersect the query window? Row-level semantics here; the
  * lake's scan planner additionally recognizes this predicate (with
  * literal bounds) and prunes whole files whose catalog geo stats are
  * disjoint from the window — the Spark analog of the reference pruning
  * on DuckLakeColumnGeoStats. */
case class StBboxIntersects(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.size == 5, "st_bbox_intersects(geom, xmin, ymin, xmax, ymax)")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val g = children.head.eval(input)
    if (g == null) return null
    val bounds = children.tail.map(_.eval(input))
    if (bounds.contains(null)) return null
    val Seq(xmin, ymin, xmax, ymax) =
      bounds.map(v => v.asInstanceOf[Number].doubleValue())
    GeoWkb.extent(g.asInstanceOf[Array[Byte]]) match {
      case Some(e) => GeoWkb.intersects(e, xmin, ymin, xmax, ymax)
      case None => null
    }
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = copy(children = cs)
}

/** Shared geo-stats aggregation pieces of the lake's per-file stats
  * (evaluated in the writing task, or over a file read back): 8 extent min/max
  * aggregates + type set + empty flag over a pre-projected
  * [[GeoExtentStruct]] column, and the row-side extraction back into the
  * serialized extent JSON. */
object GeoStatsAgg {
  import org.apache.spark.sql.functions._

  /** Aggregate columns over extent-struct column `e`, suffixed `_tag`. */
  def aggs(e: Column, tag: String): Seq[Column] =
    Seq("xmin", "ymin", "zmin", "mmin").map(f =>
      min(e.getField(f)).as(s"g${f}_$tag")) ++
    Seq("xmax", "ymax", "zmax", "mmax").map(f =>
      max(e.getField(f)).as(s"g${f}_$tag")) ++
    Seq(
      array_distinct(flatten(collect_set(e.getField("gtypes"))))
        .as(s"gtypes_$tag"),
      max(e.getField("has_empty").cast("int")).as(s"gempty_$tag"))

  /** Rebuild the merged extent from an aggregated row → extra_stats JSON
    * (None when the file had no parsable geometries). */
  def fromRow(row: org.apache.spark.sql.Row, tag: String): Option[String] = {
    val e = new GeoWkb.Extent
    def d(n: String): Double = row.getAs[Any](n) match {
      case null => Double.NaN
      case v: Number => v.doubleValue()
    }
    def set(v: Double, f: Double => Unit): Unit = if (!v.isNaN) f(v)
    set(d(s"gxmin_$tag"), e.xmin = _)
    set(d(s"gxmax_$tag"), e.xmax = _)
    set(d(s"gymin_$tag"), e.ymin = _)
    set(d(s"gymax_$tag"), e.ymax = _)
    set(d(s"gzmin_$tag"), e.zmin = _)
    set(d(s"gzmax_$tag"), e.zmax = _)
    set(d(s"gmmin_$tag"), e.mmin = _)
    set(d(s"gmmax_$tag"), e.mmax = _)
    Option(row.getAs[scala.collection.Seq[String]](s"gtypes_$tag"))
      .foreach(ts => e.types ++= ts)
    Option(row.getAs[Any](s"gempty_$tag")).foreach(v =>
      e.hasEmpty = v.asInstanceOf[Number].intValue() > 0)
    if (e.isDefined || e.types.nonEmpty) Some(GeoWkb.serialize(e)) else None
  }
}

object GeoFunctions {
  /** WKB point from x/y columns. */
  def stPoint(x: Column, y: Column): Column =
    ColumnBridge.column(StPoint(
      cast(ColumnBridge.expr(x)), cast(ColumnBridge.expr(y))))

  /** Hilbert curve index of a geometry (sort key for spatial
    * clustering). */
  def stHilbert(g: Column): Column =
    ColumnBridge.column(StHilbert(Seq(ColumnBridge.expr(g))))
  def stHilbert(g: Column, xmin: Column, ymin: Column,
      xmax: Column, ymax: Column): Column =
    ColumnBridge.column(StHilbert(
      ColumnBridge.expr(g) +: Seq(xmin, ymin, xmax, ymax)
        .map(c => cast(ColumnBridge.expr(c)))))

  /** Bounding-box intersection predicate (file-prunable with literal
    * bounds). */
  def stBboxIntersects(g: Column, xmin: Column, ymin: Column,
      xmax: Column, ymax: Column): Column =
    ColumnBridge.column(StBboxIntersects(
      ColumnBridge.expr(g) +: Seq(xmin, ymin, xmax, ymax)
        .map(c => cast(ColumnBridge.expr(c)))))

  /** Per-row extent struct (stats collection). */
  private[graft] def geoExtent(g: Column): Column =
    ColumnBridge.column(GeoExtentStruct(ColumnBridge.expr(g)))

  /** Per-row merged extent over an array of WKB blobs (stats for
    * geometry nested under list/map). */
  private[graft] def geoExtentMerge(g: Column): Column =
    ColumnBridge.column(GeoExtentMergeArray(ColumnBridge.expr(g)))

  private def cast(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e, DoubleType)
}
