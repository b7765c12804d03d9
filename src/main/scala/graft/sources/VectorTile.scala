package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S13 — Mapbox Vector Tile (MVT 2.1, public spec) sink: the reference
  * shells out to tippecanoe for this step (`indicators.sh:109`); here the
  * tile encoding is native, closing the last §2 row that stayed external.
  *
  * The container is protobuf; the wire format is hand-rolled below
  * (varint / zigzag / length-delimited — the whole of what MVT needs), so
  * there is no protobuf library dependency.
  *
  * Two tiers:
  *  - [[encodeTile]]/[[decodeTile]]: one tile from features already in
  *    tile coordinates (integer 0..extent) — the deterministic kernel the
  *    oracle gate replays.
  *  - [[writeTiles]]: the one DISTRIBUTED sink, for points, lines and
  *    polygons with holes — features carry lon/lat parts, the plan
  *    explodes each to the tiles it touches, clips it per tile, groups by
  *    the (z, x, y) tile key, and each task encodes + writes its tiles
  *    executor-side. One shuffle on the tile key, tiles never touch the
  *    driver — the tippecanoe replacement shape at 100 TB.
  */
object VectorTile {

  case class Feature(
      id: Long,
      geomType: Int, // 1 point, 2 linestring, 3 polygon
      // one inner Seq per part (ring / line / multipoint run), tile coords
      geometry: Seq[Seq[(Int, Int)]],
      attrs: Map[String, String])

  case class Layer(name: String, extent: Int, features: Seq[Feature])

  // ---------------------------------------------------------- protobuf
  private final class PbWriter {
    private val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write((x & 0x7f).toInt)
    }
    def key(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def bytes(field: Int, b: Array[Byte]): Unit = { key(field, 2); varint(b.length); out.write(b, 0, b.length) }
    def string(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    def uint(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    def toArray: Array[Byte] = out.toByteArray
  }

  private def zigzag(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
  private def unzigzag(v: Long): Int = ((v >>> 1) ^ -(v & 1)).toInt

  /** Geometry command stream (MVT §4.3): MoveTo(1)/LineTo(2)/ClosePath(7)
    * with zigzag deltas; cursor persists across parts.
    */
  private def geometryCommands(geomType: Int, parts: Seq[Seq[(Int, Int)]]): Array[Long] = {
    val cmds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cx = 0
    var cy = 0
    def delta(p: (Int, Int)): Unit = {
      cmds += zigzag(p._1 - cx); cmds += zigzag(p._2 - cy)
      cx = p._1; cy = p._2
    }
    geomType match {
      case 1 => // points: ONE MoveTo with count = n
        cmds += ((parts.map(_.size).sum.toLong << 3) | 1)
        parts.flatten.foreach(delta)
      case 2 | 3 =>
        parts.foreach { part =>
          require(part.size >= 2, "line/ring part needs >= 2 points")
          cmds += ((1L << 3) | 1) // MoveTo ×1
          delta(part.head)
          cmds += (((part.size - 1).toLong << 3) | 2) // LineTo ×(n−1)
          part.tail.foreach(delta)
          if (geomType == 3) cmds += ((1L << 3) | 7) // ClosePath
        }
      case t => throw new IllegalArgumentException(s"bad MVT geometry type $t")
    }
    cmds.toArray
  }

  /** Encode one tile (protobuf Tile message: repeated Layer field 3). */
  def encodeTile(layers: Seq[Layer]): Array[Byte] = {
    val tile = new PbWriter
    layers.foreach { layer =>
      // keys/values dedup: MVT interns attribute keys and values per layer
      val keys = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      val values = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      layer.features.foreach(_.attrs.toSeq.sortBy(_._1).foreach { case (k, v) =>
        require(k != null && v != null, "MVT attributes cannot be null — drop the key instead")
        keys.getOrElseUpdate(k, keys.size)
        values.getOrElseUpdate(v, values.size)
      })
      val lw = new PbWriter
      lw.uint(15, 2) // version
      lw.string(1, layer.name)
      layer.features.foreach { f =>
        val fw = new PbWriter
        fw.uint(1, f.id)
        val tags = f.attrs.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          Seq(keys(k).toLong, values(v).toLong)
        }
        if (tags.nonEmpty) {
          val tw = new PbWriter
          tags.foreach(tw.varint)
          fw.bytes(2, tw.toArray)
        }
        fw.uint(3, f.geomType.toLong)
        val gw = new PbWriter
        geometryCommands(f.geomType, f.geometry).foreach(gw.varint)
        fw.bytes(4, gw.toArray)
        lw.bytes(2, fw.toArray)
      }
      keys.keys.foreach(lw.string(3, _))
      values.keys.foreach { v => // Value message, string_value field 1
        val vw = new PbWriter
        vw.string(1, v)
        lw.bytes(4, vw.toArray)
      }
      lw.uint(5, layer.extent.toLong)
      tile.bytes(3, lw.toArray)
    }
    tile.toArray
  }

  // ---------------------------------------------------------- decoder
  private final class PbReader(b: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var x = 0L
      var s = 0
      var more = true
      while (more) {
        val v = b(pos) & 0xff
        pos += 1
        x |= (v & 0x7fL) << s
        s += 7
        more = (v & 0x80) != 0
      }
      x
    }
    def keyField(): (Int, Int) = { val k = varint(); ((k >>> 3).toInt, (k & 7).toInt) }
    def sub(): PbReader = { val len = varint().toInt; val r = new PbReader(b, pos, pos + len); pos += len; r }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 2 => val len = varint().toInt; pos += len
      case 5 => pos += 4
      case 1 => pos += 8
    }
    def utf8(): String = { val len = varint().toInt; val s = new String(b, pos, len, "UTF-8"); pos += len; s }
  }

  /** Decode a tile produced by [[encodeTile]] (and any spec-conformant
    * writer with string attribute values) — the read half of the
    * round-trip gate.
    */
  def decodeTile(bytes: Array[Byte]): Seq[Layer] = {
    val layers = scala.collection.mutable.ArrayBuffer.empty[Layer]
    val r = new PbReader(bytes, 0, bytes.length)
    while (r.hasNext) {
      val (f, w) = r.keyField()
      if (f == 3 && w == 2) {
        val lr = r.sub()
        var name = ""
        var extent = 4096
        val keys = scala.collection.mutable.ArrayBuffer.empty[String]
        val values = scala.collection.mutable.ArrayBuffer.empty[String]
        val rawFeatures = scala.collection.mutable.ArrayBuffer.empty[PbReader]
        while (lr.hasNext) {
          val (lf, lw) = lr.keyField()
          (lf, lw) match {
            case (1, 2) => name = lr.utf8()
            case (2, 2) => rawFeatures += lr.sub()
            case (3, 2) => keys += lr.utf8()
            case (4, 2) =>
              val vr = lr.sub()
              var sv = ""
              while (vr.hasNext) {
                val (vf, vw) = vr.keyField()
                if (vf == 1 && vw == 2) sv = vr.utf8() else vr.skip(vw)
              }
              values += sv
            case (5, 0) => extent = lr.varint().toInt
            case (_, lwv) => lr.skip(lwv)
          }
        }
        val feats = rawFeatures.map { fr =>
          var id = 0L
          var gt = 0
          var tags = Array.empty[Long]
          var cmds = Array.empty[Long]
          while (fr.hasNext) {
            val (ff, fw) = fr.keyField()
            (ff, fw) match {
              case (1, 0) => id = fr.varint()
              case (2, 2) =>
                val tr = fr.sub()
                val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
                while (tr.hasNext) buf += tr.varint()
                tags = buf.toArray
              case (3, 0) => gt = fr.varint().toInt
              case (4, 2) =>
                val gr = fr.sub()
                val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
                while (gr.hasNext) buf += gr.varint()
                cmds = buf.toArray
              case (_, fwv) => fr.skip(fwv)
            }
          }
          val attrs = tags.grouped(2).collect {
            case Array(k, v) => keys(k.toInt) -> values(v.toInt)
          }.toMap
          // replay the command stream back to parts
          val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[(Int, Int)]]
          var part = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var cx = 0
          var cy = 0
          var i = 0
          while (i < cmds.length) {
            val cmd = (cmds(i) & 7).toInt
            val count = (cmds(i) >>> 3).toInt
            i += 1
            cmd match {
              case 1 => // MoveTo starts a new part (except the point-run form)
                var c = 0
                while (c < count) {
                  if (part.nonEmpty && gt != 1) { parts += part.toSeq; part = scala.collection.mutable.ArrayBuffer.empty }
                  cx += unzigzag(cmds(i)); cy += unzigzag(cmds(i + 1)); i += 2
                  part += ((cx, cy))
                  c += 1
                }
              case 2 =>
                var c = 0
                while (c < count) {
                  cx += unzigzag(cmds(i)); cy += unzigzag(cmds(i + 1)); i += 2
                  part += ((cx, cy))
                  c += 1
                }
              case 7 => // ClosePath: ring ends
                parts += part.toSeq; part = scala.collection.mutable.ArrayBuffer.empty
              case other => throw new IllegalArgumentException(s"bad MVT command $other")
            }
          }
          if (part.nonEmpty) parts += part.toSeq
          Feature(id, gt, parts.toSeq, attrs)
        }
        layers += Layer(name, extent, feats.toSeq)
      } else r.skip(w)
    }
    layers.toSeq
  }

  // ---------------------------------------------------------- Spark sink
  /** WebMercator lon/lat → global pixel position at `zoom` (extent units
    * per tile). Shared by the plan-side column math and the spec anchors.
    */
  def mercator(lon: Double, lat: Double, zoom: Int, extent: Int): (Double, Double) = {
    val n = (1L << zoom).toDouble
    val wx = (lon + 180.0) / 360.0 * n
    val latRad = math.toRadians(lat)
    val wy = (1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi) / 2.0 * n
    (wx * extent, wy * extent)
  }

  // ------------------------------------------------------------ clipping
  /** Liang–Barsky parametric clip of segment (ax,ay)→(bx,by) to the rect
    * [x0,x1]×[y0,y1]. None if fully outside. Public classic algorithm.
    */
  def clipSegment(
      ax: Double, ay: Double, bx: Double, by: Double,
      x0: Double, y0: Double, x1: Double, y1: Double)
    : Option[((Double, Double), (Double, Double))] = {
    val dx = bx - ax
    val dy = by - ay
    var t0 = 0.0
    var t1 = 1.0
    def edge(p: Double, q: Double): Boolean = {
      if (p == 0.0) q >= 0
      else {
        val r = q / p
        if (p < 0) { if (r > t1) return false; if (r > t0) t0 = r }
        else { if (r < t0) return false; if (r < t1) t1 = r }
        true
      }
    }
    if (edge(-dx, ax - x0) && edge(dx, x1 - ax) && edge(-dy, ay - y0) && edge(dy, y1 - ay) && t0 <= t1)
      Some(((ax + t0 * dx, ay + t0 * dy), (ax + t1 * dx, ay + t1 * dy)))
    else None
  }

  /** Clip a polyline to a rect: surviving segments stitch into runs (a
    * line leaving and re-entering the rect becomes multiple parts, the
    * MVT multi-linestring shape).
    */
  def clipPolyline(
      pts: Seq[(Double, Double)],
      x0: Double, y0: Double, x1: Double, y1: Double): Seq[Seq[(Double, Double)]] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[(Double, Double)]]
    var run = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    pts.sliding(2).foreach {
      case Seq((ax, ay), (bx, by)) =>
        clipSegment(ax, ay, bx, by, x0, y0, x1, y1) match {
          case Some((p, q)) =>
            if (run.isEmpty) run += p
            else if (run.last != p) { // segment re-enters: break the run
              if (run.size >= 2) parts += run.toSeq
              run = scala.collection.mutable.ArrayBuffer(p)
            }
            run += q
          case None =>
            if (run.size >= 2) parts += run.toSeq
            run = scala.collection.mutable.ArrayBuffer.empty
        }
      case _ =>
    }
    if (run.size >= 2) parts += run.toSeq
    parts.toSeq
  }

  /** Twice the shoelace (surveyor's formula) signed area of a ring in
    * tile coordinates. MVT 2.1 §4.3.4.4 defines ring roles by exactly
    * this sign: an EXTERIOR ring has positive area (clockwise on screen,
    * where the tile Y axis points down), an interior ring negative.
    * Long arithmetic: extent-scale coords (≤ 2^13) keep each cross term
    * under 2^27, so even pathological many-vertex rings cannot overflow.
    */
  def signedArea2(ring: Seq[(Int, Int)]): Long = {
    // single iterator walk (rings arrive as Lists from the clip fold;
    // indexed access would be quadratic), closing edge handled last
    if (ring.isEmpty) return 0L
    var s = 0L
    val head = ring.head
    var prev = head
    val it = ring.iterator.drop(1)
    while (it.hasNext) {
      val p = it.next()
      s += prev._1.toLong * p._2 - p._1.toLong * prev._2
      prev = p
    }
    s + (prev._1.toLong * head._2 - head._1.toLong * prev._2)
  }

  /** Normalize a ring's winding to the MVT role contract: `exterior`
    * rings must have positive signed area, interior negative. A ring on
    * the wrong side is reversed CYCLICALLY (same start vertex, tail
    * reversed) so a correctly-wound ring and its reversed twin normalize
    * to byte-identical command streams. Zero-area (degenerate) rings
    * pass through unchanged — the encoder's size guard handles them.
    */
  def normalizeWinding(ring: Seq[(Int, Int)], exterior: Boolean = true): Seq[(Int, Int)] = {
    val a = signedArea2(ring)
    if (a == 0L || (a > 0L) == exterior) ring
    else ring.head +: ring.tail.reverse
  }

  /** Shift a clipped part to tile-relative integer coords and drop
    * consecutive duplicates created by the rounding.
    */
  private def roundAndDedupe(part: Seq[(Double, Double)], tx: Long, ty: Long): List[(Int, Int)] =
    part
      .map(p => ((p._1 - tx * Extent).round.toInt, (p._2 - ty * Extent).round.toInt))
      .foldLeft(List.empty[(Int, Int)]) { (acc, p) =>
        if (acc.nonEmpty && acc.head == p) acc else p :: acc
      }
      .reverse

  /** Sutherland–Hodgman ring clip to a rect (public classic algorithm).
    * Returns the clipped ring (possibly empty); consecutive duplicates
    * are collapsed.
    */
  def clipRing(
      ring: Seq[(Double, Double)],
      x0: Double, y0: Double, x1: Double, y1: Double): Seq[(Double, Double)] = {
    type P = (Double, Double)
    def clipEdge(pts: Seq[P], inside: P => Boolean, cross: (P, P) => P): Seq[P] =
      if (pts.isEmpty) pts
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[P]
        var prev = pts.last
        pts.foreach { cur =>
          val curIn = inside(cur)
          val prevIn = inside(prev)
          if (curIn) {
            if (!prevIn) out += cross(prev, cur)
            out += cur
          } else if (prevIn) out += cross(prev, cur)
          prev = cur
        }
        out.toSeq
      }
    def atX(x: Double)(a: P, b: P): P = (x, a._2 + (b._2 - a._2) * (x - a._1) / (b._1 - a._1))
    def atY(y: Double)(a: P, b: P): P = (a._1 + (b._1 - a._1) * (y - a._2) / (b._2 - a._2), y)
    var r: Seq[P] = ring
    r = clipEdge(r, _._1 >= x0, atX(x0))
    r = clipEdge(r, _._1 <= x1, atX(x1))
    r = clipEdge(r, _._2 >= y0, atY(y0))
    r = clipEdge(r, _._2 <= y1, atY(y1))
    // collapse consecutive duplicates (incl. wraparound)
    val dedup = r.foldLeft(scala.collection.mutable.ArrayBuffer.empty[P]) { (acc, p) =>
      if (acc.isEmpty || acc.last != p) acc += p else acc
    }
    while (dedup.size > 1 && dedup.head == dedup.last) dedup.remove(dedup.size - 1)
    dedup.toSeq
  }

  /** Every sink tile's one layer: its name and MVT's default extent. */
  private val LayerName = "layer"
  private val Extent = 4096

  /** One feature's fragments by tile key (`tx · 2^zoom + ty`), in
    * tile-relative integer coords. Null and short vertices drop; the rest
    * project through [[mercator]]. A point lands in the one tile its
    * position clamps to, so lon 180 and |lat| > 85.05 reach an edge tile.
    * A line or ring explodes to every tile that the bbox of its vertices
    * ± `buffer` px touches and clips to that tile's rect widened by
    * `buffer` (the MVT rendering margin): [[clipPolyline]] per line part,
    * [[clipRing]] per ring. After rounding a line part needs 2 points and
    * a ring 3, or it drops — the tile simply has no fragment of it. Ring 0
    * is the exterior: a tile where it drops gets no fragment at all, and
    * winding normalizes per MVT §4.3.4.4, exterior positive, holes
    * negative (holes lie inside the exterior, so the bbox is the
    * exterior's).
    */
  private def fragments(geomType: Int, parts: Seq[Seq[Seq[Double]]], zoom: Int, buffer: Int)
    : Seq[(Long, Seq[Seq[(Int, Int)]])] = {
    val n = 1L << zoom
    val pix = Option(parts).getOrElse(Seq.empty).map(part =>
      Option(part).getOrElse(Seq.empty)
        .filter(c => c != null && c.size >= 2)
        .map(c => mercator(c(0), c(1), zoom, Extent)))
    val all = pix.flatten
    if (all.isEmpty || (geomType == 3 && pix.head.size < 3)) Seq.empty
    else {
      def tile(v: Double): Long = math.floor(v / Extent).toLong
      val cells: Seq[(Long, Long, Seq[Seq[(Double, Double)]])] =
        if (geomType == 1) {
          def clamped(v: Double): Long = math.min(n - 1, math.max(0L, tile(v)))
          all.groupBy(p => (clamped(p._1), clamped(p._2))).toSeq
            .map { case ((tx, ty), pts) => (tx, ty, pts.map(Seq(_))) }
        } else {
          val xs = all.map(_._1); val ys = all.map(_._2)
          for {
            tx <- math.max(0L, tile(xs.min - buffer)) to math.min(n - 1, tile(xs.max + buffer))
            ty <- math.max(0L, tile(ys.min - buffer)) to math.min(n - 1, tile(ys.max + buffer))
            x0 = tx * Extent.toDouble - buffer
            y0 = ty * Extent.toDouble - buffer
            x1 = (tx + 1) * Extent.toDouble + buffer
            y1 = (ty + 1) * Extent.toDouble + buffer
          } yield (tx, ty,
            if (geomType == 2) pix.flatMap(clipPolyline(_, x0, y0, x1, y1))
            else pix.map(clipRing(_, x0, y0, x1, y1)))
        }
      cells.flatMap { case (tx, ty, clipped) =>
        val rounded = clipped.map(roundAndDedupe(_, tx, ty))
        val kept =
          if (geomType != 3) rounded.filter(_.size >= geomType)
          else if (rounded.head.size < 3) Seq.empty
          else normalizeWinding(rounded.head) +:
            rounded.tail.filter(_.size >= 3).map(normalizeWinding(_, exterior = false))
        if (kept.isEmpty) None else Some((tx * n + ty, kept))
      }
    }
  }

  /** The DISTRIBUTED tile sink: `df(idCol, partsCol, attrCols…)` → one
    * `{z}/{x}/{y}.mvt` per occupied tile under `dir`. `partsCol` is
    * `array<array<array<double>>>` of [lon, lat] vertices per part, MVT's
    * own part model ([[Feature]]`.geometry`): `geomType` 1 is a point, one
    * part holding one vertex; 2 a line of one or more parts; 3 a polygon,
    * ring 0 its exterior and any further rings its holes. Each row
    * explodes to its per-tile [[fragments]] (`buffer` applies to lines
    * and rings); one shuffle on the tile key, then each task encodes its
    * tiles (features by id, null attribute values dropped) and writes
    * them — no driver collect, no external tool.
    */
  def writeTiles(
      df: DataFrame,
      idCol: String,
      geomType: Int,
      partsCol: String,
      attrCols: Seq[String],
      zoom: Int,
      dir: String,
      buffer: Int = 0): Unit = {
    require(geomType >= 1 && geomType <= 3,
      s"geomType must be 1 (point), 2 (line) or 3 (polygon), got $geomType")
    val spark = df.sparkSession
    import spark.implicits._
    val n = 1L << zoom
    df.select(
        col(idCol).cast("long").as("id"),
        col(partsCol).as("parts"),
        map(attrCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*).as("attrs"))
      .as[(Long, Seq[Seq[Seq[Double]]], Map[String, String])]
      .flatMap { case (id, parts, attrs) =>
        // a null attr value (a null source column cast to string) has no
        // MVT representation: an absent key, not an executor NPE in encodeTile
        val clean = attrs.filter(_._2 != null)
        fragments(geomType, parts, zoom, buffer).map { case (key, frag) => (key, id, frag, clean) }
      }
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val feats = it.map { case (_, id, frag, attrs) =>
          Feature(id, geomType, frag, attrs)
        }.toSeq.sortBy(_.id)
        (key, encodeTile(Seq(Layer(LayerName, Extent, feats))))
      }
      .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
        it.foreach { case (key, bytes) =>
          val p = java.nio.file.Paths.get(dir, zoom.toString, (key / n).toString, s"${key % n}.mvt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, bytes)
        }
      }
  }
}
