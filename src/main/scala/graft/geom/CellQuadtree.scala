package graft.geom

import scala.collection.mutable

/** Label counts per non-empty cell at one level: `cells` sorted
  * ascending (Morton order), `counts` aligned with them, plus the labels'
  * bounding box. The input of the kNN count quadtree.
  */
final case class CellHistogram(level: Int, cells: Array[Long], counts: Array[Long],
                               minX: Double, minY: Double, maxX: Double, maxY: Double) {
  def total: Long = counts.sum

  /** The same counts rolled up to the coarser level `to`. A parent is a
    * monotone map on same-level Morton codes, so the sorted cells stay
    * sorted and equal parents are adjacent: one linear pass.
    */
  def coarsen(to: Int): CellHistogram = {
    require(to >= 0 && to <= level, s"cannot coarsen level $level to $to")
    if (to == level) return this
    val d = level - to
    val outC = new Array[Long](cells.length)
    val outN = new Array[Long](cells.length)
    var n = 0
    var i = 0
    while (i < cells.length) {
      val c = CellIndex.pack(CellIndex.ixOfCell(cells(i)) >> d,
        CellIndex.iyOfCell(cells(i)) >> d, to)
      if (n > 0 && outC(n - 1) == c) outN(n - 1) += counts(i)
      else { outC(n) = c; outN(n) = counts(i); n += 1 }
      i += 1
    }
    copy(level = to, cells = java.util.Arrays.copyOf(outC, n),
      counts = java.util.Arrays.copyOf(outN, n))
  }
}

object CellHistogram {

  /** Histogram size cap: at most this many non-empty cells are ever held,
    * on an executor or on the driver. Over it, the histogram coarsens.
    */
  final val MaxCells: Int = 1 << 20

  def empty(level: Int): CellHistogram =
    CellHistogram(level, Array.emptyLongArray, Array.emptyLongArray,
      Double.PositiveInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NegativeInfinity)

  /** Streaming builder over one partition's labels: counts per cell at
    * `level`, one level coarser whenever more than `maxCells` cells are
    * occupied.
    */
  final class Builder(level0: Int, maxCells: Int = MaxCells) {
    private var level = level0
    private var counts = mutable.LongMap.empty[Long]
    private var minX = Double.PositiveInfinity
    private var minY = Double.PositiveInfinity
    private var maxX = Double.NegativeInfinity
    private var maxY = Double.NegativeInfinity

    /** Count one label; a NaN coordinate can meet no distance bound and
      * is left out.
      */
    def add(x: Double, y: Double): Unit = if (!x.isNaN && !y.isNaN) {
      val c = CellIndex.cellOf(x, y, level)
      counts.update(c, counts.getOrElse(c, 0L) + 1L)
      if (x < minX) minX = x
      if (x > maxX) maxX = x
      if (y < minY) minY = y
      if (y > maxY) maxY = y
      while (counts.size > maxCells) {
        val up = mutable.LongMap.empty[Long]
        counts.foreachEntry((c, n) => {
          val p = CellIndex.parent(c)
          up.update(p, up.getOrElse(p, 0L) + n)
        })
        counts = up
        level -= 1
      }
    }

    def result(): CellHistogram = {
      val cells = counts.keys.toArray
      java.util.Arrays.sort(cells)
      CellHistogram(level, cells, cells.map(counts(_)), minX, minY, maxX, maxY)
    }
  }

  /** Merge two histograms at the coarser of their levels, coarsening
    * further while more than `maxCells` cells are occupied.
    */
  def merge(a: CellHistogram, b: CellHistogram, maxCells: Int = MaxCells): CellHistogram = {
    val lvl = math.min(a.level, b.level)
    val x = a.coarsen(lvl)
    val y = b.coarsen(lvl)
    val outC = new Array[Long](x.cells.length + y.cells.length)
    val outN = new Array[Long](outC.length)
    var i = 0; var j = 0; var n = 0
    def emit(c: Long, cnt: Long): Unit =
      if (n > 0 && outC(n - 1) == c) outN(n - 1) += cnt
      else { outC(n) = c; outN(n) = cnt; n += 1 }
    while (i < x.cells.length || j < y.cells.length) {
      if (j >= y.cells.length || (i < x.cells.length && x.cells(i) <= y.cells(j))) {
        emit(x.cells(i), x.counts(i)); i += 1
      } else { emit(y.cells(j), y.counts(j)); j += 1 }
    }
    var h = CellHistogram(lvl, java.util.Arrays.copyOf(outC, n), java.util.Arrays.copyOf(outN, n),
      math.min(a.minX, b.minX), math.min(a.minY, b.minY),
      math.max(a.maxX, b.maxX), math.max(a.maxY, b.maxY))
    while (h.cells.length > maxCells) h = h.coarsen(h.level - 1)
    h
  }

  /** The finest level whose occupied cells hold >= 2 labels on average
    * (0 when no level does, e.g. fewer than two labels).
    */
  def autoLeafLevel(h: CellHistogram): Int = {
    val total = h.total
    var c = h
    while (c.level > 0 && (c.cells.isEmpty || total < 2L * c.cells.length))
      c = c.coarsen(c.level - 1)
    c.level
  }
}

/** Count quadtree over the non-empty cells of a [[CellHistogram]], from
  * the root (level 0) down to `leafLevel`: the kNN join's per-point search
  * structure. Level `l` holds its non-empty cells in Morton order as
  * primitive arrays; the children of node `i` are the contiguous range
  * `firstChild(l)(i) until firstChild(l)(i + 1)` of level `l + 1`.
  *
  * Cell rectangles follow [[CellIndex.cellRect]], except that a cell on
  * the domain border extends outwards to the labels' bounding box:
  * `cellOf` clamps out-of-domain coordinates into the border cells, so
  * the extended rectangle still contains every label of the cell.
  */
final class CellQuadtree private (
    val leafLevel: Int,
    private val ix: Array[Array[Int]],
    private val iy: Array[Array[Int]],
    private val count: Array[Array[Long]],
    private val firstChild: Array[Array[Int]],
    private val leafCells: Array[Long],
    private val boxMinX: Double, private val boxMinY: Double,
    private val boxMaxX: Double, private val boxMaxY: Double) extends Serializable

object CellQuadtree {

  /** Relative slack of the returned `d2` bound over the exact guarantee
    * D²: far wider than the rounding of a cell corner or a label's d2
    * inside the lon/lat domain, at any level.
    */
  final val FilterSlack: Double = 1.0 / (1L << 20)

  /** Relative slack of the cell cut: strictly wider than [[FilterSlack]],
    * so a label whose d2 passes the filter always lies in a cut cell.
    */
  final val CutSlack: Double = 1.0 / (1L << 16)

  /** The quadtree of `h` rolled up to `leafLevel` (<= h.level). */
  def apply(h: CellHistogram, leafLevel: Int): CellQuadtree = {
    require(leafLevel >= 0 && leafLevel <= h.level,
      s"leaf level $leafLevel outside 0..${h.level}")
    val leaves = h.coarsen(leafLevel)
    val ix = new Array[Array[Int]](leafLevel + 1)
    val iy = new Array[Array[Int]](leafLevel + 1)
    val count = new Array[Array[Long]](leafLevel + 1)
    val firstChild = new Array[Array[Int]](leafLevel + 1)
    ix(leafLevel) = leaves.cells.map(c => CellIndex.ixOfCell(c).toInt)
    iy(leafLevel) = leaves.cells.map(c => CellIndex.iyOfCell(c).toInt)
    count(leafLevel) = leaves.counts
    firstChild(leafLevel) = Array.emptyIntArray
    var l = leafLevel - 1
    while (l >= 0) {
      val cx = ix(l + 1); val cy = iy(l + 1); val cn = count(l + 1)
      val px = mutable.ArrayBuilder.make[Int]
      val py = mutable.ArrayBuilder.make[Int]
      val pn = mutable.ArrayBuilder.make[Long]
      val fc = mutable.ArrayBuilder.make[Int]
      var j = 0
      while (j < cx.length) {
        val ax = cx(j) >> 1
        val ay = cy(j) >> 1
        var sum = 0L
        fc += j
        while (j < cx.length && (cx(j) >> 1) == ax && (cy(j) >> 1) == ay) {
          sum += cn(j); j += 1
        }
        px += ax; py += ay; pn += sum
      }
      fc += cx.length
      ix(l) = px.result(); iy(l) = py.result(); count(l) = pn.result()
      firstChild(l) = fc.result()
      l -= 1
    }
    new CellQuadtree(leafLevel, ix, iy, count, firstChild, leaves.cells,
      h.minX, h.minY, h.maxX, h.maxY)
  }

  /** Reusable per-thread search state over one quadtree: a binary heap
    * and a DFS stack, grown on demand and kept across points, so a search
    * allocates nothing once warm. Not thread-safe.
    */
  final class Search(t: CellQuadtree) {
    private var heapKey = new Array[Double](64)
    private var heapNode = new Array[Long](64)
    private var heapSize = 0
    private var stack = new Array[Long](64)
    /** The cut cells of the last [[run]]: `cells(0 until nCells)`. */
    var cells = new Array[Long](64)
    var nCells = 0

    // node = level << 32 | index into that level's arrays
    @inline private def node(l: Int, i: Int): Long = (l.toLong << 32) | i.toLong
    @inline private def lvl(n: Long): Int = (n >>> 32).toInt
    @inline private def idx(n: Long): Int = n.toInt

    // rectangle edges of a node, extended to the label box on the border
    private var x0, y0, x1, y1 = 0.0
    private def rect(l: Int, i: Int, extend: Boolean): Unit = {
      val n = CellIndex.gridSize(l)
      val nd = n.toDouble
      val cx = t.ix(l)(i).toLong; val cy = t.iy(l)(i).toLong
      x0 = CellIndex.MinX + cx / nd * CellIndex.SpanX
      x1 = CellIndex.MinX + (cx + 1) / nd * CellIndex.SpanX
      y0 = CellIndex.MinY + cy / nd * CellIndex.SpanY
      y1 = CellIndex.MinY + (cy + 1) / nd * CellIndex.SpanY
      if (extend) {
        if (cx == 0L && t.boxMinX < x0) x0 = t.boxMinX
        if (cx == n - 1 && t.boxMaxX > x1) x1 = t.boxMaxX
        if (cy == 0L && t.boxMinY < y0) y0 = t.boxMinY
        if (cy == n - 1 && t.boxMaxY > y1) y1 = t.boxMaxY
      }
    }

    /** Squared distance from (x, y) to the nearest point of the node. */
    private def minDist2(x: Double, y: Double, l: Int, i: Int): Double = {
      rect(l, i, extend = true)
      val dx = if (x < x0) x0 - x else if (x > x1) x - x1 else 0.0
      val dy = if (y < y0) y0 - y else if (y > y1) y - y1 else 0.0
      dx * dx + dy * dy
    }

    /** Best-first key of a node: for a leaf, the exact squared distance
      * to its farthest corner; for an inner node, a lower bound of that
      * value over its leaves (a leaf's far corner is at least half a leaf
      * width away on each axis, and a full leaf width beyond the node's
      * near edge when the point lies outside the node on that axis).
      */
    private def farKey(x: Double, y: Double, l: Int, i: Int): Double =
      if (l == t.leafLevel) {
        rect(l, i, extend = true)
        val dx = math.max(x - x0, x1 - x)
        val dy = math.max(y - y0, y1 - y)
        dx * dx + dy * dy
      } else {
        rect(l, i, extend = false)
        val w = CellIndex.SpanX / CellIndex.gridSize(t.leafLevel).toDouble
        val h = CellIndex.SpanY / CellIndex.gridSize(t.leafLevel).toDouble
        val dx = if (x < x0) x0 - x + w else if (x > x1) x - x1 + w else 0.5 * w
        val dy = if (y < y0) y0 - y + h else if (y > y1) y - y1 + h else 0.5 * h
        dx * dx + dy * dy
      }

    private def push(key: Double, n: Long): Unit = {
      if (heapSize == heapKey.length) {
        heapKey = java.util.Arrays.copyOf(heapKey, heapSize * 2)
        heapNode = java.util.Arrays.copyOf(heapNode, heapSize * 2)
      }
      var i = heapSize
      heapSize += 1
      while (i > 0 && heapKey((i - 1) / 2) > key) {
        heapKey(i) = heapKey((i - 1) / 2); heapNode(i) = heapNode((i - 1) / 2)
        i = (i - 1) / 2
      }
      heapKey(i) = key; heapNode(i) = n
    }

    /** Remove the heap's minimum; its key and node are left in slot
      * `heapSize` (just past the live heap).
      */
    private def pop(): Unit = {
      heapSize -= 1
      val lastK = heapKey(heapSize); val lastN = heapNode(heapSize)
      val topK = heapKey(0); val topN = heapNode(0)
      var i = 0
      var done = false
      while (!done) {
        val c = 2 * i + 1
        if (c >= heapSize) done = true
        else {
          val m = if (c + 1 < heapSize && heapKey(c + 1) < heapKey(c)) c + 1 else c
          if (heapKey(m) < lastK) {
            heapKey(i) = heapKey(m); heapNode(i) = heapNode(m); i = m
          } else done = true
        }
      }
      if (heapSize > 0) { heapKey(i) = lastK; heapNode(i) = lastN }
      heapKey(heapSize) = topK; heapNode(heapSize) = topN
    }

    /** Guarantee radius of (x, y) for `k` labels: the smallest D² such
      * that the leaves whose farthest corner lies within D hold >= k
      * labels, +Infinity when the whole tree holds fewer than k.
      */
    def guarantee2(x: Double, y: Double, k: Int): Double = {
      heapSize = 0
      if (t.count(0).isEmpty) return Double.PositiveInfinity
      push(farKey(x, y, 0, 0), node(0, 0))
      var got = 0L
      var d2 = 0.0
      while (heapSize > 0) {
        pop()
        val key = heapKey(heapSize); val n = heapNode(heapSize)
        val l = lvl(n); val i = idx(n)
        if (l == t.leafLevel) {
          got += t.count(l)(i)
          // max, not last: robust to a lower bound that rounding pushed
          // an ulp above one of its leaves' keys
          if (key > d2) d2 = key
          if (got >= k) return d2
        } else {
          var c = t.firstChild(l)(i)
          val end = t.firstChild(l)(i + 1)
          while (c < end) { push(farKey(x, y, l + 1, c), node(l + 1, c)); c += 1 }
        }
      }
      Double.PositiveInfinity
    }

    /** Collect the leaves whose nearest point lies within squared
      * distance `cut2` into `cells(0 until nCells)`.
      */
    def cut(x: Double, y: Double, cut2: Double): Unit = {
      nCells = 0
      if (t.count(0).isEmpty) return
      var sp = 0
      if (minDist2(x, y, 0, 0) <= cut2) { stack(0) = node(0, 0); sp = 1 }
      while (sp > 0) {
        sp -= 1
        val n = stack(sp)
        val l = lvl(n); val i = idx(n)
        if (l == t.leafLevel) {
          if (nCells == cells.length) cells = java.util.Arrays.copyOf(cells, nCells * 2)
          cells(nCells) = t.leafCells(i); nCells += 1
        } else {
          var c = t.firstChild(l)(i)
          val end = t.firstChild(l)(i + 1)
          while (c < end) {
            if (minDist2(x, y, l + 1, c) <= cut2) {
              if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
              stack(sp) = node(l + 1, c); sp += 1
            }
            c += 1
          }
        }
      }
    }

    /** The kNN search of one point: fills `cells(0 until nCells)` with
      * the leaves that may hold a label within the guarantee radius, and
      * returns the d2 bound a candidate label must meet (D² widened by
      * [[FilterSlack]]; +Infinity when fewer than k labels exist).
      */
    def run(x: Double, y: Double, k: Int): Double = {
      val g2 = guarantee2(x, y, k)
      cut(x, y, g2 * (1.0 + CutSlack))
      g2 * (1.0 + FilterSlack)
    }
  }
}
