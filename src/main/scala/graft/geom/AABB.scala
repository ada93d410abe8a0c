package graft.geom

import java.util.Arrays

/** Axis-aligned bounding box over n dimensions (double coordinates).
  *
  * Semantics mirror the reference envelope (rstar/src/aabb.rs:121-248):
  *   - the empty box is `lower = +MaxValue, upper = -MaxValue` per dimension
  *     and is detected via `lower(0) > upper(0)` (rstar/src/aabb.rs:127-138);
  *   - containment and intersection use closed intervals — touching counts
  *     (rstar/src/aabb.rs:140-148, :162-165);
  *   - they are positive comparisons, as the reference's are
  *     (rstar/src/aabb.rs:145-165), so a NaN coordinate, in either box or
  *     point, never matches; merging therefore skips a NaN bound, so a
  *     node's envelope stays a number and never hides its other entries;
  *   - merging with the empty box is the identity (rstar/src/aabb.rs:256-275);
  *   - `minMaxDist2` keeps the reference's exact order of floating-point
  *     operations, which a reference regression pins down
  *     (rstar/src/aabb.rs:178-203, :277-288).
  *
  * Instances are immutable from the caller's perspective; the only mutating
  * method is `mergeInPlace`, used in tree-build hot paths on boxes that are
  * still private to the builder.
  */
@SerialVersionUID(1L)
final class AABB(val lower: Array[Double], val upper: Array[Double])
    extends Serializable {

  def dims: Int = lower.length

  /** rstar/src/aabb.rs:136-138 */
  def isEmpty: Boolean = lower(0) > upper(0)

  /** Closed-interval point containment (rstar/src/aabb.rs:140-143). */
  def containsPoint(p: Array[Double]): Boolean = {
    var i = 0
    while (i < lower.length) {
      if (!(lower(i) <= p(i) && upper(i) >= p(i))) return false
      i += 1
    }
    true
  }

  /** Full containment of `other` in `this` (rstar/src/aabb.rs:145-148). */
  def containsEnvelope(other: AABB): Boolean = {
    var i = 0
    while (i < lower.length) {
      if (!(lower(i) <= other.lower(i) && upper(i) >= other.upper(i))) return false
      i += 1
    }
    true
  }

  /** Closed-interval overlap — touching boxes intersect
    * (rstar/src/aabb.rs:162-165).
    */
  def intersects(other: AABB): Boolean = {
    var i = 0
    while (i < lower.length) {
      if (!(lower(i) <= other.upper(i) && upper(i) >= other.lower(i))) return false
      i += 1
    }
    true
  }

  /** Component-wise min/max union (rstar/src/aabb.rs:150-160). Merging with
    * the empty box is the identity because the empty box is +Max/-Max. A
    * NaN bound on either side is skipped, as `mergeInPlace` skips one.
    */
  def merged(other: AABB): AABB = {
    val lo = new Array[Double](lower.length)
    val up = new Array[Double](lower.length)
    var i = 0
    while (i < lower.length) {
      lo(i) = skipNaN(lower(i), other.lower(i), math.min)
      up(i) = skipNaN(upper(i), other.upper(i), math.max)
      i += 1
    }
    new AABB(lo, up)
  }

  @inline private def skipNaN(a: Double, b: Double,
      f: (Double, Double) => Double): Double =
    if (b.isNaN) a else if (a.isNaN) b else f(a, b)

  /** Mutating merge for build hot paths; only call on boxes this code owns. */
  def mergeInPlace(other: AABB): Unit = {
    var i = 0
    while (i < lower.length) {
      if (other.lower(i) < lower(i)) lower(i) = other.lower(i)
      if (other.upper(i) > upper(i)) upper(i) = other.upper(i)
      i += 1
    }
  }

  /** Product of per-dimension extents clamped at 0 (rstar/src/aabb.rs:167-172). */
  def area: Double = {
    var acc = 1.0
    var i = 0
    while (i < lower.length) {
      acc *= math.max(upper(i) - lower(i), 0.0)
      i += 1
    }
    acc
  }

  /** Area of the clipped box (rstar/src/aabb.rs:211-217). */
  def intersectionArea(other: AABB): Double = {
    var acc = 1.0
    var i = 0
    while (i < lower.length) {
      acc *= math.max(
        math.min(upper(i), other.upper(i)) - math.max(lower(i), other.lower(i)),
        0.0)
      i += 1
    }
    acc
  }

  /** Sum of extents, total clamped at 0 (rstar/src/aabb.rs:219-223). */
  def perimeterValue: Double = {
    var acc = 0.0
    var i = 0
    while (i < lower.length) {
      acc += upper(i) - lower(i)
      i += 1
    }
    math.max(acc, 0.0)
  }

  /** Midpoint (rstar/src/aabb.rs:205-209). */
  def center: Array[Double] = {
    val c = new Array[Double](lower.length)
    var i = 0
    while (i < lower.length) {
      c(i) = (lower(i) + upper(i)) / 2.0
      i += 1
    }
    c
  }

  /** Point of the box closest to `p`: clamp (rstar/src/aabb.rs:104-109). */
  def minPoint(p: Array[Double]): Array[Double] = {
    val r = new Array[Double](lower.length)
    var i = 0
    while (i < lower.length) {
      r(i) = math.min(upper(i), math.max(lower(i), p(i)))
      i += 1
    }
    r
  }

  /** 0 when `p` is inside, else squared distance to the clamped point
    * (rstar/src/aabb.rs:111-118). Summation runs in dimension order so the
    * result is identical regardless of partition layout.
    */
  def distance2(p: Array[Double]): Double = {
    var acc = 0.0
    var inside = true
    var i = 0
    while (i < lower.length) {
      if (lower(i) > p(i) || upper(i) < p(i)) inside = false
      val c = math.min(upper(i), math.max(lower(i), p(i))) - p(i)
      acc += c * c
      i += 1
    }
    if (inside) 0.0 else acc
  }

  /** MinMaxDist² upper bound for nearest-neighbor pruning (Roussopoulos,
    * Kelley, Vincent 1995). Mirrors the reference's exact float
    * order-of-operations (rstar/src/aabb.rs:178-203): per-dimension squared
    * distances to both faces are sorted (min, max); the dimension with the
    * largest (max-min) difference — later dimensions winning ties via `>=` —
    * contributes its min, all others their max, summed in dimension order.
    */
  def minMaxDist2(p: Array[Double]): Double = {
    val n = lower.length
    val maxes = new Array[Double](n)
    var bestDiff = 0.0
    var bestMin = 0.0
    var bestIdx = 0
    var i = 0
    while (i < n) {
      val lo = lower(i) - p(i)
      val hi = upper(i) - p(i)
      var mn = lo * lo
      var mx = hi * hi
      if (mx < mn) { val t = mn; mn = mx; mx = t }
      val diff = mx - mn
      maxes(i) = mx
      if (diff >= bestDiff) { bestDiff = diff; bestMin = mn; bestIdx = i }
      i += 1
    }
    maxes(bestIdx) = bestMin
    var acc = 0.0
    i = 0
    while (i < n) { acc += maxes(i); i += 1 }
    acc
  }

  override def equals(o: Any): Boolean = o match {
    case b: AABB =>
      Arrays.equals(lower, b.lower) && Arrays.equals(upper, b.upper)
    case _ => false
  }
  override def hashCode: Int =
    31 * Arrays.hashCode(lower) + Arrays.hashCode(upper)
  override def toString: String =
    s"AABB(${lower.mkString("[", ",", "]")}, ${upper.mkString("[", ",", "]")})"
}

object AABB {
  /** Empty box per the reference convention (rstar/src/aabb.rs:127-134). */
  def empty(dims: Int): AABB = {
    val lo = Array.fill(dims)(Double.MaxValue)
    val up = Array.fill(dims)(-Double.MaxValue)
    new AABB(lo, up)
  }

  /** Degenerate box around one point (rstar/src/aabb.rs:35-41). */
  def fromPoint(p: Array[Double]): AABB =
    new AABB(p.clone(), p.clone())

  /** Box spanning two arbitrary corners (rstar/src/aabb.rs:43-58). */
  def fromCorners(a: Array[Double], b: Array[Double]): AABB = {
    val lo = new Array[Double](a.length)
    val up = new Array[Double](a.length)
    var i = 0
    while (i < a.length) {
      lo(i) = math.min(a(i), b(i))
      up(i) = math.max(a(i), b(i))
      i += 1
    }
    new AABB(lo, up)
  }

  def fromBounds(lower: Array[Double], upper: Array[Double]): AABB =
    new AABB(lower.clone(), upper.clone())

  /** Fold starting from the empty box, so an empty iterator yields the
    * empty box (rstar/src/aabb.rs:85-102, regression :291-294).
    */
  def fromPoints(ps: IterableOnce[Array[Double]]): AABB = {
    val it = ps.iterator
    if (it.isEmpty) return empty(2)
    val first = it.next()
    val box = fromPoint(first)
    while (it.hasNext) box.mergeInPlace(fromPoint(it.next()))
    box
  }

  def of2d(minX: Double, minY: Double, maxX: Double, maxY: Double): AABB =
    new AABB(Array(minX, minY), Array(maxX, maxY))
}
