package graft.index

/** Primitive binary min-heap: double keys, long payloads, no boxing — the
  * best-first queue of [[PointRTree2D]]'s `nearestK` and `nearestIter`,
  * whose payloads are packed node/entry handles.
  */
private[index] final class LongHeap(initialCapacity: Int) {
  private var keys = new Array[Double](initialCapacity)
  private var vals = new Array[Long](initialCapacity)
  private var n = 0
  def nonEmpty: Boolean = n > 0
  def headKey: Double = keys(0)
  def headVal: Long = vals(0)
  def enqueue(k: Double, v: Long): Unit = {
    if (n == keys.length) {
      keys = java.util.Arrays.copyOf(keys, n * 2)
      vals = java.util.Arrays.copyOf(vals, n * 2)
    }
    var i = n
    n += 1
    while (i > 0) {
      val parent = (i - 1) >> 1
      if (keys(parent) <= k) { keys(i) = k; vals(i) = v; return }
      keys(i) = keys(parent); vals(i) = vals(parent)
      i = parent
    }
    keys(0) = k; vals(0) = v
  }
  def dequeue(): Long = {
    val top = vals(0)
    n -= 1
    if (n > 0) {
      val k = keys(n); val v = vals(n)
      var i = 0
      var child = 1
      while (child < n) {
        if (child + 1 < n && keys(child + 1) < keys(child)) child += 1
        if (keys(child) >= k) child = n
        else {
          keys(i) = keys(child); vals(i) = vals(child)
          i = child
          child = 2 * i + 1
        }
      }
      keys(i) = k; vals(i) = v
    }
    top
  }
}
