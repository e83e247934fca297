package graft.functions

/** The one bounded "keep the k best" heap behind every top-K and
  * bottom-k aggregate ([[TopKBuffer]], [[BkBuffer]], [[PrioIdBuffer]],
  * [[graft.plans.TopKRowsBuffer]]). Slot 0 holds the WORST survivor,
  * so a better candidate evicts it in O(log k), and "k best of a union
  * = k best of the union of per-partition k-bests" makes every merge
  * exact.
  *
  * A buffer supplies only its order ([[worse]]) and its slot [[swap]]
  * over its own primitive arrays, sized k + 1: slot k is scratch, where
  * a candidate waits while the heap is full. To add, a buffer writes
  * the candidate to slot [[free]] and calls [[offer]]; its output
  * order is [[ranked]], the same order again.
  */
abstract class KBestHeap(val k: Int) extends Serializable {
  var size = 0

  /** Slot i ranks after slot j — the buffer's order, spelled once. */
  protected def worse(i: Int, j: Int): Boolean

  /** Exchange slots i and j in every backing array. */
  protected def swap(i: Int, j: Int): Unit

  /** Where the next candidate is written before [[offer]]. */
  protected final def free: Int = if (size < k) size else k

  /** Admit the candidate in slot [[free]]: while filling, append and
    * sift up; once full, it replaces the root only if the root ranks
    * after it, then sifts down.
    */
  protected final def offer(): Unit =
    if (size < k) {
      var i = size
      size += 1
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (worse(0, k)) {
      swap(0, k)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var s = i
        if (l < size && worse(l, s)) s = l
        if (r < size && worse(r, s)) s = r
        if (s == i) done = true else { swap(i, s); i = s }
      }
    }

  /** The survivors' slots, best first (a stable sort under [[worse]]:
    * ties keep slot order).
    */
  final def ranked: Array[Int] =
    Array.tabulate(size)(identity).sortWith((a, b) => worse(b, a))
}
