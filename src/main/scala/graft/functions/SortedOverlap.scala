package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Size of the intersection of two integer SETS held as strictly
  * ascending `array<bigint>` (no nulls, no duplicates), counted in one
  * linear merge: O(|a| + |b|) with no hashing and no allocation.
  *
  * This is the verification step of the PPJoin prefix-filter join
  * ([[graft.ops.Dedup.prefixFilterPairs]]), whose token sets are already
  * ascending and distinct. On such sets the count equals
  * `size(array_intersect(a, b))`, which builds a hash set per pair.
  *
  * An input that is not strictly ascending, or that holds a null, fails
  * with an IllegalArgumentException naming the function: a merge over
  * unsorted input would silently undercount.
  *
  * The kernel of the SQL function `sorted_overlap` (a [[Native]] row):
  * generated code calls `count` directly inside whole-stage codegen.
  */
object SortedOverlap {

  private def requireAscending(xs: ArrayData): Unit = {
    val n = xs.numElements()
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || (i > 0 && xs.getLong(i) <= xs.getLong(i - 1)))
        throw new IllegalArgumentException(
          s"sorted_overlap: inputs must be strictly ascending arrays " +
            s"without nulls; element ${i + 1} of $n breaks the order")
      i += 1
    }
  }

  /** The shared interpreted/codegen kernel. */
  def count(a: ArrayData, b: ArrayData): Int = {
    requireAscending(a)
    requireAscending(b)
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var common = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { common += 1; i += 1; j += 1 }
    }
    common
  }
}
