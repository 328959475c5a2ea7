package graft.operators

/** Spark's sort order for driver-side sorts of collected rows that must
  * reproduce an `orderBy` exactly.
  */
object SparkOrder {

  /** StringType ascending: nulls first, then UTF8String's binary order
    * (the UTF-8 bytes compared unsigned).
    */
  def compareStrings(x: String, y: String): Int =
    if (x == null) { if (y == null) 0 else -1 }
    else if (y == null) 1
    else java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** DoubleType in `ascending` (nulls first) or descending (nulls last)
    * order, as Spark's SQLOrderingUtil compares: NaN equals NaN and sorts
    * above every number, -0.0 equals 0.0. A null reference is SQL NULL.
    */
  def compareDoubles(x: java.lang.Double, y: java.lang.Double,
      ascending: Boolean): Int = {
    val c =
      if (x == null) { if (y == null) 0 else -1 }
      else if (y == null) 1
      else if (x.doubleValue == y.doubleValue) 0
      else java.lang.Double.compare(x.doubleValue, y.doubleValue)
    if (ascending) c else -c
  }
}
