package graft.operators

/** Spark's ascending sort order for driver-side sorts of collected rows
  * that must reproduce an `orderBy` exactly.
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
}
