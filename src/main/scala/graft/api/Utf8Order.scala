package graft.api

import java.nio.charset.StandardCharsets.UTF_8

/** Spark's ascending string order, for sorting collected response rows on
  * the driver exactly as `orderBy` sorts them: nulls first, then the UTF-8
  * bytes compared unsigned (UTF8String.binaryCompare). Java's
  * `String.compareTo` compares UTF-16 code units instead, which puts a
  * supplementary-plane character (a surrogate pair, 0xD800..) BEFORE
  * U+E000–U+FFFF; in UTF-8 (0xF0.. vs 0xEE..) it sorts after.
  */
private[api] object Utf8Order extends Ordering[Array[Byte]] {
  def bytes(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)

  def compare(a: Array[Byte], b: Array[Byte]): Int =
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1
    else java.util.Arrays.compareUnsigned(a, b)
}
