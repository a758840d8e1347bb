package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** OS grid-reference conversion (easting/northing → "NT 25940 73060").
  *
  * Same semantics as reference src/utils/geotiles.py:12-59 (precision 6 = 100 m,
  * 8 = 10 m, 10 = 1 m; grid letters skip 'I'). [[gridRef]] is the kernel of
  * the native `graft_osgrid` expression (plans/OsGridRef, built through
  * `Native.osgrid`): one static call per row from generated code. Two
  * independent renderings stay as its references: [[gridRefSql]], the text the
  * DuckDB oracle runs, and [[gridRefScala]], the plain-Scala twin the specs
  * compare against.
  */
object OsGrid {
  private val Chars = "ABCDEFGHJKLMNOPQRSTUVWXYZ" // no I
  private val Empty = UTF8String.fromString("")

  /** Grid letters + digits at `precision` (6, 8 or 10); "" out of range.
    *
    * Whole metres are taken by truncation (`toLong`, Spark's non-ANSI cast,
    * so NaN reads as 0), and the digit groups are floors of their quotients.
    * The letter indices come from the RAW northing, including n >= 1,000,000,
    * where the reference subtracts 1,000,000 only from the digit remainder
    * (geotiles.py:40-45), so those inputs give negative digit groups.
    */
  def gridRef(e: Double, n: Double, precision: Int): UTF8String = {
    val e100k = java.lang.Math.floor(e / 100000.0d).toLong
    val n100k = java.lang.Math.floor(n / 100000.0d).toLong
    // out of range → empty string, as in the reference (geotiles.py:29-30)
    if (e100k < 0L || e100k > 6L || n100k < 0L || n100k > 12L) return Empty
    val l1 = (19L - n100k) - (19L - n100k) % 5L + java.lang.Math.floor((e100k + 10L) / 5.0d).toLong
    val l2 = ((19L - n100k) * 5L) % 25L + e100k % 5L
    val eRem = e.toLong - e100k * 100000L
    val nRem = (if (n >= 1000000L) n.toLong - 1000000L else n.toLong) - n100k * 100000L
    val sb = new java.lang.StringBuilder(14).append(Chars.charAt(l1.toInt)).append(Chars.charAt(l2.toInt))
    // Python's rjust pads but never truncates (the negative n >= 1M groups
    // are wider than `w`)
    def digits(v: Long, div: Double, w: Int): Unit = {
      val s = java.lang.Long.toString(java.lang.Math.floor(v / div).toLong)
      var pad = w - s.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(s)
    }
    precision match {
      case 6 => digits(eRem, 100.0d, 3); digits(nRem, 100.0d, 3)
      case 8 => sb.append(' '); digits(eRem, 10.0d, 4); sb.append(' '); digits(nRem, 10.0d, 4)
      case 10 => sb.append(' '); digits(eRem, 1.0d, 5); sb.append(' '); digits(nRem, 1.0d, 5)
      case p => throw new IllegalArgumentException(s"precision must be 6, 8 or 10, got $p")
    }
    UTF8String.fromString(sb.toString)
  }

  /** DuckDB-SQL rendering of the same math over easting/northing SQL snippets
    * (restricted to the tested domain e<700k, n<1M — no out-of-range branch).
    */
  def gridRefSql(e: String, n: String, precision: Int): String = {
    val e100k = s"CAST(floor($e/100000.0) AS BIGINT)"
    val n100k = s"CAST(floor($n/100000.0) AS BIGINT)"
    val l1 = s"((19-$n100k) - ((19-$n100k)%5) + CAST(floor(($e100k+10)/5.0) AS BIGINT))"
    val l2 = s"(((19-$n100k)*5)%25 + ($e100k%5))"
    val letters = s"(substr('$Chars', CAST($l1 AS INTEGER)+1, 1) || substr('$Chars', CAST($l2 AS INTEGER)+1, 1))"
    val eRem = s"($e - $e100k*100000)"
    val nRem = s"($n - $n100k*100000)"
    def digits(v: String, div: Long, w: Int): String =
      s"lpad(CAST(CAST(floor($v/$div.0) AS BIGINT) AS VARCHAR), $w, '0')"
    precision match {
      case 6  => s"($letters || ${digits(eRem, 100L, 3)} || ${digits(nRem, 100L, 3)})"
      case 8  => s"($letters || ' ' || ${digits(eRem, 10L, 4)} || ' ' || ${digits(nRem, 10L, 4)})"
      case 10 => s"($letters || ' ' || ${digits(eRem, 1L, 5)} || ' ' || ${digits(nRem, 1L, 5)})"
      case p  => throw new IllegalArgumentException(s"precision must be 6, 8 or 10, got $p")
    }
  }

  /** Plain-Scala twin for tests (mirrors geotiles.py exactly, incl. the
    * out-of-range empty string and the n>=1M digit adjustment).
    */
  def gridRefScala(e: Double, n: Double, precision: Int): String = {
    val e100k = math.floor(e / 100000).toLong
    val n100k = math.floor(n / 100000).toLong
    if (e100k < 0 || e100k > 6 || n100k < 0 || n100k > 12) return ""
    val l1 = (19 - n100k) - (19 - n100k) % 5 + math.floor((e100k + 10) / 5.0).toLong
    val l2 = (19 - n100k) * 5 % 25 + e100k % 5
    val letters = s"${Chars(l1.toInt)}${Chars(l2.toInt)}"
    val eRem = e - e100k * 100000
    val nAdj = if (n >= 1000000) n - 1000000 else n
    val nRem = nAdj - n100k * 100000
    def d(v: Double, div: Long, w: Int): String = {
      val s = math.floor(v / div).toLong.toString
      ("0" * math.max(0, w - s.length)) + s
    }
    precision match {
      case 6  => s"$letters${d(eRem, 100, 3)}${d(nRem, 100, 3)}"
      case 8  => s"$letters ${d(eRem, 10, 4)} ${d(nRem, 10, 4)}"
      case 10 => s"$letters ${d(eRem, 1, 5)} ${d(nRem, 1, 5)}"
      case p  => throw new IllegalArgumentException(s"precision must be 6, 8 or 10, got $p")
    }
  }
}
