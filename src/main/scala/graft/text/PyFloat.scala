package graft.text

/** Python `repr(float)` formatting (shortest round-trip digits, fixed
  * notation for 1e-4 <= |x| < 1e16, else scientific with 2+ exponent
  * digits). Java's Double.toString produces the same shortest digits but
  * different formatting, so we reformat.
  */
object PyFloat {

  def repr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    // Java form, shortest round-trip digits: int.frac[E[-]exp]
    val s = java.lang.Double.toString(math.abs(d))
    val ePos = s.indexOf('E')
    val mEnd = if (ePos < 0) s.length else ePos
    val exp10 = if (ePos < 0) 0 else Integer.parseInt(s, ePos + 1, s.length, 10)
    val dot = s.indexOf('.')
    // significant digits: the mantissa without the dot and without
    // leading and trailing zeros (d != 0, so at least one is left)
    val digits = new Array[Char](mEnd)
    var n = 0
    var leadZeros = 0
    var i = 0
    while (i < mEnd) {
      val c = s.charAt(i)
      if (c != '.') {
        if (n == 0 && c == '0') leadZeros += 1
        else { digits(n) = c; n += 1 }
      }
      i += 1
    }
    while (digits(n - 1) == '0') n -= 1
    // exponent of the leading digit (normalized d.ddd * 10^e)
    val e = dot - 1 - leadZeros + exp10
    val sb = new java.lang.StringBuilder(n + 8)
    if (d < 0) sb.append('-')
    if (e >= -4 && e < 16) { // fixed
      if (e >= 0) {
        if (n > e + 1) sb.append(digits, 0, e + 1).append('.').append(digits, e + 1, n - e - 1)
        else {
          sb.append(digits, 0, n)
          i = n
          while (i < e + 1) { sb.append('0'); i += 1 }
          sb.append(".0")
        }
      } else {
        sb.append("0.")
        i = 0
        while (i < -e - 1) { sb.append('0'); i += 1 }
        sb.append(digits, 0, n)
      }
    } else { // scientific, 2+ exponent digits
      sb.append(digits(0))
      if (n > 1) sb.append('.').append(digits, 1, n - 1)
      sb.append('e').append(if (e < 0) '-' else '+')
      if (math.abs(e) < 10) sb.append('0')
      sb.append(math.abs(e))
    }
    sb.toString
  }
}
