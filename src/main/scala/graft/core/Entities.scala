package graft.core

/** WHATWG named character references + numeric reference decoding.
  *
  * Data: the public WHATWG `entities.json` table (2231 names, including the
  * semicolon-less legacy names), shipped as a TSV resource. Semantics mirror
  * the reference's vendored decoder (reference:
  * src/internal/vendor/entities/decode.js, decode-codepoint.js):
  *  - longest-match named references, case-sensitive;
  *  - legacy (no trailing ';') names decode in data context, but in
  *    attribute context are suppressed when followed by '=' or an ASCII
  *    alphanumeric;
  *  - numeric references replace NUL/out-of-range/surrogates with U+FFFD and
  *    map the C1 control range through the windows-1252 table.
  */
object Entities {

  /** name (no leading '&', may end with ';') -> replacement characters */
  val table: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/entities.tsv")
    require(in != null, "entities.tsv resource missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val m = Map.newBuilder[String, String]
      for (line <- src.getLines() if line.nonEmpty) {
        val tab = line.indexOf('\t')
        val name = line.substring(0, tab)
        val raw = line.substring(tab + 1)
        val sb = new StringBuilder
        var i = 0
        while (i < raw.length) {
          val c = raw.charAt(i)
          if (c == '\\' && i + 1 < raw.length) {
            raw.charAt(i + 1) match {
              case 't'   => sb.append('\t'); i += 2
              case 'n'   => sb.append('\n'); i += 2
              case 'r'   => sb.append('\r'); i += 2
              case '\\'  => sb.append('\\'); i += 2
              case _     => sb.append(c); i += 1
            }
          } else { sb.append(c); i += 1 }
        }
        m += name -> sb.toString
      }
      m.result()
    } finally src.close()
  }

  val maxNameLength: Int = table.keysIterator.map(_.length).max

  /** First chars that can begin any entity name, for a cheap pre-filter. */
  private val firstChars: Array[Boolean] = {
    val arr = new Array[Boolean](128)
    table.keysIterator.foreach { k => if (k.charAt(0) < 128) arr(k.charAt(0)) = true }
    arr
  }

  // sorted view for the allocation-free longest-match walk: names sharing a
  // prefix are contiguous, and the name EQUAL to the prefix sorts first in
  // its group (at most one such name exists per prefix)
  private val sortedNames: Array[String] = table.keys.toArray.sorted
  private val sortedReps: Array[String] = sortedNames.map(table)

  /** Longest named-reference match at `pos` in `input` (pos points just
    * after the '&'). Returns `(nameLength << 32) | tableIndex`, or -1 when
    * nothing matches. Zero allocation: the old per-candidate substring
    * probe (up to ~30 trial strings per '&') dominated the entity path in
    * the allocation profile. Pass the index to [[replacementAt]].
    */
  def matchNamedPacked(input: CharSequence, pos: Int): Long = {
    val c0 = if (pos < input.length) input.charAt(pos) else 0.toChar
    if (c0 >= 128 || !firstChars(c0)) return -1L
    val avail = math.min(maxNameLength, input.length - pos)
    var lo = 0
    var hi = sortedNames.length
    var bestLen = -1
    var bestIdx = -1
    var i = 0
    var cont = true
    while (cont && i < avail && lo < hi) {
      // invariant: names in [lo, hi) share the prefix input[pos, pos+i)
      if (sortedNames(lo).length == i) {
        if (i >= 2) { bestLen = i; bestIdx = lo }
        lo += 1
      }
      if (lo >= hi) cont = false
      else {
        val ch = input.charAt(pos + i)
        // narrow to the sub-range whose charAt(i) == ch (lower/upper bound)
        var l = lo; var h = hi
        while (l < h) {
          val m = (l + h) >>> 1
          if (sortedNames(m).charAt(i) < ch) l = m + 1 else h = m
        }
        val newLo = l
        h = hi
        while (l < h) {
          val m = (l + h) >>> 1
          if (sortedNames(m).charAt(i) <= ch) l = m + 1 else h = m
        }
        lo = newLo; hi = l
        if (lo < hi) i += 1 else cont = false
      }
    }
    if (cont && lo < hi && sortedNames(lo).length == i && i >= 2) {
      bestLen = i; bestIdx = lo
    }
    if (bestLen >= 0) (bestLen.toLong << 32) | bestIdx.toLong else -1L
  }

  def replacementAt(idx: Int): String = sortedReps(idx)

  /** windows-1252 overrides for numeric references in the C1 control range. */
  val numericOverrides: Map[Int, Int] = Map(
    0x00 -> 0xfffd, 0x80 -> 0x20ac, 0x82 -> 0x201a, 0x83 -> 0x0192,
    0x84 -> 0x201e, 0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021,
    0x88 -> 0x02c6, 0x89 -> 0x2030, 0x8a -> 0x0160, 0x8b -> 0x2039,
    0x8c -> 0x0152, 0x8e -> 0x017d, 0x91 -> 0x2018, 0x92 -> 0x2019,
    0x93 -> 0x201c, 0x94 -> 0x201d, 0x95 -> 0x2022, 0x96 -> 0x2013,
    0x97 -> 0x2014, 0x98 -> 0x02dc, 0x99 -> 0x2122, 0x9a -> 0x0161,
    0x9b -> 0x203a, 0x9c -> 0x0153, 0x9e -> 0x017e, 0x9f -> 0x0178
  )

  // boxing-free view of numericOverrides for the hot path (0 = no override;
  // no real override maps to 0)
  private val c1Overrides: Array[Int] = {
    val a = new Array[Int](32)
    numericOverrides.foreach { case (k, v) => if (k >= 0x80) a(k - 0x80) = v }
    a
  }

  /** Map a parsed numeric reference code point to the emitted code point. */
  def replaceNumeric(cp: Int): Int = {
    if (cp == 0) 0xfffd
    else if (cp >= 0xd800 && cp <= 0xdfff) 0xfffd
    else if (cp > 0x10ffff) 0xfffd
    else if (cp >= 0x80 && cp <= 0x9f) {
      val v = c1Overrides(cp - 0x80)
      if (v != 0) v else cp
    } else cp
  }
}
