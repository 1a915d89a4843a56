package perfbench

import graft.pipeline.TranscriptTurn

/** The benchmark's own seeded input generators.
  *
  * Every turn is a pure function of (seed, unit index, turn index), so the
  * generated table is identical at any parallelism and for any split of the
  * units over tasks. The generators are copies owned by the benchmark: a
  * program change to `graft.pipeline.Transcripts` must not change the input.
  *
  * A "unit" is one conversation; each workload turns a unit into its turns.
  */
object Gen {

  /** xorshift64* step, identical to the one `Transcripts` used when the
    * chat families were defined.
    */
  def mix(seed: Long): Long = {
    var x = seed ^ 0x9e3779b97f4a7c15L
    x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
    x * 0x2545f4914f6cdd1dL
  }

  /** The turns of one unit of the named workload. */
  def turns(workload: String, seed: Long, unit: Long): Seq[TranscriptTurn] = workload match {
    case "chat" => chat(seed, unit)
    case "pages" => pages(seed, unit)
  }

  private def pick(s: Long, n: Int): Int = java.lang.Math.floorMod(s >>> 33, n.toLong).toInt

  private val Vocab: Array[String] =
    ("key agg row scan slow fast table value part hash merge batch spark line sort window " +
      "order data column join small customer query big the a stream filter group dup vector " +
      "alpha beta gamma delta epsilon zeta theta lambda sigma omega").split(' ')

  private def words(seed: Long, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 6)
    var s = seed
    var i = 0
    while (i < n) {
      s = mix(s)
      if (i > 0) sb.append(' ')
      sb.append(Vocab(((s >>> 33) % Vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  private def ts(unit: Long, t: Int) =
    new java.sql.Timestamp(1700000000000L + unit * 3600000L + t * 60000L)

  private def roleOf(s: Long): String = java.lang.Math.floorMod(s, 3L).toInt match {
    case 0 => "user"; case 1 => "assistant"; case _ => "tool"
  }

  /** Turn count of a chat-shaped conversation: 2..17 turns, and one
    * conversation in 403 has 256 turns (the skewed long conversation).
    */
  private def chatTurns(unit: Long, convSeed: Long): Int =
    if (unit % 403L == 17L) 256 else 2 + java.lang.Math.floorMod(convSeed, 16L).toInt

  // ---------------------------------------------------------------------
  // chat: agent transcripts, ~200-char turns in ten template families

  /** The ten visible-text rule families of the transcript generator. */
  def chatHtml(seed: Long, turnIdx: Int): String = {
    val a = words(mix(seed + 1), 8)
    val b = words(mix(seed + 2), 12)
    val c = words(mix(seed + 3), 5)
    (java.lang.Math.floorMod(seed, 10L).toInt: @annotation.switch) match {
      case 0 => s"<div><h2>$c</h2><p>$a</p><p>$b</p></div>"
      case 1 => s"<table><tr><th>$c</th><th>id $turnIdx</th></tr><tr><td>$a</td><td>$b</td></tr></table>"
      case 2 => s"<pre>$a\n  $b\n\t$c</pre>"
      case 3 => s"<p>$a &amp; $b &#169; &copy; &copy &lt;tag&gt;</p>"
      case 4 => s"<p>$a</p><div hidden><p>$b</p></div><p style=\"display:none\">$c</p><p aria-hidden=\"true\">$c</p><p>$c</p>"
      case 5 => s"<p><img alt=\"$c\" src=\"x.png\"> $a <input type=\"submit\" value=\"$c\"><button value=\"$c\">$b</button></p>"
      case 6 => s"<p><b>$a <i>$b</b> $c</i></p>"
      case 7 => s"<p>$a</p><noscript>&lt;b&gt;$c&lt;/b&gt;</noscript><script>var x='<p>$b</p>';</script>"
      case 8 => s"<ul><li>$a</li><li>$b<br>$c</li></ul><svg><title>skip</title><text>$c</text></svg>"
      case _ => s"<article><h1>$c</h1><p>$a</p><blockquote>$b</blockquote><p>$a $c</p></article>"
    }
  }

  def chat(seed: Long, unit: Long): Seq[TranscriptTurn] = {
    val convSeed = mix(seed ^ mix(unit))
    val convId = f"c$unit%08d"
    (0 until chatTurns(unit, convSeed)).map { t =>
      val s = mix(convSeed + t)
      val role = roleOf(s)
      TranscriptTurn(convId, t, role, chatHtml(s, t),
        if (role == "tool") "browser" else "", ts(unit, t))
    }
  }

  // ---------------------------------------------------------------------
  // pages: 20-100 KB web pages returned by a browser tool

  private def linkList(sb: java.lang.StringBuilder, s0: Long, n: Int): Unit = {
    var s = s0
    sb.append("<ul class=\"links\">")
    var i = 0
    while (i < n) {
      s = mix(s)
      sb.append("<li><a href=\"/").append(Vocab(pick(s, Vocab.length))).append('/').append(i)
        .append("\">").append(words(s, 1 + pick(s ^ 7, 3))).append("</a></li>")
      i += 1
    }
    sb.append("</ul>")
  }

  /** A tag or attribute name that is not in the HTML vocabulary, drawn
    * from a large space so the tag-name interner misses.
    */
  private def customName(s: Long): String =
    s"x-${Vocab(pick(s, Vocab.length))}-${java.lang.Math.floorMod(s >>> 17, 5000L)}"

  private def articleBlock(sb: java.lang.StringBuilder, s: Long, i: Int): Unit =
    pick(s, 8) match {
      case 0 | 1 | 2 =>
        sb.append("<p>").append(words(mix(s + 1), 30)).append(" <a href=\"#r").append(i)
          .append("\">").append(words(mix(s + 2), 2)).append("</a> <em>")
          .append(words(mix(s + 3), 4)).append("</em> &amp; &mdash; &#8212; &nbsp;")
          .append(words(mix(s + 4), 20)).append("</p>\n")
      case 3 =>
        sb.append("<table class=\"data\"><thead><tr><th>").append(words(mix(s + 1), 2))
          .append("</th><th>").append(words(mix(s + 2), 2)).append("</th><th>value</th></tr></thead><tbody>")
        var r = 0
        while (r < 6) {
          sb.append("<tr><td>").append(words(mix(s + 10 + r), 3)).append("</td><td>")
            .append(words(mix(s + 20 + r), 2)).append("</td><td>").append(r * 17 + i).append("</td></tr>")
          r += 1
        }
        sb.append("</tbody></table>\n")
      case 4 =>
        sb.append("<script>window.__d").append(i).append(" = {\"k\": \"<p>")
          .append(words(mix(s + 1), 6)).append("</p>\", \"n\": ").append(i)
          .append("}; if (a < b && c > d) { track('").append(words(mix(s + 2), 1)).append("'); }</script>\n")
          .append("<style>.c").append(i).append(" > p { margin: 0 auto; content: \"</p>\"; }</style>\n")
      case 5 =>
        sb.append("<!-- ").append(words(mix(s + 1), 8)).append(" -->\n<h2>")
          .append(words(mix(s + 2), 5)).append("</h2>\n")
      case 6 =>
        val tag = customName(mix(s + 1))
        sb.append('<').append(tag).append(" data-").append(customName(mix(s + 2)))
          .append("=\"").append(i).append("\" class=\"card\"><p>").append(words(mix(s + 3), 18))
          .append("</p></").append(tag).append(">\n")
      case _ =>
        sb.append("<figure><img src=\"/img/").append(i).append(".png\" alt=\"")
          .append(words(mix(s + 1), 3)).append("\"><figcaption>").append(words(mix(s + 2), 6))
          .append(" &copy; &lt;").append(words(mix(s + 3), 1)).append("&gt;</figcaption></figure>\n")
    }

  def pageHtml(s0: Long): String = {
    val target = 20000 + pick(s0, 80001)
    val sb = new java.lang.StringBuilder(target + 4096)
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\"><title>")
      .append(words(mix(s0 + 1), 6)).append("</title><style>body{font:14px sans-serif}.nav a{color:#333}</style>")
      .append("<script>var cfg={page:'").append(words(mix(s0 + 2), 1)).append("'};</script></head><body>")
      .append("<header class=\"site-header\"><nav class=\"nav menu\">")
    linkList(sb, mix(s0 + 3), 12 + pick(mix(s0 + 4), 20))
    sb.append("</nav></header><div class=\"layout\"><aside class=\"sidebar widget\"><h3>Related</h3>")
    linkList(sb, mix(s0 + 5), 8 + pick(mix(s0 + 6), 16))
    sb.append("</aside><main><article class=\"post-content\"><h1>").append(words(mix(s0 + 7), 7)).append("</h1>\n")
    val footerAt = target - 2000
    var s = mix(s0 + 8)
    var i = 0
    while (sb.length < footerAt) {
      s = mix(s)
      articleBlock(sb, s, i)
      i += 1
    }
    sb.append("</article></main></div><footer class=\"footer\"><p>&copy; 2024 ")
      .append(words(mix(s0 + 9), 3)).append("</p>")
    linkList(sb, mix(s0 + 10), 10)
    sb.append("</footer></body></html>")
    sb.toString
  }

  /** Two pages per conversation, so every seed has the same page count. */
  def pages(seed: Long, unit: Long): Seq[TranscriptTurn] = {
    val convSeed = mix(seed ^ mix(unit) ^ 0x5a5a5a5aL)
    val convId = f"p$unit%08d"
    (0 until 2).map { t =>
      TranscriptTurn(convId, t, "tool", pageHtml(mix(convSeed + t)), "browser", ts(unit, t))
    }
  }
}
