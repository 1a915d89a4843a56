package graft.core

import java.util.regex.Pattern

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The one output normalizer ([[VisibleText.normalize]]) against the
  * reference's global output normalization written literally
  * (reference: src/public/mod.ts:1130-1141): five sequential regex passes,
  * then JS `String.prototype.trim()`. The reference's leading CRLF/CR → LF
  * pass is left out because the normalizer's input holds no '\r'.
  */
class VisibleTextNormalizerSpec extends AnyFunSuite {

  private val passes = Seq(
    "[ \\t\\f]+\\n" -> "\n",
    "\\n[ \\t\\f]+" -> "\n",
    "\\n{3,}" -> "\n\n",
    " {2,}" -> " ",
    "\\t{2,}" -> "\t"
  ).map { case (re, to) => Pattern.compile(re) -> to }

  // the ECMAScript WhiteSpace + LineTerminator set that String.trim() strips
  private val jsWs =
    "[\\t\\n\\u000B\\f\\r \\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000\\uFEFF]"
  private val jsTrim = Pattern.compile(s"^$jsWs+|$jsWs+$$")

  private def reference(s: String, trim: Boolean): String = {
    val out = passes.foldLeft(s) { case (acc, (re, to)) => re.matcher(acc).replaceAll(to) }
    if (trim) jsTrim.matcher(out).replaceAll("") else out
  }

  private def normalized(s: String, trim: Boolean): String =
    VisibleText.normalize(s.toCharArray, null, trim).text

  test("normalizer equals the five reference passes on every short string") {
    val alphabet = "a \t\f\n\u00A0".toCharArray
    val mismatches = Iterator.range(0, 8).flatMap { len =>
      Iterator.range(0, math.pow(alphabet.length, len).toInt).map { code =>
        val cs = new Array[Char](len)
        var rest = code
        var i = 0
        while (i < len) { cs(i) = alphabet(rest % alphabet.length); rest /= alphabet.length; i += 1 }
        new String(cs)
      }
    }.flatMap(s => Seq(true, false).filter(t => normalized(s, t) != reference(s, t)).map(s -> _))
    val first = mismatches.take(5).toList
    assert(first.isEmpty, first.map { case (s, t) => s"trim=$t ${s.map(_.toInt).mkString(",")}" })
  }

  test("normalizer equals the five reference passes on seeded strings, and sources follow their chars") {
    val charGen = Gen.frequency(
      6 -> Gen.oneOf('a', 'b', '\u00E9', '\u4E2D'),
      4 -> Gen.const(' '), 2 -> Gen.const('\t'), 1 -> Gen.const('\f'),
      4 -> Gen.const('\n'), 1 -> Gen.oneOf('\u00A0', '\u2003', '\u000B', '\uFEFF', '\u001C'))
    val stringGen = Gen.choose(0, 200).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val prop = Prop.forAll(stringGen, Gen.oneOf(true, false)) { (s, trim) =>
      val chars = s.toCharArray
      val sources = chars.map(c => VisibleText.SourceMeta(0, c.toString, "text-node"))
      val out = VisibleText.normalize(chars, sources, trim)
      out.text == reference(s, trim) &&
        (out.start until out.end).forall(i => sources(i).nodeKind == chars(i).toString)
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(2000)
      .withInitialSeed(org.scalacheck.rng.Seed(0x9e3779b9L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
