package graft.core

import java.io.{DataInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPInputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Replays the pinned differential corpus (`pinned-corpus.bin.gz`): every
  * input with the FNV-1a 64 digest of what [[PinnedRenderers]] rendered for
  * it at the commit whose outputs matched the reference on the round-5
  * node-vs-Scala differential (0 mismatches, BASELINE.md "Round-5
  * differential sweep tally").
  *
  * How the resource was built: the round-5 differential's Python `corpus()`
  * generators were run for the round-5 seeds and profiles, and their inputs
  * deduplicated per kind:
  *  - tree: `tree_diff.py` base plus the wild, select, entattr and quirks
  *    profiles on seeds 0xFEEDBEE5, 0x0BADF00D and 0x600DCAFE, and the
  *    foreign, decl, tables, afe and headframes profiles on 0x5CA1AB1E —
  *    74,022 inputs;
  *  - token: the `tree_diff.py` base corpus on the three seeds (the token
  *    differential's corpus) — 18,147 inputs, all of them tree inputs too;
  *  - fragment: `fragment_diff.py` base and select on the three seeds, and
  *    foreign, tables and afe on 0x5CA1AB1E — 10,289 (context, html) pairs;
  *  - bytes: `bytes_diff.py` on the three seeds — 9,237 (bytes, transport
  *    label) pairs;
  *  - extract: `extract_diff.py` plain and with the errors profile on the
  *    three seeds — 20,883 inputs.
  * That is 132,578 cases over 114,431 distinct inputs. Each case's digest
  * is FNV-1a 64 over the UTF-8 of [[PinnedRenderers.render]]'s output.
  *
  * Layout (gzip of a `DataOutputStream`): the row count; per row the kind
  * bits, an optional aux string (fragment context or transport label) and
  * the input length; then every input's bytes, back to back; then one
  * digest per (row, kind bit), rows in order and kinds in
  * [[PinnedRenderers.Kinds]] order. Splitting the columns this way keeps
  * the inputs contiguous for gzip.
  */
class PinnedCorpusSpec extends AnyFunSuite {
  import PinnedCorpusSpec._
  import PinnedRenderers.Kinds

  private lazy val corpus = readCorpus(getClass.getResourceAsStream(ResourcePath))
  private lazy val replayed = replay(corpus)

  test("the pinned corpus holds every round-5 case, within 5 MB") {
    val size = getClass.getResource(ResourcePath).openConnection().getContentLengthLong
    assert(size <= 5L * 1024 * 1024, s"resource is $size bytes")
    val perKind = Kinds.map { case (bit, name) => name -> corpus.rows.count(r => (r.kinds & bit) != 0) }.toMap
    assert(perKind == ExpectedCases)
    assert(perKind.values.sum >= 100000)
    assert(corpus.digests.length == perKind.values.sum)
  }

  test("HEAD's renderers reproduce every pinned digest") {
    val shown = replayed.mismatches.map { m =>
      s"--- ${m.kind} ${m.aux.fold("")(a => s"[$a] ")}input: ${m.input}\n    ours: ${m.rendered}"
    }.mkString("\n")
    info(f"${replayed.cases} cases in ${replayed.seconds}%.1f s")
    assert(replayed.checked == replayed.cases)
    assert(replayed.mismatchCount == 0,
      s"${replayed.mismatchCount} of ${replayed.cases} cases differ from the pin; the first:\n$shown")
  }

  test("the corpus reaches every insertion mode in BASELINE.md's coverage table") {
    val modes = replayed.modes.keySet
    info(s"${modes.size} modes, ${replayed.transitions.size} distinct transitions; cases per mode: " +
      modes.toSeq.sorted.map(m => s"$m=${replayed.modes(m)}").mkString(" "))
    assert(CoveredModes.diff(modes).isEmpty, s"no longer reached: ${CoveredModes.diff(modes)}")
  }
}

object PinnedCorpusSpec {
  val ResourcePath = "/pinned-corpus.bin.gz"

  val ExpectedCases: Map[String, Int] =
    Map("tree" -> 74022, "token" -> 18147, "fragment" -> 10289, "bytes" -> 9237, "extract" -> 20883)

  /** The insertion modes BASELINE.md's coverage table lists as reached:
    * all but IN_HEAD_NO_SCRIPT (the renderers parse with scripting on) and
    * the `undefined` sentinel.
    */
  val CoveredModes: Set[String] = Set(
    "INITIAL", "BEFORE_HTML", "BEFORE_HEAD", "IN_HEAD", "AFTER_HEAD", "IN_BODY", "TEXT",
    "IN_TABLE", "IN_TABLE_TEXT", "IN_CAPTION", "IN_COLUMN_GROUP", "IN_TABLE_BODY", "IN_ROW",
    "IN_CELL", "IN_SELECT", "IN_SELECT_IN_TABLE", "IN_TEMPLATE", "AFTER_BODY", "IN_FRAMESET",
    "AFTER_FRAMESET", "AFTER_AFTER_BODY", "AFTER_AFTER_FRAMESET")

  final case class Row(kinds: Int, aux: Option[String], input: Array[Byte])
  final case class PinnedCorpus(rows: IndexedSeq[Row], digests: Array[Long])

  def readCorpus(raw: InputStream): PinnedCorpus = {
    val in = new DataInputStream(new GZIPInputStream(raw, 1 << 16))
    try {
      val n = in.readInt()
      val meta = Vector.fill(n) {
        val kinds = in.readByte().toInt
        val aux = if (in.readBoolean()) Some(in.readUTF()) else None
        (kinds, aux, in.readInt())
      }
      val rows = meta.map { case (kinds, aux, len) =>
        val b = new Array[Byte](len)
        in.readFully(b)
        Row(kinds, aux, b)
      }
      val digests = Array.fill(rows.map(r => Integer.bitCount(r.kinds)).sum)(in.readLong())
      require(in.read() == -1, "trailing bytes after the digests")
      PinnedCorpus(rows, digests)
    } finally in.close()
  }

  /** FNV-1a 64 over the UTF-8 bytes of `s`. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < b.length) {
      h = (h ^ (b(i) & 0xff)) * 0x100000001b3L
      i += 1
    }
    h
  }

  final case class Mismatch(kind: String, aux: Option[String], input: String, rendered: String)

  final case class Replay(cases: Int, checked: Int, seconds: Double, mismatchCount: Int, mismatches: Seq[Mismatch],
                          transitions: Map[(String, String), Int], modes: Map[String, Int])

  /** Renders every (row, kind) and checks it against its digest, on a few
    * deep-stack threads; counts the tree and fragment cases reaching each
    * insertion mode and each (from, to) mode transition. The deep stacks
    * are for two renderers that recurse over the tree:
    * `DatNormalizer.normalizeNode` (the tree and fragment kinds) and
    * `Serializer.serialize` (the extract kind).
    */
  def replay(corpus: PinnedCorpus): Replay = {
    // per row, the index of its first digest
    val offsets = corpus.rows.iterator.map(r => Integer.bitCount(r.kinds)).scanLeft(0)(_ + _).toArray
    val next = new AtomicInteger
    val checked = new AtomicInteger
    val mismatchCount = new AtomicInteger
    val mismatches = new ConcurrentLinkedQueue[Mismatch]
    val threads = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val transitions = Array.fill(threads)(mutable.HashMap.empty[(String, String), Int])
    val modes = Array.fill(threads)(mutable.HashMap.empty[String, Int])
    val workers = (0 until threads).map { w =>
      new Thread(null, () => {
        val seen = mutable.HashSet.empty[(String, String)]
        val record: TreeBuilder.ModeTransition => Unit = t => seen += ((t.fromMode, t.toMode))
        var i = next.getAndIncrement()
        while (i < corpus.rows.length) {
          val row = corpus.rows(i)
          var d = offsets(i)
          PinnedRenderers.Kinds.foreach { case (bit, name) =>
            if ((row.kinds & bit) != 0) {
              seen.clear()
              val rendered = PinnedRenderers.render(bit, row.aux, row.input, record)
              if (fnv64(rendered) != corpus.digests(d) && mismatchCount.incrementAndGet() <= 5)
                mismatches.add(Mismatch(name, row.aux, show(row.input), rendered.take(2000)))
              seen.foreach(t => transitions(w)(t) = transitions(w).getOrElse(t, 0) + 1)
              seen.flatMap { case (from, to) => Seq(from, to) }.foreach(m => modes(w)(m) = modes(w).getOrElse(m, 0) + 1)
              d += 1
              checked.incrementAndGet()
            }
          }
          i = next.getAndIncrement()
        }
      }, s"pinned-corpus-$w", 64L * 1024 * 1024)
    }
    val t0 = System.nanoTime()
    workers.foreach(_.start())
    workers.foreach(_.join())
    def merge[K](maps: Array[mutable.HashMap[K, Int]]): Map[K, Int] =
      maps.iterator.flatten.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    Replay(corpus.digests.length, checked.get, (System.nanoTime() - t0) / 1e9, mismatchCount.get,
      mismatches.asScala.toSeq, merge(transitions), merge(modes))
  }

  private def show(input: Array[Byte]): String = {
    val s = new String(input, StandardCharsets.UTF_8)
    Json.quote(if (s.length > 300) s.take(300) + "…" else s)
  }
}
