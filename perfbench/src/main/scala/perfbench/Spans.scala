package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span log of one benchmark run, written out when the run ends.
  *
  * Times are epoch microseconds: the benchmark's own spans convert
  * `System.nanoTime` readings with [[Spans.us]], Spark's listener events
  * arrive in epoch milliseconds. Every span shares the run id.
  */
final class Spans(val runId: String) {
  private val names = ArrayBuffer.empty[String]
  private val parents = ArrayBuffer.empty[Int]
  private val starts = ArrayBuffer.empty[Long]
  private val ends = ArrayBuffer.empty[Long]
  private val turns = ArrayBuffer.empty[String]

  /** Adds a span and returns its id. `parent` is -1 for a root span. */
  def add(name: String, parent: Int, startUs: Long, endUs: Long, turn: String = null): Int = {
    names += name; parents += parent; starts += startUs; ends += endUs; turns += turn
    names.length - 1
  }

  def setEnd(id: Int, endUs: Long): Unit = ends(id) = endUs

  def size: Int = names.length

  /** Self time: the span's duration minus the part of it its children cover. */
  private def selfTimes(): Array[Long] = {
    val kids = Array.fill(names.length)(ArrayBuffer.empty[Int])
    parents.indices.foreach(i => if (parents(i) >= 0) kids(parents(i)) += i)
    Array.tabulate(names.length) { i =>
      val s = starts(i); val e = ends(i)
      var covered = 0L
      var reach = s
      kids(i).sortBy(starts(_)).foreach { k =>
        val ks = math.max(starts(k), reach); val ke = math.min(ends(k), e)
        if (ke > ks) { covered += ke - ks; reach = ke }
      }
      (e - s) - covered
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes()
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      var i = 0
      while (i < names.length) {
        w.write(s"""{"run":"$runId","id":$i,"parent":${parents(i)},"name":"${names(i)}",""" +
          s""""start_us":${starts(i)},"end_us":${ends(i)},"self_us":${self(i)}""" +
          (if (turns(i) == null) "}" else s""","turn":"${turns(i)}"}"""))
        w.newLine()
        i += 1
      }
    } finally w.close()
  }
}

object Spans {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  /** Epoch microseconds of a `System.nanoTime` reading. */
  def us(nano: Long): Long = epochUs0 + (nano - nano0) / 1000L
}
