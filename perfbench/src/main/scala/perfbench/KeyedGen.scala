package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** One message of the keyed stream. `pubMs` is its creation time; `kind` is
  * 0 for an in-order event, 1 out of order within the watermark, 2 late
  * beyond it, 3 a duplicate (producer_name, sequence_id) of a recent one. */
final case class Ev(offset: Long, key: String, value: String, eventMs: Long,
                    pubMs: Long, producer: String, seq: Long, kind: Int)

/** Seeded keyed message stream: Zipf-skewed keys, ~5% of events out of order
  * within the watermark delay, ~1% late beyond it and ~2% duplicate
  * (producer_name, sequence_id) pairs. Every emitted event is kept, indexed
  * by offset, so outputs can be checked and latencies attributed. */
final class KeyedGen(seed: Long, delayMs: Long, keys: Int = 1000,
                     producers: Int = 8, zipfS: Double = 1.1) {
  private val rng = new scala.util.Random(seed)
  private val cdf: Array[Double] = {
    val w = (1 to keys).map(k => 1.0 / math.pow(k, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val seqs = Array.fill(producers)(0L)
  val events = mutable.ArrayBuffer.empty[Ev]

  private def zipfKey(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    s"k${if (i >= 0) i else -i - 1}"
  }

  def next(nowMs: Long): Ev = {
    val offset = events.size.toLong
    val u = rng.nextDouble()
    val ev =
      if (u < 0.02 && events.nonEmpty) {
        val src = events(math.max(0, events.size - 1 - rng.nextInt(8)))
        if (src.kind == 0) src.copy(offset = offset, pubMs = nowMs, kind = 3)
        else fresh(offset, nowMs, 0)
      } else if (u < 0.03) fresh(offset, nowMs, 2)
      else if (u < 0.08) fresh(offset, nowMs, 1)
      else fresh(offset, nowMs, 0)
    events += ev
    ev
  }

  private def fresh(offset: Long, nowMs: Long, kind: Int): Ev = {
    val p = rng.nextInt(producers)
    seqs(p) += 1
    val eventMs = kind match {
      case 1 => nowMs - 1 - rng.nextInt((delayMs / 2).toInt)
      case 2 => nowMs - 3 * delayMs - rng.nextInt(delayMs.toInt)
      case _ => nowMs
    }
    Ev(offset, zipfKey(), s"v$offset", eventMs, nowMs, s"p$p", seqs(p), kind)
  }

  /** An in-order event far enough ahead in event time to close every open
    * window once it is read. */
  def flush(nowMs: Long, aheadMs: Long): Ev = {
    val e = fresh(events.size.toLong, nowMs, 0).copy(eventMs = nowMs + aheadMs)
    events += e
    e
  }
}

/** Writes sealed JSONL segments of one `graft-topic` partition directly,
  * without Spark: each segment is written under a hidden name and renamed
  * into place, and names grow monotonically within their family, which is
  * the source's contract for admitting new segments. */
final class TopicWriter(topic: File) {
  private val dir = new File(topic, "partition-000")
  dir.mkdirs()
  private var n = 0L

  def write(evs: Seq[Ev]): Unit = {
    n += 1
    val name = f"segment-g$n%013d.jsonl"
    val tmp = new File(dir, s".$name.tmp")
    val out = new PrintWriter(tmp, "UTF-8")
    try evs.foreach { e =>
      out.println(s"""{"topic":"keyed","partition":0,"offset":${e.offset},"key":"${e.key}","value":"${e.value}","event_time_ms":${e.eventMs},"publish_time_ms":${e.pubMs},"producer_name":"${e.producer}","sequence_id":${e.seq}}""")
    } finally out.close()
    if (!tmp.renameTo(new File(dir, name)))
      throw new java.io.IOException(s"could not publish segment $name")
  }
}

/** Open-loop generator: segment `i` of `rows` events is due at
  * `start + i * segMs` and is written as soon as it is due, whatever the
  * consumer is doing. Its events are stamped with the due time, so latency
  * measured from that stamp includes any wait the generator imposed.
  * Lateness is the time a segment became visible minus its due time; the
  * schedule never slips, so a stall shows as lateness of the segments it
  * delayed and the generator then catches up. */
final class OpenLoop(gen: KeyedGen, write: Seq[Ev] => Unit, rowsPerSeg: Int,
                     segMs: Long, segments: Int,
                     clock: () => Double = () => Trace.nowMs,
                     sleep: Long => Unit = ms => Thread.sleep(ms)) {
  val lateness = mutable.ArrayBuffer.empty[Double]
  @volatile var rowsWritten = 0L
  var startMs = 0.0

  def run(): Unit = {
    startMs = clock()
    for (i <- 0 until segments) {
      val due = startMs + i * segMs
      val wait = due - clock()
      if (wait > 0) sleep(math.ceil(wait).toLong)
      write(Seq.fill(rowsPerSeg)(gen.next(due.toLong)))
      rowsWritten += rowsPerSeg
      lateness += math.max(0.0, clock() - due)
    }
  }

  def lagMaxS: Double = if (lateness.isEmpty) 0.0 else lateness.max / 1e3
}
