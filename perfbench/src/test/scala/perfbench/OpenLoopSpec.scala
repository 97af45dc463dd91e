package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  private def topicDir(): File = Files.createTempDirectory("openloop").toFile

  private def segments(topic: File): Seq[File] =
    Option(new File(topic, "partition-000").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("segment-")).sortBy(_.getName)

  test("a stalled write shows as lateness of the segments it delayed, " +
    "and the anchored schedule catches up") {
    var now = 0.0
    val writer = new TopicWriter(topicDir())
    var n = 0
    def write(evs: Seq[Ev]): Unit = {
      n += 1
      if (n == 3) now += 250 // the third segment takes 250 ms to publish
      writer.write(evs)
    }
    val loop = new OpenLoop(new KeyedGen(1, 2000), write, rowsPerSeg = 10,
      segMs = 100, segments = 8, clock = () => now,
      sleep = ms => now += ms)
    loop.run()
    assert(loop.lateness.map(math.round) ==
      Seq(0L, 0L, 250L, 150L, 50L, 0L, 0L, 0L))
    assert(loop.lagMaxS == 0.25)
    assert(loop.rowsWritten == 80)
  }

  test("a consumer that never reads cannot slow the generator") {
    val topic = topicDir()
    // the stalled consumer: a subscriber thread that holds the topic open
    // and never advances
    val stalled = new Thread(() => try Thread.sleep(60000) catch {
      case _: InterruptedException => () })
    stalled.start()
    val gen = new KeyedGen(7, 2000)
    val loop = new OpenLoop(gen, new TopicWriter(topic).write, rowsPerSeg = 400,
      segMs = 50, segments = 20)
    val t0 = System.nanoTime()
    loop.run()
    val wallMs = (System.nanoTime() - t0) / 1e6
    stalled.interrupt()
    assert(segments(topic).size == 20)
    assert(loop.rowsWritten == 8000 && gen.events.size == 8000)
    assert(loop.lagMaxS < 0.2, s"lag ${loop.lagMaxS}")
    assert(wallMs < 20 * 50 + 200, s"wall $wallMs ms")
  }

  test("the stream mixes late, out-of-order and duplicate events") {
    val gen = new KeyedGen(3, delayMs = 2000)
    (0 until 20000).foreach(i => gen.next(1000000L + i))
    val kinds = gen.events.groupBy(_.kind).map { case (k, es) =>
      k -> es.size / 20000.0 }
    assert(math.abs(kinds(1) - 0.05) < 0.01)
    assert(math.abs(kinds(2) - 0.01) < 0.005)
    assert(math.abs(kinds(3) - 0.02) < 0.005)
    val ids = gen.events.filter(_.kind != 3).map(e => (e.producer, e.seq))
    assert(ids.distinct.size == ids.size)
    gen.events.filter(_.kind == 3).foreach { d =>
      assert(ids.contains((d.producer, d.seq)))
    }
    assert(gen.events.map(_.offset) == gen.events.indices.map(_.toLong))
  }
}
