package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{KeyedMsg, StatefulOps}

/** Pulsar's own surface: a keyed topic consumed by two subscriptions on
  * RocksDB state, one after the other — `window` (producer-sequence dedup
  * plus a watermarked tumbling-window count per key) and `tableview`
  * (`StatefulOps.tableViewStream`). Each first drains a pre-filled backlog
  * (catch-up), then runs open loop while a generator thread writes sealed
  * segments straight into the topic directory at a fixed offered rate. */
class KeyedStream(spark: SparkSession, a: Main.Args) extends Main.Workload {
  import spark.implicits._
  import KeyedStream.Sub

  /** Offered rate of the open loop, rows/s: about 40% of the `window`
    * subscription's catch-up rate (~10k rows/s on 4 cores) at the commit
    * that defined this benchmark. */
  val RateRowsPerS = 4000
  val SegMs = 100L
  val BacklogRows = 40000
  val BacklogSegRows = 1000
  val WindowMs = 1000L
  val DelayMs = 2000L
  /** Validity limits of a run: generator lateness, and the rows still
    * unread when the generator stops — 3 s of offered load, room for a
    * micro-batch of about a second in flight plus what arrived during it,
    * but not for a backlog that grows. */
  val LagLimitS = 0.5
  val BacklogLimitRows: Long = 3L * RateRowsPerS
  val Subs = Seq("window", "tableview")

  private var subs: Seq[Sub] = Nil

  private def backlog(name: String, dir: File, rows: Int, seed: Long): Sub = {
    val topic = new File(dir, s"$name/topic")
    val sub = Sub(name, new KeyedGen(seed, DelayMs), new TopicWriter(topic), topic)
    val now = Trace.nowMs.toLong
    (0 until rows / BacklogSegRows).foreach { _ =>
      sub.writer.write(Seq.fill(BacklogSegRows)(sub.gen.next(now))) }
    sub
  }

  def stage(dir: File): Unit =
    subs = Subs.zipWithIndex.map { case (n, i) =>
      backlog(n, dir, BacklogRows, a.seed * 31 + i) }

  /** Start subscription `sub`; every micro-batch's output is collected in
    * the sink and stamped with its emission time. */
  def start(sub: Sub, cp: File,
            sink: ConcurrentLinkedQueue[(Double, Array[Row])]): StreamingQuery = {
    val src = spark.readStream.format("graft-topic")
      .option("path", sub.topic.getPath).load()
    val out: DataFrame = sub.name match {
      case "window" =>
        StatefulOps.dedupByProducerSeq(src, "event_time", s"$DelayMs milliseconds")
          .groupBy(window(col("event_time"), s"$WindowMs milliseconds"), col("key"))
          .count()
          .select(unix_millis(col("window.end")).as("wend"), col("key"),
            col("count"))
      case "tableview" =>
        StatefulOps.tableViewStream(src.select(col("key"), col("value"),
            col("offset"), col("event_time").as("eventTime")).as[KeyedMsg])
          .toDF()
    }
    out.writeStream
      .queryName(sub.name)
      .outputMode(if (sub.name == "window") "append" else "update")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        sink.add((Trace.nowMs, rows))
        ()
      }
      .option("checkpointLocation", cp.getPath)
      .start()
  }

  def warmUp(): Unit = Subs.zipWithIndex.foreach { case (n, i) =>
    val dir = new File(a.root, "warm")
    val sub = backlog(n, dir, 2 * BacklogSegRows, a.seed * 31 + 7 + i)
    val q = start(sub, new File(dir, s"$n/cp"), new ConcurrentLinkedQueue())
    q.processAllAvailable()
    sub.writer.write(Seq(sub.gen.flush(Trace.nowMs.toLong, 10 * DelayMs)))
    q.processAllAvailable()
    q.stop()
  }

  private def consumed(q: StreamingQuery): Long =
    q.recentProgress.map(_.numInputRows).sum

  def run(rec: mutable.LinkedHashMap[String, Any]): Unit = {
    // each subscription runs open loop for `--seconds`
    val openSegs = math.max(1, (a.seconds * 1000L / SegMs).toInt)
    val rowsPerSeg = (RateRowsPerS * SegMs / 1000).toInt
    val perSub = subs.map { sub =>
      val sink = new ConcurrentLinkedQueue[(Double, Array[Row])]()
      val cp = new File(a.root, s"${sub.name}/cp")
      val t0 = Trace.nowMs
      val q = Trace.span(spark.sparkContext, "subscription", sub.name) {
        val q = start(sub, cp, sink)
        q.processAllAvailable()
        q
      }
      val catchupS = (Trace.nowMs - t0) / 1e3
      val loop = new OpenLoop(sub.gen, sub.writer.write, rowsPerSeg, SegMs,
        openSegs)
      val th = new Thread(() => loop.run(), s"generator-${sub.name}")
      th.start()
      th.join()
      val backlogEnd = loop.rowsWritten + BacklogRows - consumed(q)
      sub.writer.write(Seq(sub.gen.flush(Trace.nowMs.toLong, 10 * DelayMs)))
      q.processAllAvailable()
      q.stop()
      val progress = q.recentProgress.toSeq
      sub.name -> (Map[String, Any](
        "catchup_s" -> catchupS, "catchup_rows" -> BacklogRows,
        "open_start_ms" -> loop.startMs, "offered_rows" -> loop.rowsWritten,
        "lag_max_s" -> loop.lagMaxS, "backlog_end_rows" -> backlogEnd,
        "progress" -> progress.map(Progress.toMap)) ++
        outcome(sub, sink.asScala.toSeq, progress, loop.startMs))
    }
    rec("subs") = perSub.toMap
    rec("lag_limit_s") = LagLimitS
    rec("backlog_limit_rows") = BacklogLimitRows
  }

  /** Output checks and emission latencies of one subscription. Latency runs
    * from the creation of the last event a result depends on to the end of
    * the micro-batch that emitted it; for a window that event is the one
    * whose event time first moved the watermark past the window's end. Only
    * results caused by events of the open loop are timed. */
  def outcome(sub: Sub, emitted: Seq[(Double, Array[Row])],
              progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
              openStartMs: Double): Map[String, Any] = {
    val evs = sub.gen.events
    val latencies = mutable.ArrayBuffer.empty[Double]
    val dropped = progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    sub.name match {
      case "tableview" =>
        val view = mutable.HashMap.empty[String, (String, Long)]
        emitted.foreach { case (t, rows) => rows.foreach { r =>
          val (k, v, off) = (r.getString(0), r.getString(1), r.getLong(2))
          if (view.get(k).forall(_._2 < off)) view(k) = (v, off)
          if (evs(off.toInt).pubMs >= openStartMs)
            latencies += (t - evs(off.toInt).pubMs) / 1e3
        } }
        val expected = evs.groupBy(_.key).map { case (k, es) =>
          val last = es.maxBy(_.offset); k -> (last.value, last.offset) }
        val wrong = (expected.keySet ++ view.keySet)
          .count(k => expected.get(k) != view.get(k))
        Map("latencies" -> latencies, "wrong" -> wrong.toLong,
          "state_keys" -> view.size, "dropped" -> dropped)
      case "window" =>
        // first offset at which the running max event time reaches each
        // value: the event that moved the watermark there
        val runMax = evs.scanLeft(Long.MinValue)((m, e) =>
          math.max(m, e.eventMs)).tail.toArray
        def mover(wend: Long): Option[Ev] = {
          val need = wend + DelayMs
          var lo = 0; var hi = runMax.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (runMax(mid) >= need) hi = mid else lo = mid + 1
          }
          if (lo < evs.size) Some(evs(lo)) else None
        }
        var total = 0L
        emitted.foreach { case (t, rows) => rows.foreach { r =>
          total += r.getLong(2)
          mover(r.getLong(0)).filter(_.pubMs >= openStartMs)
            .foreach(e => latencies += (t - e.pubMs) / 1e3)
        } }
        val distinct = evs.map(e => (e.producer, e.seq)).distinct.size.toLong
        // the flush event's own window never closes, so it is never counted
        val wrong = math.abs(total + dropped + 1 - distinct)
        Map("latencies" -> latencies, "wrong" -> wrong,
          "window_rows" -> total, "distinct" -> distinct,
          "dups" -> (evs.size - distinct), "dropped" -> dropped,
          "rows" -> evs.size)
    }
  }
}

object KeyedStream {
  /** One subscription's topic, its writer and the generator feeding it. */
  final case class Sub(name: String, gen: KeyedGen, writer: TopicWriter,
                       topic: File)
}
