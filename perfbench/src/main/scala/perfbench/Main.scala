package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM: start the session, stage the inputs
  * (three times, into fresh directories, so staging is reported as a
  * median; the last round's inputs are the ones measured), warm up, run
  * the workload for about `--seconds`, and write the raw record
  * (`result.json`) plus, on traced runs, the span and listener events
  * (`trace.jsonl`) under `--root`. Metrics are derived from those
  * files by `run.py`; this side only measures.
  *
  * Usage: Main --workload <board|keyed_stream> --seed <n>
  *   --seconds <s> --trace <0|1> --root <run dir> --data <input dir>
  */
object Main {
  val Cores = 4
  val StageRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: File, data: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", new File(m("root")), m("data"))
  }

  /** Spark confs of the repo's own drivers: `graft.Bench` for the board,
    * `graft.StreamBench` (AQE off, state in RocksDB) for the keyed
    * stream. */
  def session(workload: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", (workload == "board").toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (workload == "keyed_stream")
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def loadavg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** What a workload provides: a staging step that can be repeated into a
    * fresh directory (the last call's inputs are the measured ones), a
    * warm-up over the staged inputs, and the measured run, which fills
    * `rec`. */
  trait Workload {
    def warmUp(): Unit
    def stage(dir: File): Unit
    def run(rec: mutable.LinkedHashMap[String, Any]): Unit
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> Cores)
    val t0 = Trace.nowMs
    val spark = session(a.workload)
    rec("session_s") = (Trace.nowMs - t0) / 1e3
    if (a.trace) spark.sparkContext.addSparkListener(new Trace.JobListener)
    val w: Workload = a.workload match {
      case "board" => new Board(spark, a)
      case "keyed_stream" => new KeyedStream(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec("stage_s") = (1 to StageRounds).map { i =>
      val dir = new File(a.root, s"stage-$i")
      val s0 = Trace.nowMs
      Trace.span(spark.sparkContext, "stage", s"setup-$i")(w.stage(dir))
      (Trace.nowMs - s0) / 1e3
    }
    val t1 = Trace.nowMs
    Trace.span(spark.sparkContext, "warmup", "setup")(w.warmUp())
    rec("warmup_s") = (Trace.nowMs - t1) / 1e3
    rec("timed_t0") = Trace.nowMs
    w.run(rec)
    rec("timed_t1") = Trace.nowMs
    rec("peak_rss_mb") = peakRssMb()
    rec("loadavg_end") = loadavg
    spark.stop()
    Files.writeString(Paths.get(a.root.getPath, "result.json"), json(rec))
    if (a.trace) {
      val out = new java.io.PrintWriter(new File(a.root, "trace.jsonl"))
      try Trace.events.forEach(e => out.println(json(e)))
      finally out.close()
    }
  }
}
