package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** Operation accounting: every run attempts whole rounds of the same
  * operations; an operation fails when its check fails or it throws. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L

  /** Runs one operation; `body` performs it and returns the names of the
    * checks its output failed (empty when correct). */
  def run(name: String)(body: => Seq[String]): Unit = {
    attempted += 1
    try {
      val bad = body
      if (bad.nonEmpty) {
        failed += 1; wrong += 1
        System.err.println(s"[perfbench] FAILED $name: ${bad.mkString("; ")}")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $name: threw $e")
        e.printStackTrace()
    }
  }
}

/** End-to-end samples of the measured rounds. `items`/`itemSecs` give
  * the throughput, `batchSecs` the per-batch latency, `storeMb` the size
  * of what the workload leaves on disk; `timedSecs` is all timed work
  * (checks left out). */
final class Measures {
  var items = 0.0
  var itemSecs = 0.0
  var timedSecs = 0.0
  val batchSecs = mutable.ArrayBuffer[Double]()
  val storeMb = mutable.ArrayBuffer[Double]()

  def add(o: Measures): Unit = {
    items += o.items; itemSecs += o.itemSecs; timedSecs += o.timedSecs
    batchSecs ++= o.batchSecs; storeMb ++= o.storeMb
  }
}

/** One workload: inputs made from a seed, a small warm-up pass, and a
  * round of measured operations. */
trait Workload {
  /** Builds the inputs under `dir` from `seed`; runs outside all timing. */
  def generate(spark: SparkSession, seed: Long, dir: File): Unit
  /** One pass over the small warm-up input. */
  def warmUp(spark: SparkSession): Unit
  /** One round of the measured operations. */
  def round(spark: SparkSession, trace: Trace, ops: Ops, m: Measures): Unit
}

object Main {
  val SfDir = "/root/testdata/sf0.1"
  val Setups = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirMb(f: File): Double =
    if (!f.exists()) 0.0
    else if (f.isFile) f.length() / 1e6
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .map(dirMb).sum

  /** Data files under `f` (hidden and marker files left out). */
  def files(f: File): Long =
    if (!f.exists() || f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles()).toSeq.flatten.map(files).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def session(work: File): SparkSession = {
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    val wl: Workload = name match {
      case "doc_qa" => new DocQa(work)
      case "web_curation" => new WebCuration(work)
      case "index_stream" => new IndexStream(work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start plus one warm-up pass, several times; the
    // first is timed from main entry, input generation is left out
    var spark = session(work)
    val firstStart = secs(t0)
    wl.generate(spark, seed, new File(work, "input"))
    val setups = mutable.ArrayBuffer[Double]()
    var t = System.nanoTime()
    wl.warmUp(spark)
    setups += firstStart + secs(t)
    for (_ <- 2 to Setups) {
      spark.stop()
      t = System.nanoTime()
      spark = session(work)
      wl.warmUp(spark)
      setups += secs(t)
    }

    // measured rounds; a traced run alternates untraced and traced
    // rounds, starting and ending untraced so that warm-up still going on
    // cancels out of the tracing overhead (mean traced minus mean untraced)
    val trace = new Trace(traced)
    trace.attach(spark)
    val ops = new Ops
    val m = new Measures
    val plain = mutable.ArrayBuffer[Double]()
    val withTrace = mutable.ArrayBuffer[Double]()
    val minRounds = if (traced) 3 else 1
    var rounds = 0
    val start = System.nanoTime()
    while (rounds < minRounds || secs(start) < seconds || (traced && rounds % 2 == 0)) {
      trace.recording = traced && rounds % 2 == 1
      val rm = new Measures
      wl.round(spark, trace, ops, rm)
      (if (trace.recording) withTrace else plain) += rm.timedSecs
      if (!trace.recording) m.add(rm)
      if (trace.recording) trace.rounds += 1
      rounds += 1
    }
    trace.recording = false
    val metrics: Seq[(String, Double, String)] =
      if (traced) {
        val overhead = withTrace.sum / withTrace.size - plain.sum / plain.size
        trace.report(overhead)
      } else Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("throughput_per_s", m.items / m.itemSecs, "1/s"),
        ("batch_p50_s", median(m.batchSecs.toSeq), "s"),
        ("store_mb", median(m.storeMb.toSeq), "MB"))
    trace.detach()
    val ms = metrics.map { case (k, v, u) => s"""${json(k)}: {"value": $v, "unit": ${json(u)}}""" }
    if (traced) {
      val out = new File(opts("trace-out"))
      out.getParentFile.mkdirs()
      java.nio.file.Files.writeString(out.toPath,
        s"""{"workload": ${json(name)}, "seed": $seed, "traced_rounds": ${trace.rounds},""" +
          s""" "untraced_rounds": ${plain.size}, "metrics": {\n  ${ms.mkString(",\n  ")}\n}}\n""")
    }
    spark.stop()
    println(s"""PERFBENCH_RESULT {"correct": ${ops.wrong == 0}, "attempted": ${ops.attempted},""" +
      s""" "failed": ${ops.failed}, "metrics": {${ms.mkString(", ")}}}""")
    System.err.println(s"[perfbench] rounds=$rounds setups=${setups.map(x => f"$x%.2f").mkString(",")}" +
      s" batches=${m.batchSecs.map(x => f"$x%.2f").mkString(",")}")
  }
}
