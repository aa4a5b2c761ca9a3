package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The layers of the program, named after its modules, and the metrics a
  * traced run reports for each. Every layer gets the six generic metrics;
  * `specific` lists the layer's own. */
object Layers {
  val generic: Seq[(String, String)] = Seq(
    "busy_s" -> "s", "idle_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "cpu_s" -> "s", "shuffle_mb" -> "MB")

  val specific: Seq[(String, Seq[(String, String)])] = Seq(
    "UrlIngest" -> Seq("docs" -> "count", "mb" -> "MB", "attempts_per_doc" -> "count"),
    "Validation" -> Seq("rejected" -> "count"),
    "DocExtract" -> Seq("mb_per_s" -> "MB/s", "chunks" -> "count"),
    "Chunking" -> Seq("chunks" -> "count"),
    "Embedding" -> Seq("fit_s" -> "s", "embed_s" -> "s", "query_s" -> "s"),
    "IvfIndex" -> Seq("build_s" -> "s", "probe_s" -> "s", "probe_jobs" -> "count",
      "scan_ratio" -> "ratio", "append_s" -> "s", "compact_s" -> "s", "files" -> "count"),
    "Retrieval" -> Seq("bm25_s" -> "s", "bm25_jobs" -> "count", "rrf_s" -> "s"),
    "Html" -> Seq("pages" -> "count", "mb_per_s" -> "MB/s"),
    "Cleaning" -> Seq("boiler_lines" -> "count", "kept_ratio" -> "ratio"),
    "Decontaminate" -> Seq("clipped" -> "count"),
    "Dedup" -> Seq("pairs" -> "count"),
    "CrawlCorpus" -> Seq(),
    "Dsir" -> Seq("fit_s" -> "s", "score_s" -> "s"),
    "Wordpiece" -> Seq("learn_s" -> "s", "tokens" -> "count"))

  /** Every per-layer metric, in report order: (name, unit). */
  val metrics: Seq[(String, String)] =
    specific.flatMap { case (layer, own) =>
      (generic ++ own).map { case (m, u) => s"$layer.$m" -> u }
    } :+ ("trace.overhead_s" -> "s")
}

/** Job, stage and task tallies keyed by the job group the benchmark set
  * around each layer call (`<Layer>` or `<Layer>|<call>`). */
final class LayerListener extends SparkListener {
  final class Tally {
    var jobs = 0L; var stages = 0L; var cpuNs = 0L; var shuffleBytes = 0L
    val tasks = mutable.ArrayBuffer[(Long, Long)]() // launch, finish (ms)
  }
  val byGroup = mutable.HashMap[String, Tally]()
  private val stageGroup = mutable.HashMap[Int, String]()

  private def tally(g: String) = byGroup.getOrElseUpdate(g, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(PerfbenchBus.JobGroupKeys.head)))
    g.foreach { group =>
      tally(group).jobs += 1
      e.stageIds.foreach(s => stageGroup.put(s, group))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => tally(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val t = tally(g)
      t.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        t.cpuNs += m.executorCpuTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

/** Spans around the calls into each layer. Off, a span only runs its
  * body. On, it sets a job group named after the layer, forces nothing
  * itself (the workload forces each layer's output with [[force]]), and
  * records its wall time; the listener attributes the jobs to it. */
final class Trace(val enabled: Boolean) {
  private val busyNs = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private val spans = mutable.ArrayBuffer[(String, Long, Long)]() // layer, start, end (ms)
  private val sums = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val samples = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  private var listener: LayerListener = _
  private var sc: SparkContext = _
  /** Whether spans of the current round are recorded (trace mode
    * alternates untraced and traced rounds). */
  @volatile var recording = false
  var rounds = 0

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    listener = new LayerListener
    sc.addSparkListener(listener)
  }

  def detach(): Unit = if (listener != null) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  private val GroupKeys = PerfbenchBus.JobGroupKeys

  /** Runs `body` as a call into `layer`; `call` names a sub-call whose
    * wall time is reported as `<layer>.<call>_s`. */
  def span[T](layer: String, call: String = null)(body: => T): T =
    if (!recording) body
    else {
      val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(if (call == null) layer else s"$layer|$call", layer)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        synchronized {
          busyNs(layer) += dt
          spans += ((layer, w0, System.currentTimeMillis()))
          if (call != null) sums(s"$layer.${call}_s") += dt / 1e9
        }
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }

  /** A layer's output, forced at its boundary when tracing, so that its
    * work is attributed to it and not to the layer that reads it. */
  def force(df: DataFrame): DataFrame =
    if (recording) df.localCheckpoint(eager = true) else df

  /** Adds to a per-round count (reported as the mean per traced round). */
  def add(name: String, v: Double): Unit = if (recording) synchronized { sums(name) += v }

  /** Records one sample of a ratio (reported as the mean of samples). */
  def sample(name: String, v: Double): Unit = if (recording) synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }

  /** Jobs the listener attributed to `layer|call` so far. */
  def jobsOf(group: String): Long = {
    PerfbenchBus.drain(sc)
    listener.synchronized(listener.byGroup.get(group).map(_.jobs).getOrElse(0L))
  }

  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** The per-layer metrics, per traced round: (name, value, unit). */
  def report(overheadS: Double): Seq[(String, Double, String)] = {
    PerfbenchBus.drain(sc)
    val n = math.max(rounds, 1).toDouble
    val byLayer = listener.synchronized {
      listener.byGroup.toSeq.groupBy(_._1.takeWhile(_ != '|')).map { case (layer, gs) =>
        val ts = gs.map(_._2)
        layer -> (ts.map(_.jobs).sum, ts.map(_.stages).sum, ts.map(_.cpuNs).sum,
          ts.map(_.shuffleBytes).sum, union(ts.flatMap(_.tasks)))
      }
    }
    val idleMs = spans.groupBy(_._1).map { case (layer, ss) =>
      val tasks = byLayer.get(layer).map(_._5).getOrElse(Nil)
      layer -> ss.map { case (_, s, e) =>
        val covered = tasks.map { case (a, b) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
        math.max(0L, (e - s) - covered)
      }.sum
    }
    val values = mutable.HashMap[String, Double]()
    Layers.specific.map(_._1).foreach { layer =>
      val (jobs, stages, cpu, shuffle, _) = byLayer.getOrElse(layer, (0L, 0L, 0L, 0L, Nil))
      values(s"$layer.busy_s") = busyNs(layer) / 1e9 / n
      values(s"$layer.idle_s") = idleMs.getOrElse(layer, 0L) / 1e3 / n
      values(s"$layer.jobs") = jobs / n
      values(s"$layer.stages") = stages / n
      values(s"$layer.cpu_s") = cpu / 1e9 / n
      values(s"$layer.shuffle_mb") = shuffle / 1e6 / n
    }
    sums.foreach { case (k, v) => values(k) = v / n }
    samples.foreach { case (k, vs) => values(k) = vs.sum / vs.size }
    // a layer's input megabytes over its busy time
    Seq("DocExtract", "Html").foreach { layer =>
      val busy = values(s"$layer.busy_s")
      if (busy > 0) values(s"$layer.mb_per_s") = sums(s"$layer.mb") / n / busy
    }
    values("IvfIndex.probe_jobs") = jobsOf("IvfIndex|probe") / n
    values("Retrieval.bm25_jobs") = jobsOf("Retrieval|bm25") / n
    values("trace.overhead_s") = overheadS
    Layers.metrics.map { case (m, u) => (m, values.getOrElse(m, 0.0), u) }
  }
}
