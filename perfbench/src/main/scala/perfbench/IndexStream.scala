package perfbench

import graft.io.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.io.File
import scala.util.Random

/** index_stream: half of the vectors are built into a persisted IVF
  * index; the rest arrive as Structured Streaming micro-batches appended
  * through `foreachBatch`. A probe batch follows every micro-batch, a
  * compaction every second one, and one committed batch is replayed. */
final class IndexStream(work: File) extends Workload {
  import IndexStream._

  private var measured: Vectors = _
  private var warm: Vectors = _

  def generate(spark: SparkSession, seed: Long, dir: File): Unit = {
    val emb = Source.embeddings(spark)
    measured = Vectors.make(emb, MeasuredBase, MeasuredBatch, new Random(seed))
    warm = Vectors.make(emb, WarmBase, WarmBatch, new Random(seed + 1))
  }

  def warmUp(spark: SparkSession): Unit = runRound(spark, warm, new Trace(false), new Ops, new Measures)

  def round(spark: SparkSession, trace: Trace, ops: Ops, m: Measures): Unit =
    runRound(spark, measured, trace, ops, m)

  private def runRound(spark: SparkSession, v: Vectors, trace: Trace, ops: Ops, m: Measures): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val state = new File(work, "stream")
    Main.deleteTree(state)
    val dir = new File(state, "index").getAbsolutePath
    def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
      rows.map { case (id, x) => (id, x.toSeq) }.toDF("vec_id", "embedding")
    def queries(b: Int): DataFrame =
      v.queries(b).zipWithIndex.map { case (q, i) => (i, q.toSeq) }.toDF("q_vec_id", "q_embedding")

    var built = false
    ops.run("index_stream.build") {
      trace.span("IvfIndex", "build") { IvfIndex.build(frame(v.base), dir, nlist = NList) }
      built = true
      Nil
    }
    if (!built) return

    val input = MemoryStream[(Long, Seq[Float])]
    val query = input.toDF()
      .selectExpr("_1 AS vec_id", "CAST(_2 AS ARRAY<FLOAT>) AS embedding")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        trace.span("IvfIndex", "append") { IvfIndex.append(b, dir, batchId = Some(id)) }
      }
      .option("checkpointLocation", new File(state, "checkpoint").getAbsolutePath)
      .start()
    var streamSecs = 0.0
    try {
      for ((batch, b) <- v.stream.zipWithIndex) {
        ops.run("index_stream.append") {
          val t0 = System.nanoTime()
          input.addData(batch.map { case (id, x) => (id, x.toSeq) })
          query.processAllAvailable()
          streamSecs += Main.secs(t0)
          query.exception.map(e => s"stream stopped: $e").toSeq
        }
        ops.run("index_stream.probe") {
          val t0 = System.nanoTime()
          val got = trace.span("IvfIndex", "probe") {
            IvfIndex.probe(spark, dir, queries(b), k = K, nprobe = NProbe)
              .select("q_vec_id", "vec_id", "score", "rank").as[(Int, Long, Double, Int)].collect()
          }
          val secs = Main.secs(t0)
          m.batchSecs += secs; m.timedSecs += secs
          if (trace.recording) trace.sample("IvfIndex.scan_ratio", scanRatio(spark, dir, v, b))
          // every query gets k hits, ranked 1..k by non-increasing score
          got.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
            val s = rs.sortBy(_._4)
            if (s.map(_._4).toSeq != (1 to K) || s.map(_._3).toSeq != s.map(_._3).sorted.reverse.toSeq)
              Seq(s"probe batch $b query $q is not a ranked top-$K list") else Nil
          } ++ (if (got.map(_._1).distinct.length != v.queries(b).size) Seq(s"probe batch $b lost queries") else Nil)
        }
        if (b % CompactEvery == CompactEvery - 1) {
          ops.run("index_stream.compact") {
            val t0 = System.nanoTime()
            trace.span("IvfIndex", "compact") { IvfIndex.compact(spark, dir, foldMinRatio = 0.0) }
            streamSecs += Main.secs(t0)
            Nil
          }
        }
        if (b == CompactEvery) {
          // at-least-once replay of a batch the first compaction folded
          ops.run("index_stream.replay") {
            val before = Main.files(new File(dir))
            trace.span("IvfIndex", "append") {
              IvfIndex.append(frame(v.stream(1)), dir, batchId = Some(1L))
            }
            val after = Main.files(new File(dir))
            if (after != before) Seq(s"replayed batch 1 changed the index ($before -> $after files)") else Nil
          }
        }
      }
    } finally query.stop()
    m.items += v.stream.map(_.size).sum
    m.itemSecs += streamSecs; m.timedSecs += streamSecs
    m.storeMb += Main.dirMb(new File(dir))
    if (trace.recording) trace.add("IvfIndex.files", Main.files(new File(dir)))

    ops.run("index_stream.verify") {
      val ids = spark.read.parquet(s"$dir/vectors").select("vec_id").as[Long].collect()
      val stored = ids.groupBy(identity).collect { case (id, o) if o.length != 1 => s"id $id stored ${o.length} times" }
      val expected = v.base.size + v.stream.map(_.size).sum
      val all = v.base ++ v.stream.flatten
      val missing = all.map(_._1).toSet -- ids
      val q = v.queries.last
      val got = IvfIndex.probe(spark, dir, q.zipWithIndex.map { case (x, i) => (i, x.toSeq) }
          .toDF("q_vec_id", "q_embedding"), k = K, nprobe = NList)
        .select("q_vec_id", "vec_id", "rank").as[(Int, Long, Int)].collect()
        .groupBy(_._1).map { case (i, rs) => i -> rs.sortBy(_._3).map(_._2).toSeq }
      val exact = q.indices.collect {
        case i if got.getOrElse(i, Nil) != Reference.cosineTopK(q(i), all, K) =>
          s"full probe of query $i differs from brute force"
      }
      stored.toSeq ++ exact ++
        (if (ids.length != expected) Seq(s"index holds ${ids.length} rows, expected $expected") else Nil) ++
        (if (missing.nonEmpty) Seq(s"${missing.size} streamed ids missing") else Nil)
    }
  }

  /** Rows in the cells probe batch `b` reads over rows in the index. */
  private def scanRatio(spark: SparkSession, dir: String, v: Vectors, b: Int): Double = {
    val cents = IvfIndex.centroids(spark, dir).map { case (c, x) => c -> x.toArray }
    val live = v.base ++ v.stream.take(b + 1).flatten
    val cellOf = live.map { case (_, x) => Reference.probeCells(x, cents, 1).head }
    val probed = v.queries(b).flatMap(q => Reference.probeCells(q, cents, NProbe)).toSet
    cellOf.count(probed).toDouble / live.size
  }
}

object IndexStream {
  val MeasuredBase = 2000
  val MeasuredBatch = 250
  val WarmBase = 200
  val WarmBatch = 25
  val Batches = 4
  val CompactEvery = 2
  val NList = 16
  val NProbe = 4
  val K = 10
  val Queries = 10

  /** Base vectors, micro-batches and one query batch per micro-batch,
    * each vector an sf0.1 embedding plus Gaussian jitter (sigma 0.02). */
  final case class Vectors(base: Seq[(Long, Array[Float])], stream: Seq[Seq[(Long, Array[Float])]],
                           queries: Seq[Seq[Array[Float]]])

  object Vectors {
    def make(emb: IndexedSeq[Array[Float]], nBase: Int, batch: Int, rnd: Random): Vectors = {
      def jitter(): Array[Float] =
        emb(rnd.nextInt(emb.size)).map(x => (x + rnd.nextGaussian() * 0.02).toFloat)
      val base = (0 until nBase).map(i => i.toLong -> jitter())
      val stream = (0 until Batches).map(b => (0 until batch).map(i => (nBase + b * batch + i).toLong -> jitter()))
      Vectors(base, stream, Seq.fill(Batches)(Seq.fill(Queries)(jitter())))
    }
  }
}
