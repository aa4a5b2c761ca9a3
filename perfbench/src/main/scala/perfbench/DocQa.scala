package perfbench

import graft.io.IvfIndex
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Random

/** doc_qa: documents rendered as DOCX, PDF and EML files are ingested
  * into a chunk table and an IVF index, then questions are answered in
  * batches of ten by vector probe plus BM25, fused by RRF. */
final class DocQa(work: File) extends Workload {
  import DocQa._

  private var measured: Corpus = _
  private var warm: Corpus = _

  def generate(spark: SparkSession, seed: Long, dir: File): Unit = {
    val texts = Source.documents(spark)
    val rnd = new Random(seed)
    measured = Corpus.make(new File(dir, "docs"), texts, MeasuredDocs, rnd)
    warm = Corpus.make(new File(dir, "warm"), texts, WarmDocs, new Random(seed + 1))
  }

  def warmUp(spark: SparkSession): Unit =
    runRound(spark, warm, new Trace(false), new Ops, new Measures, batches = 1)

  def round(spark: SparkSession, trace: Trace, ops: Ops, m: Measures): Unit =
    runRound(spark, measured, trace, ops, m, Batches)

  private def runRound(spark: SparkSession, c: Corpus, trace: Trace, ops: Ops,
                       m: Measures, batches: Int): Unit = {
    import spark.implicits._
    val state = new File(work, "docqa")
    val chunkDir = new File(state, "chunks").getAbsolutePath
    val indexDir = new File(state, "index").getAbsolutePath
    var model: org.apache.spark.ml.PipelineModel = null
    var validated: DataFrame = null
    ops.run("doc_qa.ingest") {
      val t0 = System.nanoTime()
      val urls = c.docs.map(d => new File(c.dir, d.file).toURI.toString).toDF("url")
      val fetched = trace.span("UrlIngest") {
        trace.force(UrlIngest.fetchBytes(urls).select(col("url"), col("content"), col("attempts"),
          regexp_extract(col("url"), "([^/]+)\\.([a-z]+)$", 1).as("doc"),
          regexp_extract(col("url"), "\\.([a-z]+)$", 1).as("fmt")))
      }
      validated = trace.span("Validation") {
        trace.force(fetched
          .withColumn("mime", Validation.sniffMime(col("content").cast("string")))
          .join(DocExtract.validateAll(fetched).select("doc", "is_valid", "error"), "doc"))
      }
      val units = trace.span("DocExtract") {
        val ok = validated.filter(col("is_valid")).select("doc", "fmt", "content")
        val docx = DocExtract.docxChunks(ok.filter(col("fmt") === "docx"))
          .select(col("doc"), regexp_extract(col("chunk_id"), "_(\\d+)$", 1).cast("int").as("ord"),
            when(col("chunk_type") === "table", "table").otherwise("text").as("kind"),
            col("content"))
        val pdf = DocExtract.pdfPages(ok.filter(col("fmt") === "pdf"))
          .select(col("doc"), col("page").as("ord"), lit("text").as("kind"), col("content"))
        val eml = DocExtract.emlChunksDF(ok.filter(col("fmt") === "eml"))
          .filter(col("chunk_type") =!= "headers")
          .select(col("doc"), regexp_extract(col("chunk_id"), "_(\\d+)$", 1).cast("int").as("ord"),
            lit("text").as("kind"), col("content"))
        trace.force(docx.unionByName(pdf).unionByName(eml)
          .select(concat_ws("~", col("doc"), col("kind"), format_string("%05d", col("ord"))).as("unit_id"),
            col("content")))
      }
      trace.span("Chunking") {
        Chunking.paragraphChunks(units, minChars = 20, idCol = "unit_id", textCol = "content")
          .select(col("chunk_id"), col("document_id").as("unit_id"), col("content"))
          .write.mode("overwrite").parquet(chunkDir)
      }
      val chunks = spark.read.parquet(chunkDir)
      model = trace.span("Embedding", "fit") {
        Embedding.fit(chunks.withColumnRenamed("content", "text"))
      }
      val embedded = trace.span("Embedding", "embed") {
        trace.force(Embedding.embed(model, chunks.withColumnRenamed("content", "text"))
          .select("chunk_id", "embedding"))
      }
      trace.span("IvfIndex", "build") {
        IvfIndex.build(embedded, indexDir, nlist = NList, idCol = "chunk_id")
      }
      val secs = Main.secs(t0)
      m.items += c.docs.size; m.itemSecs += secs; m.timedSecs += secs
      m.storeMb += Main.dirMb(new File(chunkDir)) + Main.dirMb(new File(indexDir))
      if (trace.recording) recordIngest(spark, trace, c, validated, chunkDir, indexDir)
      checkIngest(spark, c, validated, chunkDir)
    }

    if (model == null) return // the ingest threw; it is counted as failed
    val chunkRows = spark.read.parquet(chunkDir).select("chunk_id", "content")
      .as[(String, String)].collect().toSeq
    val bm25 = new Reference.Bm25(chunkRows)
    val stored = spark.read.parquet(s"$indexDir/vectors").select("chunk_id", "embedding", "cell")
      .as[(String, Seq[Float], Int)].collect()
      .groupBy(_._3).map { case (cell, rs) => cell -> rs.map(r => r._1 -> r._2.toArray).toSeq }
    val centroids = IvfIndex.centroids(spark, indexDir).map { case (cc, v) => cc -> v.toArray }
    for (b <- 0 until batches) {
      val questions = c.questions(b % c.questions.size)
      ops.run("doc_qa.answer_batch") {
        val t0 = System.nanoTime()
        val qs = questions.toDF("question_id", "question")
        def ranked(df: DataFrame) =
          df.select("question_id", "chunk_id", "rank").as[(Int, String, Int)].collect().toSeq
        val qVecs = trace.span("Embedding", "query") {
          trace.force(Embedding.embed(model, qs.withColumnRenamed("question", "text"))
            .select(col("question_id"), col("embedding").as("q_embedding")))
        }
        // the two retrievers answer separately; their lists are fused
        val vector = trace.span("IvfIndex", "probe") {
          ranked(IvfIndex.probe(spark, indexDir, qVecs, k = K, nprobe = NProbe,
            qidCol = "question_id", idCol = "chunk_id"))
        }
        val lexical = trace.span("Retrieval", "bm25") {
          ranked(Retrieval.bm25Search(qs, spark.read.parquet(chunkDir), k = K,
            idCol = "chunk_id", textCol = "content"))
        }
        val fused = trace.span("Retrieval", "rrf") {
          ranked(Retrieval.rrfFuse(vector.toDF("question_id", "chunk_id", "rank"),
            lexical.toDF("question_id", "chunk_id", "rank"), k = Top, idCol = "chunk_id"))
        }
        val secs = Main.secs(t0)
        m.batchSecs += secs; m.timedSecs += secs
        if (trace.recording) {
          val probed = qVecs.as[(Int, Seq[Float])].collect()
            .flatMap { case (_, v) => Reference.probeCells(v.toArray, centroids, NProbe) }.toSet
          trace.sample("IvfIndex.scan_ratio",
            probed.toSeq.map(cc => stored.getOrElse(cc, Nil).size).sum.toDouble / stored.values.map(_.size).sum)
        }
        def lists(rows: Seq[(Int, String, Int)]) =
          rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2) }
        val vecLists = lists(vector)
        val lexLists = lists(lexical)
        val fusedLists = lists(fused)
        val qv = qVecs.as[(Int, Seq[Float])].collect().toMap
        questions.flatMap { case (q, text) =>
          val v = qv(q).toArray
          val cand = Reference.probeCells(v, centroids, NProbe).flatMap(cc => stored.getOrElse(cc, Nil))
          val wantVec = Reference.cosineTopK(v, cand, K)
          val wantLex = bm25.search(text, K)
          val gotVec = vecLists.getOrElse(q, Nil)
          val gotLex = lexLists.getOrElse(q, Nil)
          Seq(
            (gotVec != wantVec) -> s"q$q vector list $gotVec != $wantVec",
            (gotLex != wantLex) -> s"q$q bm25 list $gotLex != $wantLex",
            (fusedLists.getOrElse(q, Nil) != Reference.rrf(gotVec, gotLex, Top)) ->
              s"q$q fused list ${fusedLists.getOrElse(q, Nil)} is not the RRF of its inputs"
          ).collect { case (true, msg) => msg }
        }
      }
    }
  }

  private def recordIngest(spark: SparkSession, trace: Trace, c: Corpus, validated: DataFrame,
                           chunkDir: String, indexDir: String): Unit = {
    import spark.implicits._
    val (mb, attempts) = validated.agg(sum(length(col("content"))), sum(col("attempts")))
      .as[(Long, Long)].head()
    trace.add("UrlIngest.docs", c.docs.size)
    trace.add("UrlIngest.mb", mb / 1e6)
    trace.add("DocExtract.mb", validated.filter(col("is_valid")).agg(sum(length(col("content"))))
      .as[Long].head() / 1e6)
    trace.sample("UrlIngest.attempts_per_doc", attempts.toDouble / c.docs.size)
    trace.add("Validation.rejected", validated.filter(!col("is_valid")).count())
    val chunks = spark.read.parquet(chunkDir).count()
    trace.add("Chunking.chunks", chunks)
    trace.add("DocExtract.chunks", spark.read.parquet(chunkDir).select("unit_id").distinct().count())
    trace.add("IvfIndex.files", Main.files(new File(indexDir)))
  }

  /** Extracted text per document equals its source text; bad files and
    * only they are rejected, with the expected error. */
  private def checkIngest(spark: SparkSession, c: Corpus, validated: DataFrame,
                          chunkDir: String): Seq[String] = {
    import spark.implicits._
    val verdicts = validated.select("doc", "is_valid", "error")
      .as[(String, Boolean, Option[String])].collect().map(r => r._1 -> r).toMap
    val units = spark.read.parquet(chunkDir).select("unit_id", "content").as[(String, String)]
      .collect().groupBy(_._1.split("~")(0))
    c.docs.flatMap { d =>
      val name = d.file.takeWhile(_ != '.')
      verdicts.get(name) match {
        case None => Seq(s"$name missing from validation")
        case Some((_, valid, err)) if d.error.isDefined =>
          if (valid || err != d.error) Seq(s"$name expected ${d.error.get}, got valid=$valid error=$err") else Nil
        case Some((_, false, err)) => Seq(s"$name rejected as $err")
        case Some(_) =>
          val us = units.getOrElse(name, Array.empty).sortBy(_._1)
          val text = Reference.normalize(us.filter(_._1.contains("~text~")).map(_._2).mkString(" "))
          val table = Reference.normalize(us.filter(_._1.contains("~table~")).map(_._2).mkString(" "))
          (if (text != Reference.normalize(d.body)) Seq(s"$name extracted text differs") else Nil) ++
            (if (table != Reference.normalize(d.table)) Seq(s"$name extracted table differs") else Nil)
      }
    }
  }
}

object DocQa {
  val MeasuredDocs = 240
  val WarmDocs = 24
  val Batches = 3
  val NList = 16
  val NProbe = 4
  val K = 10
  val Top = 3

  /** One generated file and what the checks expect of it. */
  final case class Doc(file: String, body: String, table: String, error: Option[String])

  final case class Corpus(dir: File, docs: Seq[Doc], questions: Seq[Seq[(Int, String)]])

  object Corpus {
    /** Renders `n` documents, each the text of two sf0.1 documents: 40%
      * DOCX (every other one with a table), 25% classic PDF, 15%
      * xref-stream PDF, 15% multipart EML, 5% bad (3% malformed, 2%
      * encrypted). Questions: batches of ten, two golden questions and
      * eight drawn from four consecutive words of a document. */
    def make(dir: File, texts: IndexedSeq[String], n: Int, rnd: Random): Corpus = {
      dir.mkdirs()
      val kinds = rnd.shuffle(Seq.tabulate(n) { i =>
        val p = i * 100 / n
        if (p < 40) "docx" else if (p < 65) "pdf" else if (p < 80) "pdfx"
        else if (p < 95) "eml" else if (p < 98) "malformed" else "encrypted"
      })
      val docs = kinds.zipWithIndex.map { case (kind, i) =>
        val words = (texts(rnd.nextInt(texts.size)) + " " + texts(rnd.nextInt(texts.size)))
          .split("\\s+").filter(_.nonEmpty).toIndexedSeq
        val paras = Source.groups(words, 8, 14, rnd).map(_.mkString(" "))
        val name = f"d$i%04d"
        def write(ext: String, bytes: Array[Byte]): String = {
          Files.write(new File(dir, s"$name.$ext").toPath, bytes); s"$name.$ext"
        }
        kind match {
          case "docx" =>
            val heading = s"Part $i: " + words.take(5).mkString(" ")
            val table = if (i % 2 == 0) Source.groups(words.reverse, 2, 2, rnd).take(3) else Nil
            Doc(write("docx", DocFixtures.docxBytes((heading, Some("Heading1")) +: paras.map(_ -> None),
                if (table.isEmpty) Nil else Seq(table))),
              heading + " " + paras.mkString(" "), table.map(_.mkString(" | ")).mkString(" "), None)
          case "pdf" | "pdfx" =>
            val pages = paras.grouped(3).map(_.flatMap(p => Source.groups(p.split(" ").toIndexedSeq, 7, 7, rnd)
              .map(_.mkString(" ")))).toSeq
            val bytes = if (kind == "pdf") DocFixtures.pdfBytes(pages) else DocFixtures.pdfBytesXrefStream(pages)
            Doc(write("pdf", bytes), pages.flatten.mkString(" "), "", None)
          case "eml" =>
            val (a, b) = paras.splitAt(math.max(1, paras.size / 2))
            Doc(write("eml", emlBytes(name, a, b)), paras.mkString(" "), "", None)
          case "malformed" =>
            if (i % 2 == 0)
              Doc(write("docx", Array[Byte](0x50, 0x4b, 0x03, 0x04) ++ words.mkString(" ").getBytes(UTF_8)),
                "", "", Some("parse_failed"))
            else Doc(write("pdf", ("%PDF-1.4 " + words.mkString(" ")).getBytes(UTF_8)), "", "", Some("parse_failed"))
          case _ => Doc(write("pdf", DocFixtures.encryptedPdfBytes), "", "", Some("encrypted"))
        }
      }
      val good = docs.filter(_.error.isEmpty)
      val questions = (0 until 8).map { b =>
        Seq.tabulate(10) { j =>
          val q = b * 10 + j
          if (j < 2) q -> Retrieval.goldenQuestions((b * 2 + j) % Retrieval.goldenQuestions.size)
          else {
            val ws = good(rnd.nextInt(good.size)).body.split(" ")
            val at = rnd.nextInt(math.max(1, ws.length - 4))
            q -> ws.slice(at, at + 4).mkString(" ")
          }
        }
      }
      Corpus(dir, docs, questions)
    }
  }

  /** A multipart/alternative message: the first paragraphs as a
    * quoted-printable text part, the rest as a base64 text part, and an
    * HTML copy the extractor must skip. */
  def emlBytes(name: String, a: Seq[String], b: Seq[String]): Array[Byte] = {
    val qp = a.map(p => Source.groups(p.split(" ").toIndexedSeq, 9, 9, new Random(0))
      .map(_.mkString(" ")).mkString("\r\n")).mkString("\r\n\r\n")
    val b64 = java.util.Base64.getMimeEncoder.encodeToString((b.mkString("\n\n") + "\n").getBytes(UTF_8))
    Seq(
      s"Return-Path: <$name@example.com>",
      "MIME-Version: 1.0",
      s"Subject: Report $name",
      s"From: $name@example.com",
      "To: desk@example.com",
      "Date: Tue, 02 Jan 2024 09:30:00 +0000",
      "Content-Type: multipart/alternative; boundary=\"part\"",
      "",
      "--part",
      "Content-Type: text/plain; charset=utf-8",
      "Content-Transfer-Encoding: quoted-printable",
      "",
      qp,
      "",
      "--part",
      "Content-Type: text/plain; charset=utf-8",
      "Content-Transfer-Encoding: base64",
      "",
      b64,
      "--part",
      "Content-Type: text/html; charset=utf-8",
      "",
      s"<p>${a.mkString(" ")}</p>",
      "--part--",
      "").mkString("\r\n").getBytes(UTF_8)
  }
}

/** Inputs read from the sf0.1 test data (read only). */
object Source {
  def documents(spark: SparkSession): IndexedSeq[String] = {
    import spark.implicits._
    spark.read.parquet(s"${Main.SfDir}/documents.parquet").orderBy("doc_id")
      .select("text").as[String].collect().toIndexedSeq
  }

  def embeddings(spark: SparkSession): IndexedSeq[Array[Float]] = {
    import spark.implicits._
    spark.read.parquet(s"${Main.SfDir}/embeddings.parquet").orderBy("vec_id")
      .select("embedding").as[Seq[Float]].collect().map(_.toArray).toIndexedSeq
  }

  /** Splits `xs` into consecutive groups of `lo` to `hi` elements. */
  def groups[T](xs: IndexedSeq[T], lo: Int, hi: Int, rnd: Random): Seq[IndexedSeq[T]] = {
    val out = Seq.newBuilder[IndexedSeq[T]]
    var at = 0
    while (at < xs.size) {
      val n = lo + rnd.nextInt(hi - lo + 1)
      val end = if (xs.size - (at + n) < lo) xs.size else at + n
      out += xs.slice(at, end); at = end
    }
    out.result()
  }
}
