package perfbench

import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Random

/** web_curation: a WARC crawl of HTML pages goes through extraction,
  * host boilerplate removal, the quality verdict, decontamination,
  * near-duplicate removal, corpus membership, DSIR sampling and a
  * WordPiece vocabulary that encodes the kept corpus. */
final class WebCuration(work: File) extends Workload {
  import WebCuration._

  private var measured: Crawl = _
  private var warm: Crawl = _

  def generate(spark: SparkSession, seed: Long, dir: File): Unit = {
    val texts = Source.documents(spark)
    measured = Crawl.make(spark, new File(dir, "warc"), texts, MeasuredPages, new Random(seed))
    warm = Crawl.make(spark, new File(dir, "warm"), texts, WarmPages, new Random(seed + 1))
  }

  def warmUp(spark: SparkSession): Unit = runChain(spark, warm, new Trace(false), new Ops, new Measures)

  def round(spark: SparkSession, trace: Trace, ops: Ops, m: Measures): Unit =
    runChain(spark, measured, trace, ops, m)

  private def runChain(spark: SparkSession, c: Crawl, trace: Trace, ops: Ops, m: Measures): Unit = {
    import spark.implicits._
    val out = new File(work, "curation")
    val corpusDir = new File(out, "corpus").getAbsolutePath
    val vocabDir = new File(out, "vocab").getAbsolutePath
    ops.run("web_curation.chain") {
      val t0 = System.nanoTime()
      val bench = Seq((1L, Passage)).toDF("bench_id", "text")
      val files = spark.read.format("binaryFile").load(c.dir.getAbsolutePath)
        .select(col("path").as("warc"), col("content"))
      val pages = trace.span("Html") {
        trace.force(Mat.point(Warc.warcHtmlBlocks(files)
          .groupBy(col("url"))
          .agg(max(col("title")).as("title"),
            array_join(transform(array_sort(collect_list(struct(col("block_idx"), col("content")))),
              b => b.getField("content")), "\n").as("text"))
          .select(col("url"), col("title"), col("text"),
            UrlOps.urlHost(col("url")).as("host"),
            regexp_replace(col("url"), "^https?://[^/]+", "").as("path"),
            xxhash64(col("url")).as("doc_id"),
            lit(false).as("noindex")), "crawl.pages"))
      }
      val cleaned = trace.span("Cleaning") {
        trace.force(Mat.point(pages.drop("text")
          .join(Cleaning.hostLineDedup(pages).select(col("doc_id"), col("clean_text").as("text"),
            col("n_removed").as("n_boiler_lines")), Seq("doc_id")), "crawl.corpus"))
      }
      val docs = cleaned.select("doc_id", "text")
      val verdict = trace.span("Cleaning") {
        trace.force(Cleaning.cleanCorpus(docs, bench, withGopherC4 = false, maxSurprisal = 9.0))
      }
      val clip = trace.span("Decontaminate") {
        trace.force(Decontaminate.clipContaminated(docs, bench, n = 4))
      }
      val nearDup = trace.span("Dedup") {
        trace.force(Dedup.simhashPairs(docs, maxHamming = 3)
          .groupBy(col("id_b").as("doc_id")).agg(min(col("id_a")).as("_keeper_id")))
      }
      val membership = trace.span("CrawlCorpus") {
        trace.force(CrawlCorpus.corpus(cleaned, verdict, nearDup, clip))
      }
      val kept = Mat.point(membership.filter(col("in_corpus")).select("path")
        .join(cleaned.select("doc_id", "path", "host"), "path")
        .join(clip.select(col("doc_id"), col("clean_text").as("text")), "doc_id"), "cur.kept")
      val dsir = trace.span("Dsir", "fit") {
        Dsir.collectModel(Dsir.fitBuckets(kept, col("host") === c.targetHost))
      }
      val sample = trace.span("Dsir", "score") {
        Dsir.gumbelTopK(Dsir.scoreWith(dsir, kept), c.sampleSize).select("doc_id").as[Long].collect()
      }
      val (_, vocab) = trace.span("Wordpiece", "learn") { Wordpiece.learnMerges(kept, Merges) }
      trace.span("Wordpiece") {
        val pieces = Wordpiece.pieceInventory(vocab)
        Wordpiece.wordVocab(kept)
          .select(col("word"), col("freq"), Wordpiece.wordpiecePieces(col("word"), pieces).as("pieces"))
          .write.mode("overwrite").parquet(vocabDir)
      }
      kept.select("doc_id", "path", "text").write.mode("overwrite").parquet(corpusDir)
      val secs = Main.secs(t0)
      m.items += c.pages; m.itemSecs += secs; m.timedSecs += secs
      m.batchSecs += secs
      m.storeMb += Main.dirMb(new File(corpusDir)) + Main.dirMb(new File(vocabDir))

      if (trace.recording) {
        trace.add("Html.pages", pages.count())
        trace.add("Html.mb", c.bytes / 1e6)
        trace.add("Cleaning.boiler_lines", cleaned.agg(sum("n_boiler_lines")).as[Long].head())
        trace.sample("Cleaning.kept_ratio", spark.read.parquet(corpusDir).count().toDouble / c.pages)
        trace.add("Dedup.pairs", Dedup.simhashPairs(docs, maxHamming = 3).count())
        trace.add("Decontaminate.clipped", membership.filter(col("clipped")).count())
        trace.add("Wordpiece.tokens", spark.read.parquet(vocabDir)
          .agg(sum(col("freq") * size(col("pieces")))).as[Long].head())
      }
      check(spark, c, corpusDir, vocabDir, sample)
    }
  }

  /** Each planted duplicate group leaves one page; no kept page holds the
    * benchmark passage or its host's footer lines; the DSIR sample has
    * the asked size and comes from the corpus; pieces join to words. */
  private def check(spark: SparkSession, c: Crawl, corpusDir: String,
                    vocabDir: String, sample: Array[Long]): Seq[String] = {
    import spark.implicits._
    val corpus = spark.read.parquet(corpusDir).select("doc_id", "path", "text")
      .as[(Long, String, String)].collect()
    val inCorpus = corpus.map(_._2).toSet
    val ids = corpus.map(_._1).toSet
    val passage = Reference.normalize(Passage)
    val dupGroups = c.dupGroups.flatMap { g =>
      val n = g.count(inCorpus)
      if (n != 1) Seq(s"duplicate group ${g.mkString(",")} left $n pages") else Nil
    }
    val leaks = corpus.collect { case (_, p, t) if Reference.normalize(t).contains(passage) =>
      s"$p still holds the benchmark passage" }
    val boiler = corpus.flatMap { case (_, p, t) =>
      val text = Reference.normalize(t)
      c.boilerplate(p).filter(l => text.contains(Reference.normalize(l))).map(l => s"$p keeps boilerplate '$l'")
    }
    val dsir =
      (if (sample.length != c.sampleSize) Seq(s"DSIR sample has ${sample.length} pages, asked for ${c.sampleSize}")
       else Nil) ++ sample.filterNot(ids).map(id => s"DSIR sampled $id, which is not in the corpus")
    val pieces = spark.read.parquet(vocabDir).select("word", "pieces").as[(String, Seq[String])].collect()
      .collect { case (w, ps) if ps.map(_.stripPrefix("##")).mkString != w => s"pieces $ps do not join to '$w'" }
    (dupGroups ++ leaks ++ boiler ++ dsir ++ pieces).toSeq
  }
}

object WebCuration {
  val MeasuredPages = 480
  val WarmPages = 60
  val Hosts = 8
  val Shards = 4
  val Merges = 12
  /** The benchmark passage planted in some pages; none of its words is
    * in the corpus vocabulary. */
  val Passage = "the hidden evaluation answer reads seventeen purple giraffes quietly juggling lanterns tonight"

  private val EnMarkers = Seq("the", "and", "of", "to", "in", "is", "that", "for")
  /** Six-letter made-up words: sf0.1 text has a vocabulary of about
    * thirty words, so without them unrelated pages look alike to
    * near-duplicate detection. */
  private val Lexicon: IndexedSeq[String] = {
    val (c, v) = ("bdfgkmnprstvz", "aeiou")
    for (a <- c; b <- v; d <- c; e <- v; f <- c; g <- v) yield s"$a$b$d$e$f$g"
  }
  private val FrWords = Seq("le", "la", "et", "les", "des", "est", "pour", "que", "dans", "une",
    "maison", "chat", "avec", "sur", "nous")

  /** A generated crawl: WARC shards plus what the checks need. */
  final case class Crawl(dir: File, pages: Int, bytes: Long, targetHost: String,
                         dupGroups: Seq[Seq[String]], boilerplate: Map[String, Seq[String]]) {
    /** The DSIR sample size asked for: an eighth of the crawl. */
    def sampleSize: Int = pages / 8
  }

  object Crawl {
    /** `n` pages over eight hosts, each page some sf0.1 text with English
      * function words and made-up words mixed in, wrapped in host
      * navigation and two host-wide footer lines. Shares: 8% exact copies of another page
      * (groups of two or three), 5% one-word near copies, 5% carrying
      * the benchmark passage, 4% repetitive spam, 4% French. */
    def make(spark: SparkSession, dir: File, texts: IndexedSeq[String], n: Int, rnd: Random): Crawl = {
      import spark.implicits._
      dir.mkdirs()
      def host(i: Int) = s"site$i.example"
      def footer(h: String) = Seq(s"Copyright $h all rights reserved", s"Subscribe to the $h letters today")
      def paragraph(): String = {
        val ws = texts(rnd.nextInt(texts.size)).split("\\s+").filter(_.nonEmpty).take(16).toBuffer
        (rnd.shuffle(EnMarkers).take(3) ++ Seq.fill(5)(Lexicon(rnd.nextInt(Lexicon.size))))
          .foreach(w => ws.insert(rnd.nextInt(ws.size + 1), w))
        ws.mkString(" ")
      }
      val kinds = rnd.shuffle(Seq.tabulate(n) { i =>
        val p = i * 100 / n
        if (p < 8) "dup" else if (p < 13) "near" else if (p < 18) "contaminated"
        else if (p < 22) "spam" else if (p < 26) "french" else "normal"
      })
      val bodies = Array.fill(n)(Seq.empty[String])
      val normal = kinds.indices.filter(kinds(_) == "normal")
      normal.foreach(i => bodies(i) = Seq.fill(2 + rnd.nextInt(2))(paragraph()))
      // exact copies: each group is a normal page plus one or two copies
      val copies = kinds.indices.filter(kinds(_) == "dup")
      val sources = rnd.shuffle(normal).iterator
      val groups = Seq.newBuilder[Seq[Int]]
      var at = 0
      while (at < copies.size) {
        val take = math.min(1 + rnd.nextInt(2), copies.size - at)
        val src = sources.next()
        copies.slice(at, at + take).foreach(i => bodies(i) = bodies(src))
        groups += (src +: copies.slice(at, at + take))
        at += take
      }
      kinds.indices.foreach { i =>
        kinds(i) match {
          case "near" =>
            val src = bodies(sources.next())
            val ws = src.head.split(" ")
            ws(rnd.nextInt(ws.length)) = "variant"
            bodies(i) = ws.mkString(" ") +: src.tail
          case "contaminated" =>
            val body = Seq.fill(2)(paragraph())
            bodies(i) = body.head +: Passage +: body.tail
          case "spam" => bodies(i) = Seq(Seq.fill(12)("buy cheap pills now").mkString(" "))
          case "french" => bodies(i) = Seq.fill(2)(Seq.fill(18)(FrWords(rnd.nextInt(FrWords.size))).mkString(" "))
          case _ => ()
        }
      }
      val hostOf = Array.tabulate(n)(_ => rnd.nextInt(Hosts))
      def path(i: Int) = f"/p$i%05d.html"
      val html = (0 until n).map { i =>
        val h = host(hostOf(i))
        val page = s"<!DOCTYPE html><html><head><title>$h page $i</title></head><body>" +
          """<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>""" +
          bodies(i).map(p => s"<p>$p</p>").mkString +
          // plain paragraphs, not a <footer> element: the extractor drops
          // <nav>/<footer> as chrome, so only host-level dedup can remove these
          footer(h).map(l => s"<p>$l</p>").mkString + "</body></html>"
        (s"http://$h${path(i)}", "text/html; charset=utf-8", page.getBytes(UTF_8))
      }
      val shards = Warc.toWarcShards(html.toDF("url", "content_type", "content"), Shards)
        .select("warc", "content").as[(String, Array[Byte])].collect()
      shards.foreach { case (name, bytes) => Files.write(new File(dir, name).toPath, bytes) }
      Crawl(dir, n, shards.map(_._2.length.toLong).sum, host(0),
        groups.result().map(_.map(path)),
        (0 until n).map(i => path(i) -> footer(host(hostOf(i)))).toMap)
    }
  }
}
