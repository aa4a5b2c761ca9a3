package perfbench

import scala.math.BigDecimal.RoundingMode

/** Plain-Scala computations the checks compare the program against. They
  * follow the published definitions (BM25, cosine, reciprocal-rank
  * fusion) with the rounding the program documents for its scores. */
object Reference {
  /** Half-up rounding of a double's decimal form. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, RoundingMode.HALF_UP).toDouble

  def normalize(s: String): String = s.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")

  /** Cosine with the vector entries widened to double; 0 for a zero vector. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top-k ids by score (desc), ties to the smaller id. */
  def topK[I](scored: Seq[(I, Double)], k: Int)(implicit o: Ordering[I]): Seq[I] =
    scored.sortWith { case ((ia, sa), (ib, sb)) => sa > sb || (sa == sb && o.lt(ia, ib)) }
      .take(k).map(_._1)

  /** Exact cosine top-k over `vectors`, scores rounded to 4 decimals. */
  def cosineTopK[I: Ordering](q: Array[Float], vectors: Seq[(I, Array[Float])], k: Int): Seq[I] =
    topK(vectors.map { case (id, v) => id -> round(cosine(q, v), 4) }, k)

  /** The `nprobe` cells a query probes: cells ranked by cosine to their
    * centroid (rounded to 6 decimals, desc), ties to the lower cell. */
  def probeCells(q: Array[Float], centroids: Seq[(Int, Array[Float])], nprobe: Int): Seq[Int] =
    centroids.map { case (c, v) => (c, round(cosine(q, v), 6)) }
      .sortWith { case ((ca, sa), (cb, sb)) => sa > sb || (sa == sb && ca < cb) }
      .take(nprobe).map(_._1)

  /** Okapi BM25 (k1, b) top-k over whitespace tokens of the lower-cased
    * texts; idf = ln((N - df + 0.5) / (df + 0.5) + 1) rounded to 6
    * decimals, term weights summed in micro-units, score rounded to 4. */
  final class Bm25(docs: Seq[(String, String)], k1: Double = 1.2, b: Double = 0.75) {
    private val toks = docs.map { case (id, t) => id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty) }
      .filter(_._2.nonEmpty)
    private val n = toks.size.toDouble
    private val avgdl = toks.map(_._2.length.toDouble).sum / n
    private val tfs = toks.map { case (id, ws) => (id, ws.length, ws.groupBy(identity).map { case (w, o) => w -> o.length }) }
    private val df = tfs.flatMap(_._3.keys).groupBy(identity).map { case (w, o) => w -> o.size }

    def search(question: String, k: Int): Seq[String] = {
      val terms = question.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
      val scored = tfs.flatMap { case (id, dl, tf) =>
        val hits = terms.filter(tf.contains)
        if (hits.isEmpty) None
        else {
          val w6 = hits.map { t =>
            val idf = round(math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0), 6)
            val f = tf(t).toDouble
            val w = idf * (f * (k1 + 1)) / (f + k1 * ((1 - b) + b * dl / avgdl))
            round(w * 1e6, 0).toLong
          }.sum
          Some(id -> round(w6 / 1e6, 4))
        }
      }
      topK(scored, k)
    }
  }

  /** Reciprocal-rank fusion, score 1/(c + rank) summed over the lists
    * that hold the id (rounded to 6 decimals), top-k. */
  def rrf(a: Seq[String], b: Seq[String], k: Int, c: Int = 60): Seq[String] = {
    val ra = a.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val rb = b.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    topK((ra.keySet ++ rb.keySet).toSeq.map { id =>
      id -> round(ra.get(id).map(r => 1.0 / (c + r)).getOrElse(0.0) +
        rb.get(id).map(r => 1.0 / (c + r)).getOrElse(0.0), 6)
    }, k)
  }
}
