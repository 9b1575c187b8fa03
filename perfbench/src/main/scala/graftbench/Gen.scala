package graftbench

import java.util.SplittableRandom

/** One row of the page table, in the engine's input schema
  * (url, warc_ts, html, text, lang). */
final case class Page(url: String, warc_ts: java.sql.Timestamp,
                      html: Array[Byte], text: String, lang: String)

/** The benchmark's own seeded input generators. Nothing here calls the
  * engine, so a change to the engine cannot change a workload's inputs.
  *
  * Documents are generated as arrays of term ids first; the text is those
  * terms' words joined by single spaces. Vocabulary words are lowercase
  * letters only, per-document rare terms are `rd<doc>x<n>`, and unknown
  * query terms are `unk<n>q`, so the three sets never collide and every
  * word is exactly one token under any alphanumeric tokenizer. */
object Gen {

  /** Vocabulary size of the Zipf-distributed part of the text. */
  val Vocab = 20000
  /** Zipf exponent over vocabulary ranks. */
  val ZipfS = 1.0
  /** Share of tokens that are per-document rare terms. */
  val RareShare = 0.02
  /** Share of log queries that carry an unknown term. */
  private val UnknownShare = 0.1
  /** Vector mixture: dimension, components, spread around a component's
    * centre, and share of wide outliers. */
  private val Dim = 64
  private val Components = 12
  private val Spread = 0.35
  private val OutlierShare = 0.03

  /** Word for vocabulary rank r: "w" + base-26 letters, never a digit. */
  def word(r: Int): String = {
    val sb = new StringBuilder("w")
    var x = r
    while ({ sb.append(('a' + x % 26).toChar); x /= 26; x > 0 }) ()
    sb.toString
  }
  private val words: Array[String] = Array.tabulate(Vocab)(word)

  /** Exact inverse-CDF Zipf sampler: every rank in [0, Vocab) has its
    * own CDF interval, so every rank can occur (unlike a sampler that
    * quantizes u to a fixed grid first). */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    val r = if (i >= 0) i else -i - 1
    math.min(r, Vocab - 1)
  }

  /** A generated corpus slice: docs `first until first + n` of a seed.
    * Term ids >= Vocab are rare terms; `rareWords` maps them to words. */
  final class Docs(val seed: Long, val first: Int, val urls: Array[String],
                   val terms: Array[Array[Int]], val langs: Array[String],
                   val rareWords: scala.collection.mutable.HashMap[Int, String],
                   val nextRareId: Int) {
    def size: Int = urls.length
    def wordOf(t: Int): String = if (t < Vocab) words(t) else rareWords(t)
    def text(i: Int): String = {
      val ts = terms(i)
      val sb = new java.lang.StringBuilder(ts.length * 6)
      var j = 0
      while (j < ts.length) {
        if (j > 0) sb.append(' ')
        sb.append(wordOf(ts(j))); j += 1
      }
      sb.toString
    }
    def pages: Seq[Page] = (0 until size).map { i =>
      val t = text(i)
      val html = ("<html><body><p>" + t + "</p></body></html>").getBytes("UTF-8")
      Page(urls(i), new java.sql.Timestamp(1704067200000L + (first + i) * 1000L),
        html, t, langs(i))
    }
  }

  private val Langs = Array("en", "en", "en", "en", "en", "de", "fr", "es")

  /** Documents `first until first + n` for a seed. Lengths are lognormal
    * (median ~100 tokens, capped at 1,000); rare-term ids are allocated
    * from `nextRareId`, which the caller threads through corpus slices. */
  def docs(seed: Long, first: Int, n: Int, nextRareId: Int): Docs = {
    val urls = new Array[String](n)
    val terms = new Array[Array[Int]](n)
    val langs = new Array[String](n)
    val rare = scala.collection.mutable.HashMap[Int, String]()
    var rid = nextRareId - 1
    var i = 0
    while (i < n) {
      val d = first + i
      val rnd = new SplittableRandom(seed * 1000003L + d * 7919L + 17L)
      val len = math.max(5, math.min(1000, math.exp(4.6 + 0.6 * gauss(rnd)).toInt))
      val ts = new Array[Int](len)
      val docRare = scala.collection.mutable.HashMap[String, Int]() // word -> id
      var j = 0
      while (j < len) {
        ts(j) =
          if (rnd.nextDouble() < RareShare) {
            val w = s"rd${d}x${rnd.nextInt(3)}"
            docRare.getOrElseUpdate(w, { rid += 1; rare.put(rid, w); rid })
          } else zipfRank(rnd.nextDouble())
        j += 1
      }
      terms(i) = ts
      langs(i) = Langs(rnd.nextInt(Langs.length))
      urls(i) = f"https://site${math.floorMod(d * 2654435761L, 499)}%03d.example/s$seed/p$d%08d"
      i += 1
    }
    new Docs(seed, first, urls, terms, langs, rare, rid + 1)
  }

  def gauss(rnd: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u1 = math.max(rnd.nextDouble(), 1e-300)
    val u2 = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** One query of a log: its words and its df class. */
  final case class Query(words: Seq[String], cls: String) {
    def text: String = words.mkString(" ")
  }

  /** A query log drawn by MEASURED document-frequency class: head terms
    * have df >= N/20, mid terms max(3, N/500) <= df < N/20, tail terms
    * 2 <= df < max(3, N/500). Each query has 1-4 terms; its class is the
    * class of its rarest known term. A share of queries carries an unknown
    * term (one in ten of those has only unknown terms and must match
    * nothing). */
  def queryLog(seed: Long, n: Int, df: Int => Int, numDocs: Int): IndexedSeq[Query] = {
    val rnd = new SplittableRandom(seed * 31L + 5L)
    val headLo = numDocs / 20
    val midLo = math.max(3, numDocs / 500)
    val head = (0 until Vocab).filter(t => df(t) >= headLo)
    val mid = (0 until Vocab).filter { t => val d = df(t); d >= midLo && d < headLo }
    val tail = (0 until Vocab).filter { t => val d = df(t); d >= 2 && d < midLo }
    require(head.nonEmpty && mid.nonEmpty && tail.nonEmpty,
      s"df classes empty: head=${head.size} mid=${mid.size} tail=${tail.size}")
    def pick(xs: IndexedSeq[Int]): Int = xs(rnd.nextInt(xs.size))
    (0 until n).map { qi =>
      val nt = 1 + rnd.nextInt(4)
      val ids = (0 until nt).map { _ =>
        val u = rnd.nextDouble()
        if (u < 0.3) pick(head) else if (u < 0.7) pick(mid) else pick(tail)
      }.distinct
      val unknown = rnd.nextDouble() < UnknownShare
      val onlyUnknown = unknown && rnd.nextInt(10) == 0
      val known = if (onlyUnknown) Seq.empty[Int] else ids
      val unk = if (unknown) Seq(s"unk${qi}q") else Seq.empty[String]
      val minDf = if (known.isEmpty) -1 else known.map(df).min
      val cls =
        if (known.isEmpty) "none"
        else if (minDf >= headLo) "head"
        else if (minDf >= midLo) "mid" else "tail"
      Query(known.map(words(_)) ++ unk, cls)
    }
  }

  /** Seeded 64-d vectors from a mixture of Gaussian clusters, with a
    * share of wide outliers. Keys are `firstKey until firstKey + n`. */
  final class VecMix(seed: Long) {
    private val centers: Array[Array[Float]] = {
      val r = new SplittableRandom(seed * 7L + 3L)
      Array.fill(Components)(Array.fill(Dim)(gauss(r).toFloat))
    }
    def vector(key: Long, salt: Long = 0L): Array[Float] = {
      val r = new SplittableRandom(seed * 1000033L + key * 104729L + salt)
      if (r.nextDouble() < OutlierShare) Array.fill(Dim)((1.5 * gauss(r)).toFloat)
      else {
        val c = centers(r.nextInt(Components))
        Array.tabulate(Dim)(i => (c(i) + Spread * gauss(r)).toFloat)
      }
    }
    def vectors(firstKey: Long, n: Int): Array[(Long, Array[Float])] =
      Array.tabulate(n)(i => (firstKey + i, vector(firstKey + i)))
    /** Query vectors: 70% a perturbed stored vector, 30% fresh mixture draws. */
    def queries(n: Int, stored: Int): IndexedSeq[Array[Float]] = {
      val r = new SplittableRandom(seed * 13L + 11L)
      (0 until n).map { qi =>
        if (r.nextDouble() < 0.7) {
          val base = vector(r.nextInt(stored).toLong)
          base.map(x => (x + 0.1 * gauss(r)).toFloat)
        } else vector(-1L - qi, salt = 99L)
      }
    }
  }
}
