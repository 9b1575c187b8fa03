package graftbench

/** Plain-Scala BM25 over the benchmark's own generated term ids — computed
  * apart from the engine (no engine tokenizer, scorer or index is used).
  * BM25 with k1 = 1.2, b = 0.75 and the Robertson-Sparck Jones idf
  * ln(1 + (N - df + 0.5) / (df + 0.5)). */
final class Bm25Oracle(slices: Seq[Gen.Docs]) {
  private val K1 = 1.2
  private val B = 0.75
  val urls: Array[String] = slices.flatMap(_.urls).toArray
  private val terms: Array[Array[Int]] = slices.flatMap(_.terms).toArray
  val numDocs: Int = urls.length
  private val dl: Array[Int] = terms.map(_.length)
  val totalTokens: Long = dl.foldLeft(0L)(_ + _)
  private val avgdl: Double = totalTokens.toDouble / numDocs
  private val wordToId: Map[String, Int] =
    slices.flatMap(_.rareWords.iterator.map(_.swap)).toMap

  // postings: term id -> (doc index, tf) pairs, in doc order
  private val postings: java.util.HashMap[Int, (Array[Int], Array[Int])] = {
    val acc = new java.util.HashMap[Int, (scala.collection.mutable.ArrayBuilder.ofInt,
      scala.collection.mutable.ArrayBuilder.ofInt)]()
    val tf = new java.util.HashMap[Int, Int]()
    var d = 0
    while (d < numDocs) {
      tf.clear()
      terms(d).foreach(t => tf.merge(t, 1, _ + _))
      tf.forEach { (t, c) =>
        val p = acc.computeIfAbsent(t, _ => (new scala.collection.mutable.ArrayBuilder.ofInt,
          new scala.collection.mutable.ArrayBuilder.ofInt))
        p._1 += d; p._2 += c
      }
      d += 1
    }
    val out = new java.util.HashMap[Int, (Array[Int], Array[Int])](acc.size() * 2)
    acc.forEach((t, p) => out.put(t, (p._1.result(), p._2.result())))
    out
  }

  def df(termId: Int): Int = Option(postings.get(termId)).map(_._1.length).getOrElse(0)
  def dfOfWord(w: String): Int = idOfWord(w).map(df).getOrElse(0)
  private def idOfWord(w: String): Option[Int] =
    if (w.startsWith("w") && w.forall(_.isLetter)) {
      var r = 0; var mul = 1
      w.drop(1).foreach { c => r += (c - 'a') * mul; mul *= 26 }
      if (Gen.word(r) == w && r < Gen.Vocab) Some(r) else None
    } else wordToId.get(w)

  private def idf(df: Int): Double = math.log(1.0 + (numDocs - df + 0.5) / (df + 0.5))

  /** Score of every matching doc for a query given as words (unknown words
    * contribute nothing). */
  def scores(words: Seq[String]): java.util.HashMap[Int, Double] = {
    val out = new java.util.HashMap[Int, Double]()
    words.distinct.flatMap(idOfWord).foreach { t =>
      val p = postings.get(t)
      if (p != null) {
        val w = idf(p._1.length)
        var i = 0
        while (i < p._1.length) {
          val d = p._1(i); val f = p._2(i)
          val s = w * (f * (K1 + 1.0) / (f + K1 * (1.0 - B + B * dl(d) / avgdl)))
          out.merge(d, s, _ + _)
          i += 1
        }
      }
    }
    out
  }

  /** Every matching doc as (url, score), score desc then url asc. */
  def ranked(words: Seq[String]): Array[(String, Double)] = {
    val s = scores(words)
    val arr = new Array[(String, Double)](s.size())
    var i = 0
    s.forEach { (d, v) => arr(i) = (urls(d), v); i += 1 }
    arr.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
  }
}

object Oracle {
  val Tol = 1e-9
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))

  /** Check one ranked page of (url, score) hits against the oracle's full
    * ranking: same length as the expected slice, the same score at every
    * rank (within tolerance), every returned url's own exact score equal
    * to the reported one, no url repeated. Ties within tolerance may come
    * in any order. Returns None when it holds, else what differs. */
  def checkPage(got: Seq[(String, Double)], ranked: Array[(String, Double)],
                exact: Map[String, Double], from: Int, k: Int): Option[String] = {
    val want = ranked.slice(from, from + k)
    if (got.length != want.length)
      return Some(s"${got.length} hits, expected ${want.length}")
    if (got.map(_._1).distinct.length != got.length) return Some("repeated url")
    var i = 0
    while (i < got.length) {
      val (u, s) = got(i)
      if (!close(s, want(i)._2)) return Some(f"rank ${from + i + 1}: score $s%.12f, expected ${want(i)._2}%.12f")
      exact.get(u) match {
        case Some(e) if close(s, e) =>
        case Some(e) => return Some(f"$u reported $s%.12f, its BM25 is $e%.12f")
        case None => return Some(s"$u does not match the query")
      }
      i += 1
    }
    None
  }

  /** Cosine in double over float32 vectors. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force top-k by cosine: (key, sim), sim desc then key asc. */
  def bruteTopK(q: Array[Float], keys: Array[Long], vecs: Array[Array[Float]],
                k: Int): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (x: (Long, Double), y: (Long, Double)) =>
        if (x._2 != y._2) java.lang.Double.compare(x._2, y._2)
        else java.lang.Long.compare(y._1, x._1))
    var i = 0
    while (i < keys.length) {
      heap.add((keys(i), cosine(q, vecs(i))))
      if (heap.size() > k) heap.poll()
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size())
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out
  }
}
