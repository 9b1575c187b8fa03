package graftbench

import org.apache.spark.sql.functions.col
import graft.index._
import graft.streaming.StreamingIndex

/** The BM25 workload: an on-disk build, appends and DataFrame queries,
  * then a pinned `HotIndex` under closed-loop clients. */
object Bm25Workload {
  import Main.K

  private val Chunks = 4
  def opts(ctx: Ctx): IndexBuilder.Options =
    IndexBuilder.Options(numShards = 2 * ctx.nproc, rangePartitions = 2 * ctx.nproc)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def writeTable(ctx: Ctx, d: Gen.Docs, path: String): Unit = {
    import ctx.spark.implicits._
    ctx.spark.createDataset(d.pages).write.mode("overwrite").parquet(path)
  }

  /** A doc of the slice holding a rare (df = 1) word: (word, url). */
  def probeOf(d: Gen.Docs): (String, String) = {
    val i = d.terms.indexWhere(_.exists(_ >= Gen.Vocab))
    val t = d.terms(i).find(_ >= Gen.Vocab).get
    (d.wordOf(t), d.urls(i))
  }

  def docUrls(ix: InvertedIndex): java.util.HashMap[Long, String] = {
    val m = new java.util.HashMap[Long, String]()
    ix.docs.select(col("docId"), col("url")).collect()
      .foreach(r => m.put(r.getLong(0), r.getString(1)))
    m
  }

  /** The oracle over the given slices; the "drop" fault leaves out the
    * last doc of the first slice, as if the engine had lost it. */
  def oracle(ctx: Ctx, slices: Seq[Gen.Docs]): Bm25Oracle =
    if (ctx.fault != "drop") new Bm25Oracle(slices)
    else {
      val b = slices.head
      val n = b.size - 1
      new Bm25Oracle(new Gen.Docs(b.seed, b.first, b.urls.take(n), b.terms.take(n),
        b.langs.take(n), b.rareWords, b.nextRareId) +: slices.tail)
    }

  /** Index stats and sampled dictionary dfs against the oracle's counts. */
  def checkStats(ctx: Ctx, ix: InvertedIndex, or: Bm25Oracle, what: String): Unit = {
    val r = ctx.res
    r.op(ix.stats.numDocs == or.numDocs, s"$what: numDocs ${ix.stats.numDocs} != ${or.numDocs}")
    r.op(ix.stats.totalTokens == or.totalTokens,
      s"$what: totalTokens ${ix.stats.totalTokens} != ${or.totalTokens}")
    val sample = (0 until Gen.Vocab by 401).map(Gen.word)
    val got = ix.dict.filter(col("term").isin(sample: _*)).select(col("term"), col("df"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    sample.foreach { w =>
      val want = or.dfOfWord(w).toLong
      val g = got.getOrElse(w, 0L)
      r.op(g == want, s"$what: df($w) = $g, expected $want")
    }
  }

  /** Check ranked pages (query index, page, hits as (url, score)) against
    * the oracle; the "score" fault perturbs the first non-empty page. */
  def checkPages(ctx: Ctx, or: Bm25Oracle, log: IndexedSeq[Gen.Query],
                 pages: Seq[(Int, Int, Seq[(String, Double)])], what: String): Unit = {
    var perturb = ctx.fault == "score"
    pages.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (qi, ps) =>
      val ranked = or.ranked(log(qi).words)
      val exact = ranked.toMap
      ps.foreach { case (_, page, hits0) =>
        val hits =
          if (perturb && hits0.nonEmpty) {
            perturb = false
            (hits0.head._1, hits0.head._2 * 1.01) +: hits0.tail
          } else hits0
        ctx.res.check(Oracle.checkPage(hits, ranked, exact, page * K, K),
          s"$what q$qi page $page '${log(qi).text}'")
      }
    }
  }

  private def asUrls(hits: Seq[ScoredDoc], urls: java.util.HashMap[Long, String]): Seq[(String, Double)] =
    hits.map(h => (Option(urls.get(h.docId)).getOrElse(s"docId:${h.docId}"), h.score))

  private def phaseStats(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    ResumableBuild.lastPhaseSecs.asScala.toMap.map { case (k, v) => k -> v.doubleValue }
  }
  /** (longest phase, max/median of the dictionary partials). */
  private def phaseSummary(p: Map[String, Double]): (Double, Double) = {
    val parts = p.filter(_._1.startsWith("dictpart")).values.toSeq
    (p.filter(_._1 != "total").values.maxOption.getOrElse(0.0),
      if (parts.isEmpty) 0.0 else parts.max / math.max(1e-9, Stat.median(parts)))
  }
  private def indexBytes(dir: String): Long =
    Seq("blocks", "docs", "dict").map(s => Files.dataBytes(new java.io.File(dir, s))).sum

  private def buildDetail(ctx: Ctx, p: Map[String, Double], dir: String): Unit = {
    val parts = p.filter(_._1.startsWith("dictpart")).values.toSeq
    val d = ctx.res.detail
    d("build.sort_count_s") = p.getOrElse("sort+count", 0.0)
    d("build.chunk_write_s") = p.filter(_._1.matches("chunk\\d+-write")).values.sum
    d("build.dictpart_max_s") = parts.maxOption.getOrElse(0.0)
    d("build.dictpart_s") = parts
    d("build.docs_write_s") = p.getOrElse("docs-write", 0.0)
    d("build.dict_write_s") = p.getOrElse("dict-write", 0.0)
    d("build.total_s") = p.getOrElse("total", 0.0)
    val mani = ResumableBuild.readManifest(ctx.spark, dir)
    d("build.postings") = mani.map(_.postings).sum
    d("build.blocks") = mani.map(_.blocks).sum
    Seq("blocks", "docs", "dict").foreach(s =>
      d(s"index.bytes.$s") = Files.dataBytes(new java.io.File(dir, s)))
    d("index.files") = Seq("blocks", "docs", "dict").map(s => Files.dataFiles(new java.io.File(dir, s))).sum
  }

  private def wandDetail(ctx: Ctx, ix: InvertedIndex, log: IndexedSeq[Gen.Query]): Unit =
    if (ctx.trace.on) {
      val w = Layers.wandProbe(ctx, ix, log.take(120))
      w.foreach { case (c, (dec, tot, us, n)) =>
        ctx.res.detail(s"wand.$c") = Map("queries" -> n, "blocks_decoded" -> dec,
          "blocks_total" -> tot, "decode_ratio" -> (if (tot == 0) 0.0 else dec.toDouble / tot),
          "kernel_us_p50" -> us)
      }
      val (dec, tot, _, n) = w("all")
      Layers.kernel(ctx, dec.toDouble / math.max(1, n), if (tot == 0) 0.0 else dec.toDouble / tot)
    }

  /** Build the page table three times. The first build runs on a cold JVM
    * (Spark code generation and JIT warm-up included) and is only
    * recorded. The two warm builds are measured; the second one, into
    * `ixDir`, is the index the workload goes on with.
    * @return the index and the walls of the two warm builds */
  private def buildWarm(ctx: Ctx, table: String, ixDir: String): (InvertedIndex, Seq[Double]) = {
    val spark = ctx.spark
    def build(phase: String, dir: String): (InvertedIndex, Double) = {
      ctx.trace.tag(phase)
      val t0 = System.nanoTime()
      val ix = ctx.trace.span("ResumableBuild.build")(ResumableBuild.build(spark,
        spark.read.parquet(table), dir, opts(ctx), numChunks = Chunks))
      (ix, secs(t0))
    }
    ctx.res.detail("build.cold_s") = build("build-cold", s"$ixDir-cold")._2
    val first = build("build-warm", s"$ixDir-warm")._2
    val (ix, second) = build("build", ixDir)
    (ix, Seq(first, second))
  }

  def run(ctx: Ctx): Unit = {
    val S = ctx.sizes
    val spark = ctx.spark
    val tr = ctx.trace
    val res = ctx.res
    val data = s"${ctx.work}/data"
    val n = S.bm25Docs

    // bulk build from an on-disk page table
    val bulk = Gen.docs(ctx.seed, 0, n, Gen.Vocab)
    writeTable(ctx, bulk, s"$data/pages")
    val gc0 = Stat.gcMs()
    ctx.log("build")
    val ixDir = s"$data/index"
    val (ix0, buildWalls) = buildWarm(ctx, s"$data/pages", ixDir)
    tr.tag("check") // the benchmark's own jobs stay out of the build's
    val phases = phaseStats()
    buildDetail(ctx, phases, ixDir)
    val bytesPerDoc = indexBytes(ixDir).toDouble / n
    checkStats(ctx, ix0, oracle(ctx, Seq(bulk)), "build")

    // appends: each micro-batch is appended, the dictionary refreshed, and
    // a probe query for a word only the new batch holds must find its doc
    ctx.log("appends")
    var slices = Vector(bulk)
    var nextRare = bulk.nextRareId
    val writes = (0 until S.appendBatches).map { b =>
      val add = Gen.docs(ctx.seed, n + b * S.appendDocs, S.appendDocs, nextRare)
      nextRare = add.nextRareId
      slices :+= add
      val pdf = spark.createDataFrame(add.pages)
      val (word, url) = probeOf(add)
      tr.tag("write")
      val t0 = System.nanoTime()
      val (appendMs, hits) = tr.span("write") {
        tr.span("StreamingIndex.appendBatch")(
          StreamingIndex.appendBatch(spark, pdf, ixDir, opts(ctx), b.toLong))
        val am = (System.nanoTime() - t0) / 1e6
        val ix = tr.span("StreamingIndex.refresh")(StreamingIndex.refresh(spark, ixDir))
        (am, tr.span("InvertedIndex.search")(ix.search(word, K).collect())
          .map(r => ScoredDoc(r.getAs[Long]("docId"), r.getAs[Double]("score"))).toSeq)
      }
      ((System.nanoTime() - t0) / 1e6, appendMs, hits, url)
    }
    tr.tag("check")
    val writeJobs = tr.listener.map { l =>
      l.settle()
      l.jobsWhere(_.phase == "write")
    }.getOrElse(Nil)

    // DataFrame queries over the on-disk, uncached index
    ctx.log("DataFrame queries")
    val ix = InvertedIndex.load(spark, ixDir)
    val or = oracle(ctx, slices)
    val urls = docUrls(ix)
    checkStats(ctx, ix, or, "appended")
    writes.zipWithIndex.foreach { case ((_, _, hits, url), b) =>
      res.op(hits.size == 1 && urls.get(hits.head.docId) == url,
        s"append $b: probe returned ${hits.map(h => urls.get(h.docId))}, expected $url")
    }
    val log = Gen.queryLog(ctx.seed, S.queryLog, or.df, or.numDocs)
    val qds = {
      import spark.implicits._
      spark.createDataset(log.indices.map(i => (i, log(i).text)))
    }
    tr.tag("searchmany")
    val ts = System.nanoTime()
    val rows = tr.span("InvertedIndex.searchMany")(ix.searchMany(qds, K).collect())
    val smS = secs(ts)
    val byQ = rows.groupBy(_.getAs[Int]("queryId"))
    val smPages = log.indices.map { qi =>
      val hits = byQ.getOrElse(qi, Array.empty)
        .map(r => ScoredDoc(r.getAs[Long]("docId"), r.getAs[Double]("score")))
        .sortWith((a, b) => a.score > b.score || (a.score == b.score && a.docId < b.docId))
      (qi, 0, asUrls(hits.toSeq, urls))
    }
    val (adhoc, _) = Loop.closed(ctx, 1, S.adhocLog, 0.3 * ctx.seconds, "df",
      "InvertedIndex.search") { i =>
      ix.search(log(i).text, K).collect()
        .map(r => ScoredDoc(r.getAs[Long]("docId"), r.getAs[Double]("score"))).toSeq
    }

    // set-up of serving: load the index from disk and pin it in a
    // HotIndex, several times; the last one serves
    ctx.log("serving set-ups")
    var hot: HotIndex = null
    val setups = (0 until S.setups).map { r =>
      if (hot != null) hot.close()
      tr.tag(s"setup$r")
      val t0 = System.nanoTime()
      tr.span("setup") {
        val ixr = tr.span("InvertedIndex.load")(InvertedIndex.load(spark, ixDir))
        hot = tr.span("HotIndex.pin")(HotIndex(ixr))
      }
      secs(t0)
    }
    val pinned = Layers.pinnedBytes(ctx)
    res.op(hot.stats == ix.stats, s"HotIndex stats ${hot.stats} != ${ix.stats}")

    // the request mix: every query's first page, plus the next page of a
    // share of the queries that have one
    val rnd = new java.util.SplittableRandom(ctx.seed * 17L + 1L)
    val reqs: IndexedSeq[(Int, Int)] = log.indices.flatMap { i =>
      if (rnd.nextDouble() < 0.2 && or.ranked(log(i).words).length > K) Seq((i, 0), (i, 1))
      else Seq((i, 0))
    }
    // warm-up: each query's first page once; its last hit is the cursor of
    // that query's next-page requests
    val warm = Loop.each(ctx, log.size, "warmup", "HotIndex.search")(i => hot.search(log(i).text, K).toSeq)
    val cursor = warm.map(r => r.req -> r.out.lastOption).toMap
    def call(i: Int): Seq[ScoredDoc] = {
      val (q, page) = reqs(i)
      if (page == 0) hot.search(log(q).text, K).toSeq
      else cursor(q) match {
        case Some(c) => hot.searchAfter(log(q).text, K, c.score, c.docId).toSeq
        case None => Seq.empty
      }
    }
    val (c1, _) = Loop.closed(ctx, 1, reqs.size, 0.2 * ctx.seconds, "read", "HotIndex.search")(call)
    val (cn, cnQps) = Loop.closed(ctx, ctx.nproc, reqs.size, 0.45 * ctx.seconds, "readN",
      "HotIndex.search")(call)
    hot.close()
    val gcMs = Stat.gcMs() - gc0

    ctx.log("checks")
    def pages(rs: Seq[Loop.Rec[Seq[ScoredDoc]]]) =
      rs.map(r => (reqs(r.req)._1, reqs(r.req)._2, asUrls(r.out, urls)))
    checkPages(ctx, or, log, smPages, "searchMany")
    checkPages(ctx, or, log, adhoc.map(r => (r.req, 0, asUrls(r.out, urls))), "search")
    checkPages(ctx, or, log, warm.map(r => (r.req, 0, asUrls(r.out, urls))), "warm-up")
    checkPages(ctx, or, log, pages(c1), "1 client")
    checkPages(ctx, or, log, pages(cn), s"${ctx.nproc} clients")

    val e = res.e2e
    e("setup_s") = (Stat.median(setups), "s")
    e("build_items_per_s") = (n / Stat.median(buildWalls), "items/s")
    e("index_bytes_per_item") = (bytesPerDoc, "bytes/item")
    e("write_visible_ms") = (Stat.median(writes.map(_._1)), "ms")
    e("df_p50_ms") = (Stat.median(adhoc.map(_.ns / 1e6)), "ms")
    e("qps") = (cnQps, "queries/s")
    val d = res.detail
    d("setup_s_each") = setups
    d("append_docs_per_s") = S.appendBatches * S.appendDocs / (writes.map(_._1).sum / 1e3)
    d("append.batch_ms") = writes.map(_._2)
    d("append.visible_ms") = writes.map(_._1)
    d("searchmany.queries_per_s") = log.size / smS
    d("df.samples") = adhoc.size
    d("hot.pinned_bytes") = pinned
    d("c1.samples") = c1.size
    d("c1.p50_ms") = Stat.median(c1.map(_.ns / 1e6))
    Stat.p99(c1.map(_.ns / 1e6)).foreach(v => d("c1.p99_ms") = v)
    d("cn.samples") = cn.size
    d("cn.p50_ms") = Stat.median(cn.map(_.ns / 1e6))
    Stat.p99(cn.map(_.ns / 1e6)).foreach(v => d("cn.p99_ms") = v)
    Seq("head", "mid", "tail", "none").foreach { c =>
      val xs = c1.filter(r => log(reqs(r.req)._1).cls == c).map(_.ns / 1e6)
      if (xs.nonEmpty) d(s"c1.p50_ms.$c") = Stat.median(xs)
    }

    if (tr.on) {
      val (pmax, skew) = phaseSummary(phases)
      Layers.build(ctx, "build", pmax, skew)
      Layers.write(ctx, writeJobs, S.appendBatches)
      Layers.read(ctx, c1, "read")
      Layers.read(ctx, adhoc, "df")
      wandDetail(ctx, ix, log)
      Layers.common(ctx, gcMs.toDouble, pinned.toDouble)
      // DataFrame planning vs execution, on a sample of the log
      val pe = log.take(10).map { q =>
        val t0 = System.nanoTime()
        val df = ix.search(q.text, K)
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        df.collect()
        ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
      }
      d("df.plan_ms_p50") = Stat.median(pe.map(_._1))
      d("df.exec_ms_p50") = Stat.median(pe.map(_._2))
    }
  }
}
