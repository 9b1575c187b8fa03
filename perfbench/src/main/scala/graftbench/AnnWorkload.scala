package graftbench

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.{Ann, Nsw}
import graft.streaming.StreamingNsw

/** `ann_live`: an NSW graph served live through `StreamingNsw.startServing`,
  * read by closed-loop clients, then written to by a stream while
  * readers keep reading. */
object AnnWorkload {
  import Main.K

  /** Probed clusters and beam width of every serving query. */
  val NProbe = 3
  val Ef = 64
  /** Mean recall@10 of the one-client reads must reach this floor. */
  val RecallFloor = 0.8
  /** A write batch that is not visible after this long counts as failed. */
  val VisibleTimeoutS = 30.0
  /** Share of written keys, and of a sample of `SelfSample` bulk keys,
    * that a serving-mode query equal to the key's own vector must return
    * first (measured: 0.90-1.0 written, 0.95-1.0 bulk). */
  val SelfFloor = 0.7
  val SelfSample = 100

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(ctx: Ctx): Unit = {
    val S = ctx.sizes
    val spark = ctx.spark
    val tr = ctx.trace
    val res = ctx.res
    val data = s"${ctx.work}/data"
    val n = S.annVecs
    val mix = new Gen.VecMix(ctx.seed)
    val params = Nsw.Params(m = 8, efConstruction = 48, kCenters = S.annClusters, iters = 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    ctx.log("build")
    // the graph build: generate, route (k-means), build. It runs three
    // times; the first run is on a cold JVM (code generation and JIT
    // warm-up included) and only recorded, the other two are measured and
    // the last one is saved
    val base = mix.vectors(0L, n)
    val df = spark.createDataFrame(base.toSeq.map { case (k, v) => (k, v.toSeq) })
      .toDF("vec_id", "embedding")
    val graphDir = s"$data/graph"
    def buildGraph(phase: String): (Nsw.Graph, Double, Double) = {
      tr.tag(phase)
      val tk = System.nanoTime()
      val cents = tr.span("Ann.kmeansCentroids")(
        Ann.kmeansCentroids(spark, df, "vec_id", "embedding", params.kCenters, params.iters))
      val km = secs(tk)
      val tg = System.nanoTime()
      val g = tr.span("Nsw.buildWithCentroids") {
        val g = Nsw.buildWithCentroids(spark, df, "vec_id", "embedding", cents, params)
        g.adj.count()
        g
      }
      (g, km, secs(tg))
    }
    val (cold, coldKm, coldGraph) = buildGraph("build-cold")
    cold.unpersist()
    res.detail("build.cold_s") = coldKm + coldGraph
    val (warmG, warmKm, warmGraph) = buildGraph("build-warm")
    warmG.unpersist()
    val (g, kmS, graphS) = buildGraph("build")
    tr.tag("save")
    val ts = System.nanoTime()
    tr.span("Nsw.save")(Nsw.save(spark, g, graphDir))
    g.unpersist()
    val saveS = secs(ts)

    // DataFrame queries over the saved, uncached graph, one client
    ctx.log("DataFrame queries")
    val qs = mix.queries(S.annLog, n)
    val saved = Nsw.load(spark, graphDir)
    val (dfReads, _) = Loop.closed(ctx, 1, S.adhocLog, 0.3 * ctx.seconds, "df", "Nsw.topK") { i =>
      Nsw.topK(saved, qs(i).toSeq, K, NProbe, Ef).collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Double]("sim"))).toSeq
    }

    ctx.log("set-ups")
    // set-up: start live serving from disk behind a stream (load + pin),
    // several times; the last one serves
    var query: StreamingQuery = null
    var live: StreamingNsw.LiveAnn = null
    var mem: MemoryStream[(Long, Seq[Float])] = null
    val setups = (0 until S.setups).map { r =>
      if (query != null) { query.stop(); live.close() }
      tr.tag(s"setup$r")
      val t0 = System.nanoTime()
      tr.span("setup") {
        mem = MemoryStream[(Long, Seq[Float])]
        val (q, l) = tr.span("StreamingNsw.startServing")(StreamingNsw.startServing(spark,
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          graphDir, s"$data/ckpt$r"))
        query = q
        live = l
      }
      secs(t0)
    }
    val bytesPerVec = Files.dataBytes(new java.io.File(graphDir)).toDouble / n
    val pinned = Layers.pinnedBytes(ctx)
    val vecOf = new java.util.HashMap[Long, Array[Float]]()
    base.foreach { case (k, v) => vecOf.put(k, v) }
    val keys = base.map(_._1)
    val vecs = base.map(_._2)
    val gc0 = Stat.gcMs()

    /** A serving-mode query equal to a stored vector returns its key first. */
    def selfFound(k: Long, v: Array[Float]): Boolean =
      live.topK(v.toSeq, 1, NProbe, Ef).headOption.exists(h => h._1 == k && Oracle.close(h._2, 1.0))

    // phase 1: reads only
    def call(i: Int): Seq[(Long, Double)] = live.topK(qs(i).toSeq, K, NProbe, Ef).toSeq
    val warm = Loop.each(ctx, qs.size, "warmup", "LiveAnn.topK")(call)
    val (c1, _) = Loop.closed(ctx, 1, qs.size, 0.2 * ctx.seconds, "read", "LiveAnn.topK")(call)
    val (cn, cnQps) = Loop.closed(ctx, ctx.nproc, qs.size, 0.45 * ctx.seconds, "readN",
      "LiveAnn.topK")(call)

    // phase 2: nproc - 1 readers keep reading while one writer streams
    // micro-batches of new keys; each batch is timed from addData until a
    // probe query equal to a written vector returns that key first. The
    // probe runs in exact mode (every cluster, a beam wider than the
    // corpus), so it measures when the write is served, not ANN recall
    val stop = new AtomicBoolean(false)
    val readerRecs = Array.fill(math.max(1, ctx.nproc - 1))(Vector.newBuilder[(Int, Long, Seq[(Long, Double)])])
    val readers = readerRecs.indices.map { c =>
      new Thread(() => {
        tr.tag("mixed")
        var i = c
        while (!stop.get()) {
          val t0 = System.nanoTime()
          val out = tr.span("LiveAnn.topK")(call(i))
          readerRecs(c) += ((i, System.nanoTime() - t0, out))
          i = (i + readerRecs.length) % qs.size
        }
      }, s"graftbench-reader-$c")
    }
    ctx.log("writes")
    val p2 = System.nanoTime()
    readers.foreach(_.start())
    val written = mutable.ArrayBuffer[(Long, Array[Float])]()
    val writtenSelf = mutable.ArrayBuffer[(Long, Boolean)]()
    val visible = (0 until S.annBatches).map { b =>
      val batch = mix.vectors(n.toLong + b * S.annBatchVecs, S.annBatchVecs)
      written ++= batch
      batch.foreach { case (k, v) => vecOf.put(k, v) }
      val (key0, v0) = batch.head
      val t0 = System.nanoTime()
      mem.addData(batch.toSeq.map { case (k, v) => (k, v.toSeq) })
      var seen = false
      while (!seen && secs(t0) < VisibleTimeoutS) {
        val top = tr.span("LiveAnn.topK")(live.topK(v0.toSeq, 1, S.annClusters, Int.MaxValue))
        seen = top.headOption.exists(h => h._1 == key0 && Oracle.close(h._2, 1.0))
        if (!seen) Thread.sleep(5)
      }
      val visibleMs = (System.nanoTime() - t0) / 1e6
      res.op(seen, s"write batch $b: key $key0 not visible after ${VisibleTimeoutS}s")
      // once the batch is visible, every written key is read back through
      // the serving path (NProbe, Ef) by its own vector
      writtenSelf ++= batch.map { case (k, v) => k -> selfFound(k, v) }
      visibleMs
    }
    stop.set(true)
    readers.foreach(_.join())
    val p2S = secs(p2)
    val mixed = readerRecs.toSeq.flatMap(_.result())
    val bulkSelf = (0 until n by math.max(1, n / SelfSample)).map(i => keys(i) -> selfFound(keys(i), vecs(i)))
    val gcMs = Stat.gcMs() - gc0
    val writeJobs = tr.listener.map { l =>
      val run = query.runId.toString
      l.settle()
      l.jobsWhere(j => j.group == run)
    }.getOrElse(Nil)

    ctx.log("checks")
    // exact mode: every cluster probed and a beam wider than any cluster
    // must equal brute force over everything written so far
    val allKeys = keys ++ written.map(_._1)
    val allVecs = vecs ++ written.map(_._2)
    val exactQs = qs.take(5) ++ written.take(2).map(_._2)
    exactQs.zipWithIndex.foreach { case (q, i) =>
      val got = live.topK(q.toSeq, K, S.annClusters, allKeys.length + 1).toSeq
      val want = Oracle.bruteTopK(q, allKeys, allVecs, K)
      res.check(checkHits(got, want, q, vecOf), s"exact mode query $i")
    }
    query.stop()
    live.close()

    // every read: K hits, sims non-increasing, each sim the exact cosine
    // of its key; one-client reads also count toward mean recall@10
    def checkRead(q: Array[Float], got: Seq[(Long, Double)], what: String): Unit = {
      val bad =
        if (got.size != K) Some(s"${got.size} hits")
        else if (got.map(_._1).distinct.size != K) Some("repeated key")
        else if (got.sliding(2).exists(p => p(1)._2 > p(0)._2)) Some("not in similarity order")
        else got.collectFirst {
          case (k, s) if vecOf.get(k) == null => s"unknown key $k"
          case (k, s) if !Oracle.close(s, Oracle.cosine(q, vecOf.get(k))) =>
            s"key $k reported $s, exact cosine ${Oracle.cosine(q, vecOf.get(k))}"
        }
      res.check(bad, what)
    }
    val truth = qs.map(q => Oracle.bruteTopK(q, keys, vecs, K).map(_._1).toSet)
    val recalls = c1.map { r =>
      checkRead(qs(r.req), r.out, s"1 client query ${r.req}")
      r.out.count(h => truth(r.req).contains(h._1)).toDouble / K
    }
    warm.foreach(r => checkRead(qs(r.req), r.out, s"warm-up query ${r.req}"))
    dfReads.foreach(r => checkRead(qs(r.req), r.out, s"DataFrame query ${r.req}"))
    cn.foreach(r => checkRead(qs(r.req), r.out, s"${ctx.nproc} clients query ${r.req}"))
    mixed.foreach { case (i, _, out) => checkRead(qs(i), out, s"mixed query $i") }
    val meanRecall = recalls.sum / math.max(1, recalls.size)
    if (meanRecall < RecallFloor) {
      res.correct = false
      res.errors += f"mean recall@10 $meanRecall%.4f below the floor $RecallFloor"
    }
    // self-recall: how many keys a serving-mode query by their own vector
    // returns first; written keys and a sample of bulk keys, each against
    // the floor. Single misses are a recall property of approximate
    // search, so the share is checked, not each key
    def selfShare(xs: Seq[(Long, Boolean)]): Double = xs.count(_._2).toDouble / math.max(1, xs.size)
    Seq("written" -> writtenSelf.toSeq, "bulk" -> bulkSelf).foreach { case (what, xs) =>
      val share = selfShare(xs)
      res.op(share >= SelfFloor, f"$what keys found first by their own vector in serving mode: " +
        f"$share%.3f, below the floor $SelfFloor (missed ${xs.filterNot(_._2).map(_._1).mkString(",")})")
    }

    val e = res.e2e
    e("setup_s") = (Stat.median(setups), "s")
    e("build_items_per_s") = (n / Stat.median(Seq(warmKm + warmGraph, kmS + graphS)), "items/s")
    e("index_bytes_per_item") = (bytesPerVec, "bytes/item")
    e("write_visible_ms") = (Stat.median(visible), "ms")
    e("df_p50_ms") = (Stat.median(dfReads.map(_.ns / 1e6)), "ms")
    e("qps") = (cnQps, "queries/s")
    val d = res.detail
    d("setup_s_each") = setups
    d("nsw.kmeans_s") = kmS
    d("nsw.graph_build_s") = graphS
    d("nsw.save_s") = saveS
    d("hotann.pinned_bytes") = pinned
    d("recall_at_10.mean") = meanRecall
    d("recall_at_10.min") = if (recalls.isEmpty) 0.0 else recalls.min
    d("self_top1.written") = selfShare(writtenSelf.toSeq)
    d("self_top1.written_missed") = writtenSelf.filterNot(_._2).map(_._1).toSeq
    d("self_top1.bulk") = selfShare(bulkSelf)
    d("self_top1.bulk_keys") = bulkSelf.size
    d("c1.samples") = c1.size
    d("c1.p50_ms") = Stat.median(c1.map(_.ns / 1e6))
    Stat.p99(c1.map(_.ns / 1e6)).foreach(v => d("c1.p99_ms") = v)
    d("cn.samples") = cn.size
    d("cn.p50_ms") = Stat.median(cn.map(_.ns / 1e6))
    Stat.p99(cn.map(_.ns / 1e6)).foreach(v => d("cn.p99_ms") = v)
    d("live.batch_visible_ms") = visible
    d("mixed.qps") = mixed.size / p2S
    d("mixed.samples") = mixed.size
    d("mixed.p50_ms") = Stat.median(mixed.map(_._2 / 1e6))
    Stat.p99(mixed.map(_._2 / 1e6)).foreach(v => d("mixed.p99_ms") = v)

    if (tr.on) {
      val sizes = spark.read.parquet(s"$graphDir/adj").groupBy(col("c")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val cs = sizes.values.map(_.toDouble).toSeq
      Layers.build(ctx, "build", math.max(kmS, graphS),
        if (cs.isEmpty) 0.0 else cs.max / Stat.median(cs))
      Layers.write(ctx, writeJobs, S.annBatches)
      Layers.read(ctx, c1, "read")
      Layers.read(ctx, dfReads, "df")
      // beam work: nodes visited per query, and their share of the probed
      // clusters' nodes
      val cents = Nsw.load(spark, graphDir).centroids
      val live2 = StreamingNsw.startServing(spark, MemoryStream[(Long, Seq[Float])].toDF()
        .toDF("vec_id", "embedding"), "vec_id", "embedding", graphDir, s"$data/ckpt-probe")
      val work = qs.take(60).map { q =>
        val m = new Nsw.SearchMetrics
        live2._2.topK(q.toSeq, K, NProbe, Ef, m)
        val probes = cents.indices.sortBy { c =>
          var s = 0.0; var j = 0
          while (j < q.length) { val t = q(j) - cents(c)(j); s += t * t; j += 1 }
          s
        }.take(NProbe)
        (m.visited.toDouble, probes.map(c => sizes.getOrElse(c, 0L)).sum.toDouble)
      }
      live2._1.stop()
      live2._2.close()
      Layers.kernel(ctx, Stat.median(work.map(_._1)),
        work.map(_._1).sum / math.max(1.0, work.map(_._2).sum))
      Layers.common(ctx, gcMs.toDouble, pinned.toDouble)
      d("nsw.visited_per_query") = Stat.median(work.map(_._1))
    }
  }

  /** Exact-mode result against brute force: same length, same sim at each
    * rank (within tolerance), each key's own cosine equal to its sim. */
  private def checkHits(got: Seq[(Long, Double)], want: Array[(Long, Double)],
                        q: Array[Float], vecOf: java.util.HashMap[Long, Array[Float]]): Option[String] =
    Oracle.checkPage(got.map { case (k, s) => (k.toString, s) },
      want.map { case (k, s) => (k.toString, s) },
      got.flatMap { case (k, _) => Option(vecOf.get(k)).map(v => k.toString -> Oracle.cosine(q, v)) }.toMap,
      0, K)
}
