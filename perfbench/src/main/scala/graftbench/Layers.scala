package graftbench

import org.apache.spark.sql.functions.col
import graft.index.{Block, InvertedIndex, Wand}

/** Per-layer metrics, computed from the listener's records, the spans and
  * direct calls into public kernels. Only used by traced runs. */
object Layers {
  private def put(ctx: Ctx, name: String, v: Double, unit: String): Unit =
    ctx.res.layer(name) = (v, unit)

  private def tasksByJob(l: Listener): Map[Int, Seq[Listener.Task]] = {
    import scala.jdk.CollectionConverters._
    l.tasks.asScala.toSeq.groupBy(_._1).map { case (j, ts) => j -> ts.map(_._2) }
  }

  /** Stage metrics of the jobs run under one phase tag. */
  def build(ctx: Ctx, phase: String, phaseMaxS: Double, unitSkew: Double): Unit =
    ctx.trace.listener.foreach { l =>
      l.settle()
      val ts = l.tasksOf(l.jobsWhere(_.phase == phase))
      val durs = ts.map(_.durMs.toDouble)
      put(ctx, "build.tasks", ts.size, "count")
      put(ctx, "build.task_s", ts.map(_.runMs).sum / 1e3, "s")
      put(ctx, "build.gc_ms", ts.map(_.gcMs).sum.toDouble, "ms")
      put(ctx, "build.shuffle_write_bytes", ts.map(_.shuffleWrite).sum.toDouble, "bytes")
      put(ctx, "build.spill_bytes", ts.map(_.spill).sum.toDouble, "bytes")
      put(ctx, "build.task_skew",
        if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Stat.median(durs)), "ratio")
      put(ctx, "build.phase_max_s", phaseMaxS, "s")
      put(ctx, "build.unit_skew", unitSkew, "ratio")
    }

  /** Jobs, stages and tasks per write batch. */
  def write(ctx: Ctx, jobs: Seq[Listener.Job], batches: Int): Unit =
    ctx.trace.listener.foreach { l =>
      val ts = l.tasksOf(jobs)
      val b = math.max(1, batches).toDouble
      put(ctx, "write.jobs_per_batch", jobs.size / b, "count")
      put(ctx, "write.stages_per_batch", jobs.map(_.stages.size).sum / b, "count")
      put(ctx, "write.tasks_per_batch", ts.size / b, "count")
      put(ctx, "write.task_s_per_batch", ts.map(_.runMs).sum / 1e3 / b, "s")
    }

  /** Per-request Spark work of one-client reads, reported under `prefix`
    * (`read` for serving, `df` for DataFrame queries): medians over requests of
    * the job wall, scheduling delay (job wall minus its longest task),
    * time on the calling thread outside jobs, tasks, task CPU time, and
    * input bytes (cached blocks read count as input) and shuffle bytes. */
  def read(ctx: Ctx, recs: Seq[Loop.Rec[_]], prefix: String): Unit =
    ctx.trace.listener.foreach { l =>
      l.settle()
      val byJob = tasksByJob(l)
      val ids = recs.map(_.id).toSet
      val jobsOf = l.jobsWhere(j => ids.contains(j.req)).groupBy(_.req)
      val rows = recs.map { r =>
        val js = jobsOf.getOrElse(r.id, Nil)
        val ts = js.flatMap(j => byJob.getOrElse(j.id, Nil))
        val jobMs = js.map(j => (j.end - j.start).toDouble).sum
        val sched = js.map { j =>
          val t = byJob.getOrElse(j.id, Nil)
          (j.end - j.start) - (if (t.isEmpty) 0L else t.map(_.durMs).max)
        }.sum.toDouble
        (js.size.toDouble, jobMs, sched, r.ns / 1e6 - jobMs, ts.size.toDouble,
          ts.map(_.cpuNs).sum / 1e6, ts.map(_.input).sum.toDouble,
          ts.map(t => t.shuffleRead + t.shuffleWrite).sum.toDouble)
      }
      def med(f: ((Double, Double, Double, Double, Double, Double, Double, Double)) => Double) =
        Stat.median(rows.map(f))
      put(ctx, s"$prefix.jobs_per_query", med(_._1), "count")
      put(ctx, s"$prefix.job_ms", med(_._2), "ms")
      put(ctx, s"$prefix.sched_delay_ms", med(_._3), "ms")
      put(ctx, s"$prefix.calling_thread_ms", med(_._4), "ms")
      put(ctx, s"$prefix.tasks_per_query", med(_._5), "count")
      put(ctx, s"$prefix.task_cpu_ms_per_query", med(_._6), "ms")
      put(ctx, s"$prefix.input_bytes_per_query", med(_._7), "bytes")
      put(ctx, s"$prefix.shuffle_bytes_per_query", med(_._8), "bytes")
    }

  /** Bytes held in Spark's block manager (pinned serving caches). */
  def pinnedBytes(ctx: Ctx): Long =
    ctx.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** WAND kernel work for a sample of the query log: the sample's term
    * blocks are collected from the index, grouped by shard, and
    * `Wand.topK` runs on each shard with a `Wand.SearchStats`. Returns
    * per df class (decoded blocks, total blocks, kernel us, queries). */
  def wandProbe(ctx: Ctx, ix: InvertedIndex, log: Seq[Gen.Query]): Map[String, (Long, Long, Double, Int)] = {
    import ctx.spark.implicits._
    val terms = log.flatMap(_.words).distinct
    val blocks: Array[Block] = ix.blocks.filter(col("term").isin(terms: _*)).collect()
    val dict = ix.dict.filter(col("term").isin(terms: _*)).collect().map(e => e.term -> e).toMap
    val n = ix.stats.numDocs
    val avgdl = ix.stats.avgdl
    val byShard = blocks.groupBy(_.shard).toSeq.sortBy(_._1)
      .map { case (s, bs) => s -> bs.groupBy(_.term) }
    val perQuery = log.map { q =>
      val plan = q.words.distinct.sorted.flatMap(dict.get).map { e =>
        val idf = graft.core.Text.idf(e.df, n)
        e.term -> (idf, idf * graft.core.Text.tfPartial(e.maxTf, e.minDl.toLong, avgdl))
      }
      val st = new Wand.SearchStats
      val t0 = System.nanoTime()
      byShard.foreach { case (_, m) =>
        val tb = plan.flatMap { case (t, (idf, ub)) =>
          m.get(t).map(bs => (idf, ub, bs.sortBy(_.firstDocId))) }
        if (tb.nonEmpty) Wand.topK(tb, Main.K, avgdl, stats = st)
      }
      (q.cls, st.decodedBlocks, st.totalBlocks, (System.nanoTime() - t0) / 1e3)
    }
    (perQuery.groupBy(_._1).map { case (c, xs) =>
      c -> (xs.map(_._2).sum, xs.map(_._3).sum, Stat.median(xs.map(_._4)), xs.size)
    }) + ("all" -> (perQuery.map(_._2).sum, perQuery.map(_._3).sum,
      Stat.median(perQuery.map(_._4)), perQuery.size))
  }

  def kernel(ctx: Ctx, workPerQuery: Double, workRatio: Double): Unit = {
    put(ctx, "kernel.work_per_query", workPerQuery, "count")
    put(ctx, "kernel.work_ratio", workRatio, "ratio")
  }

  def common(ctx: Ctx, gcMs: Double, pinned: Double): Unit = if (ctx.trace.on) {
    put(ctx, "read.pinned_bytes", pinned, "bytes")
    put(ctx, "jvm.gc_ms", gcMs, "ms")
  }
}
