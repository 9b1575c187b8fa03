package graftbench

import java.util.concurrent.atomic.AtomicLong

/** Closed-loop clients: each client sends its next request only after the
  * previous one returned. */
object Loop {
  final case class Rec[A](req: Int, id: Long, ns: Long, out: A)
  private val ids = new AtomicLong(0)

  /** `clients` threads; client c owns the requests i with i % clients == c
    * and repeats them in whole rounds until `budgetS` seconds have passed
    * (at least one round each). Each call is tagged with `phase` and a
    * request id and wrapped in a span named `span`.
    * @return the records, and the throughput: the sum over clients of
    *   each client's completed requests over its own elapsed time (a
    *   client that finishes its last round late does not stretch the
    *   others' time) */
  def closed[A](ctx: Ctx, clients: Int, nReqs: Int, budgetS: Double,
                phase: String, span: String)(call: Int => A): (Seq[Rec[A]], Double) = {
    ctx.log(s"$phase: $clients client(s), $nReqs requests, ${budgetS}s")
    val t0 = System.nanoTime()
    val deadline = t0 + (budgetS * 1e9).toLong
    val outs = Array.fill(clients)(Vector.newBuilder[Rec[A]])
    val elapsed = new Array[Long](clients)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        try {
          val mine = (c until nReqs by clients)
          var first = true
          while (first || System.nanoTime() < deadline) {
            first = false
            mine.foreach { i =>
              val id = ids.incrementAndGet()
              ctx.trace.tag(phase, id)
              val s = System.nanoTime()
              val out = ctx.trace.span(span)(call(i))
              outs(c) += Rec(i, id, System.nanoTime() - s, out)
            }
          }
          elapsed(c) = System.nanoTime() - t0
        } catch { case t: Throwable => errors.add(t) }
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    val recs = outs.toSeq.map(_.result())
    (recs.flatten, recs.indices.map(c => recs(c).size / (elapsed(c) / 1e9)).sum)
  }

  /** Run `f` once per element in a single client, tagged and spanned the
    * same way; no time budget. */
  def each[A](ctx: Ctx, n: Int, phase: String, span: String)(call: Int => A): Seq[Rec[A]] =
    closed(ctx, 1, n, 0.0, phase, span)(call)._1
}
