package graftbench

import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One measured window of closed-loop clients. */
final case class Window(latenciesMs: Seq[Double], roundsMs: Seq[Double], attempted: Int,
    failed: Int, wallMs: Double, spans: Seq[Trace.Span], spark: Map[String, Long]) {
  def units: Int = attempted - failed
}

/** Closed loops: each client issues its next operation only after the
  * previous one returned (in lockstep: after every client's previous one
  * returned), until the window's time is up; the operations running at
  * that moment complete and count. */
object Loop {
  /** Set-ups per run; the run reports their median time. */
  val SetupReps = 3

  private val opIds = new AtomicLong()

  /** @param unit     one operation of client `c`; returns its latency in
    *                 ms (an exception counts the operation as failed)
    * @param rounds   lockstep: start every round of operations on all
    *                 clients together (a barrier), as a scheduler tick
    *                 that fires every client's DAG at once, and run at
    *                 least this many rounds; the next round starts when
    *                 the last client finished. 0: clients run freely */
  def window(ctx: Ctx, clients: Int, seconds: Double, traced: Boolean, rounds: Int)
      (unit: Int => Double): Window = {
    Trace.reset()
    Trace.enabled = traced
    val before = ctx.counters.snapshot()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    @volatile var go = true
    val roundStarts = ArrayBuffer.empty[Long]
    val barrier = new CyclicBarrier(clients, () => {
      val now = System.nanoTime()
      go = roundStarts.size < rounds || now < deadline
      roundStarts += now
    })
    def next(): Boolean =
      if (rounds > 0) { barrier.await(); go } else System.nanoTime() < deadline
    val lat = Array.fill(clients)(ArrayBuffer.empty[Double])
    val failed = Array.fill(clients)(0)
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        while (next()) {
          try lat(c) += Trace.withOp(opIds.incrementAndGet())(unit(c))
          catch {
            case e: Exception =>
              failed(c) += 1
              System.err.println(s"[perfbench] client $c operation failed: $e")
          }
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wallMs = (System.nanoTime() - t0) / 1e6
    Trace.enabled = false
    val all = lat.flatten.toSeq
    val roundsMs = roundStarts.toSeq.sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
    Window(all, roundsMs, all.size + failed.sum, failed.sum, wallMs, Trace.all,
      Layers.delta(ctx.counters.snapshot(), before))
  }

  /** The run's windows: one untraced window of the full time, or, in a
    * traced run, an untraced half followed by a traced half (the pair
    * gives the tracing overhead). Returns (untraced, traced). */
  def measure(ctx: Ctx, clients: Int, rounds: Int = 0)
      (unit: Int => Double): (Window, Option[Window]) =
    if (!ctx.trace) (window(ctx, clients, ctx.seconds, traced = false, rounds)(unit), None)
    else {
      val half = if (rounds == 0) 0 else (rounds / 2).max(1)
      val plain = window(ctx, clients, ctx.seconds / 2, traced = false, half)(unit)
      (plain, Some(window(ctx, clients, ctx.seconds / 2, traced = true, half)(unit)))
    }

  /** Run `body` as a named phase of the run, logging its wall time. */
  def phase[A](name: String)(body: => A): A = {
    val (a, s) = seconds(body)
    System.err.println(f"[perfbench] phase $name%s: $s%.2f s")
    a
  }

  /** Time `body` in seconds. */
  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
