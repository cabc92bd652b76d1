package perfbench

import scala.collection.mutable

/** The client process of the `live` workload: the synthetic upstream
  * firehose plus three WebSocket subscribers at the head, in a JVM of
  * its own so the engine's JVM runs only the engine.
  *
  * {{{
  * java -cp … perfbench.LiveClient seed=<n> seconds=<s> launchMs=<epoch ms>
  * }}}
  *
  * Protocol on stdio: prints `FIREHOSE <port>`; reads
  * `<servePort> <metricsPort>` once the service is up; prints `TIMED`
  * when the measured phases begin; prints one JSON result line at the
  * end.
  *
  * The load is open-loop. A warm-up drives the full path at both rates
  * (a cold JVM's first seconds of micro-batches are several times
  * slower), then phase 1 runs at [[LowRate]] and phase 2 at
  * [[HighRate]], `seconds / 2` each. Every event carries the time it
  * was due; latency runs from that time to receipt.
  */
object LiveClient {
  /** The reference's per-subscriber live cap. */
  val LowRate = 5000
  /** 1.5 times the low rate. On a 4-vCPU VM whose host is busy, 10k
    * events/s already ran past the service's capacity: the backlog grew
    * through the phase and the run measured the host. At 7.5k it stays
    * bounded.
    */
  val HighRate = 7500
  /** The latency limit each phase is judged against. */
  val LimitMs = 5000.0

  def main(argv: Array[String]): Unit = {
    val a = Engine.Args.parse(argv)
    val g = new Gen(a.long("seed"))
    val seconds = a.long("seconds")
    val up = new Upstream
    println(s"FIREHOSE ${up.port}")
    System.out.flush()
    val Array(servePort, metricsPort) =
      scala.io.StdIn.readLine().trim.split(" ").map(_.toInt)

    val subs = Gen.Filters.map { case (f, q) =>
      f -> new Subscriber(s"ws://localhost:$servePort/subscribe" +
        (if (q.isEmpty) "" else s"?$q"))
    }
    Thread.sleep(1000) // sessions registered before the first event

    val due = new mutable.ArrayBuilder.ofLong
    var n = 0L
    var lastTimeUs = 0L
    val wanted = mutable.Map.empty[String, Long].withDefaultValue(0L)
    /** Generate `rate` events/s for `secs`; returns the max lateness, ms. */
    def phase(rate: Int, secs: Double): Double = {
      val count = (rate * secs).toLong
      val start = Clock.nowUs()
      var i = 0L
      var late = 0.0
      while (i < count) {
        val now = Clock.nowUs()
        while (i < count && start + i * 1000000L / rate <= now) {
          val d = start + i * 1000000L / rate
          lastTimeUs = math.max(lastTimeUs + 1, d)
          up.append(lastTimeUs, g.frame(n, lastTimeUs, d))
          due += d
          Gen.Filters.foreach { case (f, _) => if (Gen.wants(g, f, n)) wanted(f) += 1 }
          late = math.max(late, (now - d) / 1000.0)
          n += 1; i += 1
        }
        java.util.concurrent.locks.LockSupport.parkNanos(200000L)
      }
      late
    }
    /** Wait until every subscriber holds all it was sent so far. */
    def awaitAll(timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      def complete = subs.forall { case (f, s) => s.size >= wanted(f) }
      while (!complete && System.nanoTime() < deadline) Thread.sleep(50)
    }

    phase(LowRate, 4.0)
    phase(HighRate, 4.0)
    awaitAll(30)
    val lo = n
    val setupS = (System.currentTimeMillis() - a.long("launchMs")) / 1e3
    println("TIMED")
    System.out.flush()
    val late1 = phase(LowRate, seconds / 2.0)
    val mid = n
    val late2 = phase(HighRate, seconds / 2.0)
    val hi = n
    awaitAll(30)
    Thread.sleep(300) // anything past the subset is a failure: let it arrive
    val dues = due.result()

    var attempted, failed = 0L
    val lat1, lat2 = mutable.ArrayBuilder.make[Long]
    var lastReceipt = 0L
    val checks = subs.map { case (f, s) =>
      val (ns, ts, rs) = s.snapshot()
      val d = Delivery.judge(ns, ts, k => Gen.wants(g, f, k), lo, hi)
      attempted += d.expected
      failed += d.failed + s.parseFailures
      var i = 0
      while (i < ns.length) {
        val k = ns(i)
        if (k >= lo && k < hi) {
          val l = rs(i) - dues(k.toInt)
          if (k < mid) lat1 += l else lat2 += l
          lastReceipt = math.max(lastReceipt, rs(i))
        }
        i += 1
      }
      f -> d.json
    }
    val l1 = lat1.result(); val l2 = lat2.result()
    val delivered = l1.length + l2.length
    val metrics = Map(
      "setup_s" -> setupS,
      "light_p50_ms" -> Stats.pct(l1, 0.5) / 1000,
      "light_p99_ms" -> Stats.pct(l1, 0.99) / 1000,
      "heavy_p50_ms" -> Stats.pct(l2, 0.5) / 1000,
      "heavy_p99_ms" -> Stats.pct(l2, 0.99) / 1000,
      "items_per_s" -> delivered / ((lastReceipt - dues(lo.toInt)) / 1e6))
    val notes = Map(
      "generator_late_ms" -> Json.nums(Map("phase1" -> late1, "phase2" -> late2)),
      "limit_met" -> Json.obj(Seq(
        "phase1" -> (Stats.pct(l1, 0.99) / 1000 <= LimitMs).toString,
        "phase2" -> (Stats.pct(l2, 0.99) / 1000 <= LimitMs).toString)),
      "samples" -> Json.nums(Map("phase1" -> l1.length.toDouble, "phase2" -> l2.length.toDouble)),
      "delivery" -> Json.obj(checks),
      "delivered_metric" -> Json.num(Engine.scrapeDelivered(metricsPort)),
      "delivered_client" -> Json.num(subs.map(_._2.size.toDouble).sum))
    subs.foreach(_._2.close())
    up.close()
    println(Json.obj(Seq("metrics" -> Json.nums(metrics),
      "layers" -> Json.nums(Map("live.generator_late_ms" -> math.max(late1, late2),
        "serve.delivered" -> Engine.scrapeDelivered(metricsPort))),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "notes" -> Json.obj(notes))))
    System.out.flush()
  }
}
