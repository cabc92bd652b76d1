package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Decode, Sequencer}
import graft.serve.{Metrics, Replay, ReplayThrottle, WebSocketServe}
import graft.store.{Compaction, EventsTable}
import graft.tools.Service

/** The engine side of every workload: one JVM that runs the engine
  * through its public entry points and times the calls it makes.
  *
  * {{{
  * java -cp … perfbench.Engine workload=<live|replay|queries|pipeline> \
  *   seed=<n> seconds=<s> trace=<0|1> root=<run dir> launchMs=<epoch ms> \
  *   cores=<n> [firehose=<port>] [tables=<dir>]
  * }}}
  *
  * Prints progress lines, then one JSON line: `metrics` (end-to-end
  * values this side measured), `layers` (per-layer values, traced runs
  * only), `attempted`, `failed` and `notes`. `run.py` merges it with
  * the client's and the oracle's results.
  */
object Engine {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing $k="))
    def long(k: String): Long = apply(k).toLong
  }
  object Args {
    /** `k=v` arguments. */
    def parse(argv: Array[String]): Args =
      Args(argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
  }

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    def json: String = Json.obj(Seq(
      "metrics" -> Json.nums(metrics), "layers" -> Json.nums(layers),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "notes" -> Json.obj(notes)))
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val root = a("root")
    Seq("warehouse", "local", "index", "ckpt", "data").foreach(d => new File(s"$root/$d").mkdirs())
    System.setProperty("graft.index.dir", s"$root/index")
    val workload = a("workload")
    val serving = workload == "live" || workload == "replay"
    val b = SparkSession.builder().appName(s"perfbench-$workload")
      .master(s"local[${a("cores")}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
    // the composed service's scheduling (Service.main): replay steps in
    // pool "graft-replay" share slots with the live micro-batches
    if (serving) b.config("spark.scheduler.mode", "FAIR")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (a("trace") == "1") Some(new Trace(spark)) else None
    val r = new Result
    workload match {
      case "live"     => live(spark, a, trace, r)
      case "replay"   => replay(spark, a, trace, r)
      case "queries"  => queries(spark, a, trace, r)
      case "pipeline" => pipeline(spark, a, trace, r)
      case w          => sys.error(s"unknown workload $w")
    }
    trace.foreach { t =>
      r.layers ++= t.sparkMetrics
      r.layers("trace.listener_ms") = t.listenerMs
    }
    r.metrics("peak_rss_mb") = Stats.peakRssMb()
    println(r.json)
    System.out.flush()
    spark.stop()
  }

  private def setupDone(a: Args, r: Result): Unit =
    r.metrics("setup_s") = (System.currentTimeMillis() - a.long("launchMs")) / 1e3

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // --------------------------------------------------------------- live

  /** The composed service against the client's firehose. The client
    * measures delivery; this side reports memory and, traced, the
    * ingest / tail / store layers. stdin: `TIMED` when the measured
    * phases begin, then `STOP`.
    */
  private def live(spark: SparkSession, a: Args, trace: Option[Trace], r: Result): Unit = {
    val dataDir = s"${a("root")}/data"
    val running = Service.start(spark, Service.Config(
      wsUrl = s"ws://localhost:${a("firehose")}/subscribe", dataDir = dataDir))
    println(s"READY ${running.servePort} ${running.metricsPort}")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    var timedAt = System.nanoTime()
    var filesAtTimed = 0
    while (line != null && line != "STOP") {
      if (line == "TIMED") {
        timedAt = System.nanoTime()
        filesAtTimed = parquetFiles(new File(s"$dataDir/events"))
        trace.foreach(_.start())
      }
      line = in.readLine()
    }
    val minutes = since(timedAt) / 60
    trace.foreach { t =>
      t.stop()
      val (ing, _, _, rows) = t.streamStats(running.ingest.id)
      r.layers("ingest.trigger_ms") = ing.getOrElse("triggerExecution", 0.0)
      r.layers("ingest.add_batch_ms") = ing.getOrElse("addBatch", 0.0)
      r.layers("ingest.rows_per_batch") = rows
      r.layers("store.files_written_per_min") =
        (parquetFiles(new File(s"$dataDir/events")) - filesAtTimed) / minutes
      spark.streams.active.find(_.id != running.ingest.id).foreach { tail =>
        val (p50, max, n, _) = t.streamStats(tail.id)
        r.layers("sources.tail_offset_ms") =
          p50.getOrElse("latestOffset", p50.getOrElse("getOffset", 0.0))
        r.layers("sources.tail_get_batch_ms") = p50.getOrElse("getBatch", 0.0)
        r.layers("serve.tail_trigger_ms") = p50.getOrElse("triggerExecution", 0.0)
        r.layers("serve.tail_trigger_max_ms") = max
        r.layers("serve.tail_batches_per_s") = n / (minutes * 60)
      }
    }
    running.close()
    // the replay layers, on the seeded table of the `replay` workload:
    // a late joiner's store read path, which live traffic bypasses
    trace.foreach { _ =>
      val rr = new Result
      // the JVM is warm and the figures are per-layer: a smaller table,
      // no warm-up round, so the traced run stays well inside its limit
      replay(spark, Args(a.m ++ Map("root" -> s"${a("root")}/replay", "seconds" -> "0")),
        Some(new Trace(spark)), rr, events = ReplayEvents / 3, warmUp = false)
      r.layers ++= rr.layers.filter { case (k, _) =>
        k.startsWith("serve.replay") || k.startsWith("serve.rows") ||
          k.startsWith("serve.useful") || k.startsWith("store.re") || k.startsWith("store.rows") }
      r.notes("replay_probe") = Json.nums(rr.metrics)
      r.attempted += rr.attempted
      r.failed += rr.failed
    }
  }

  private def parquetFiles(dir: File): Int =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).map { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  // ------------------------------------------------------------- replay

  /** Events in the replay table. */
  val ReplayEvents = 30000
  val ReplayChunk = 50000

  /** Seed one hour through the live ingest's batch pipeline (decode →
    * sequencer stamp → append) with the sequencer clock set to that
    * hour, the way a service restarted over an aged table looks.
    * Returns the last stamped `time_us`.
    */
  private def seedHour(spark: SparkSession, path: String, g: Gen, ns: Range,
      baseUs: Long, prevMaxUs: Long): Long = {
    import spark.implicits._
    val frames = spark.range(ns.start, ns.end).as[Long]
      .map(n => g.frame(n, baseUs + n, 0L)).toDF("value")
    val decoded = Decode.decodeFrames(Decode.parseMixedFrames(frames))
    val seq = Sequencer.stamp(decoded, Seq("event_time_us", "did", "type"),
      prevMaxUs, nowUs = () => baseUs)
    EventsTable.append(seq.df, path)
    seq.maxTimeUs
  }

  private def replay(spark: SparkSession, a: Args, trace: Option[Trace], r: Result,
      events: Int = ReplayEvents, warmUp: Boolean = true): Unit = {
    val seed = a.long("seed")
    val g = new Gen(seed)
    val path = s"${a("root")}/data/events"
    val hourUs = 3600L * 1000000L
    val nowUs = System.currentTimeMillis() * 1000L
    val hourA = (nowUs / hourUs - 3) * hourUs
    val hourB = (nowUs / hourUs - 2) * hourUs
    val half = events / 2
    // hour A: written in two appends, then compacted to one file
    var prev = seedHour(spark, path, g, 0 until half / 2, hourA, 0L)
    prev = seedHour(spark, path, g, half / 2 until half, hourA, prev)
    Compaction.compactHour(spark, path, hourA / hourUs)
    // hour B: 6-10 appends (by seed), the shape of an hour written live
    val appends = 6 + (Gen.mix(seed) >>> 1) % 5
    val step = (half + appends - 1) / appends
    (half until events by step.toInt).foreach { lo =>
      prev = seedHour(spark, path, g, lo until math.min(lo + step.toInt, events),
        hourB, prev)
    }
    val startUs = hourA

    val registry = new Metrics.Registry
    val endpoint = Metrics.serve(registry, 0)
    val head = graft.sources.SocketIngress.resumeState(spark, path)._2
    val tail = spark.readStream.format("graft-replay")
      .option("path", path).option("cursor", (head + 1).toString).load()
    // the service's serving configuration (Service.Config defaults)
    val server = WebSocketServe.start(tail, path, s"${a("root")}/ckpt/serve",
      metrics = registry, maxSubRate = Some(5000.0), replayChunkSize = ReplayChunk,
      replayThrottle = Some(new ReplayThrottle(2000000L)))
    val expected = Gen.Filters.map { case (f, _) =>
      f -> (0L until events).count(n => Gen.wants(g, f, n)) }.toMap

    /** One closed-loop round: three cursored subscribers from the table
      * start until each holds its whole subset. Returns (per-filter
      * connect → complete seconds, events delivered).
      */
    def round(): (Map[String, Double], Long) = {
      val t0 = Clock.nowUs()
      val subs = Gen.Filters.map { case (f, q) =>
        f -> new Subscriber(s"ws://localhost:${server.port}/subscribe?cursor=$startUs" +
          (if (q.isEmpty) "" else s"&$q"))
      }
      val done = mutable.Map.empty[String, Double]
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (done.size < subs.size && System.nanoTime() < deadline) {
        subs.foreach { case (f, s) =>
          if (!done.contains(f) && s.size >= expected(f))
            done(f) = (s.lastReceiptUs - t0) / 1e6
        }
        Thread.sleep(2)
      }
      Thread.sleep(200) // anything past the subset is a failure: let it arrive
      var delivered = 0L
      subs.foreach { case (f, s) =>
        val (ns, ts, _) = s.snapshot()
        val d = Delivery.judge(ns, ts, n => Gen.wants(g, f, n), 0L, events)
        r.attempted += d.expected
        r.failed += d.failed + s.parseFailures
        delivered += d.received
        if (d.failed > 0) r.notes(s"replay_$f") = d.json
        s.close()
      }
      val times = Gen.Filters.map { case (f, _) => f -> done.getOrElse(f, Double.NaN) }.toMap
      println(s"replay round: ${times.map { case (f, t) => f"$f=$t%.2fs" }.mkString(" ")}")
      (times, delivered)
    }

    println(f"seeded in ${(System.currentTimeMillis() - a.long("launchMs")) / 1e3}%.1fs")
    if (warmUp) round() // JIT, file listings, the serve query's first batches
    setupDone(a, r)
    trace.foreach(_.start())
    val rounds = mutable.ArrayBuffer.empty[(Map[String, Double], Long)]
    val t0 = System.nanoTime()
    while (rounds.isEmpty || since(t0) < a.long("seconds")) rounds += round()
    trace.foreach(_.stop())

    def ms(f: String) = rounds.map(_._1(f) * 1000).toSeq
    r.metrics("light_p50_ms") = Stats.median(ms("did"))
    r.metrics("light_p99_ms") = Stats.pct(ms("did"), 0.99)
    r.metrics("heavy_p50_ms") = Stats.median(ms("all"))
    r.metrics("heavy_p99_ms") = Stats.pct(ms("all"), 0.99)
    r.metrics("items_per_s") = Stats.median(rounds.map { case (t, n) => n / t.values.max }.toSeq)
    r.notes("rounds") = rounds.size.toString
    r.notes("table") = s""""$events events, hour A compacted, hour B in $appends appends""""
    r.notes("delivered_metric") = Json.num(scrapeDelivered(endpoint.port))

    trace.foreach { t =>
      val pool = t.replayPool
      val delivered = rounds.map(_._2).sum.toDouble
      r.layers("serve.replay_jobs") = pool.jobs.get.toDouble
      r.layers("serve.rows_per_replay_job") =
        pool.recordsRead.get.toDouble / math.max(1L, pool.jobs.get)
      r.layers("serve.useful_ratio") = delivered / math.max(1L, pool.recordsRead.get)
      r.layers("serve.delivered") = scrapeDelivered(endpoint.port)
      // the store read path alone: walk the table in replay chunks
      t.start()
      val read0 = t.recordsRead
      var cursor = startUs
      val chunkMs = mutable.ArrayBuffer.empty[Double]
      var more = true
      while (more) {
        val c0 = System.nanoTime()
        val rows = Replay.replayChunk(spark, path, cursor, ReplayChunk).select("time_us").collect()
        chunkMs += since(c0) * 1000
        more = rows.nonEmpty
        if (more) cursor = rows.map(_.getLong(0)).max + 1
      }
      t.stop()
      r.layers("store.replay_chunk_ms") = Stats.median(chunkMs.toSeq)
      r.layers("store.rows_scanned") = (t.recordsRead - read0).toDouble
    }
    server.close()
    endpoint.close()
  }

  /** Sum of `graft_events_delivered_total` over its series in /metrics. */
  def scrapeDelivered(port: Int): Double = {
    val src = scala.io.Source.fromURL(s"http://localhost:$port/metrics")
    try src.getLines().filter(_.startsWith("graft_events_delivered_total"))
      .map(_.trim.split("\\s+").last.toDouble).sum
    finally src.close()
  }

  // ------------------------------------------------------------ queries

  /** The registry entries the `queries` workload runs, with the layer
    * each belongs to (its registering module, and for `ext` its family).
    * One or two per layer: every layer of the registry is exercised,
    * and the untimed first pass, which pays JIT and codegen for each
    * new operator, stays near 20 s.
    */
  val QuerySet: Seq[(String, String)] = Seq(
    "hourly_counts" -> "query.events", "json_extract" -> "query.events",
    "q1_pricing_summary" -> "query.relational", "join_semi" -> "query.relational",
    "stats_agg" -> "query.scalar",
    "dedup_exact" -> "ext.dedup", "dedup_minhash_lsh" -> "ext.dedup",
    "knn_brute" -> "ext.similarity", "token_counts" -> "ext.text",
    "stratified_sample" -> "ext.sampling",
    "image_dims" -> "ext.multimodal")

  /** Untimed passes after the first, until the JIT has settled. */
  val WarmPasses = 2
  /** Seconds between query arrivals in the timed window: 1.33 queries/s.
    * The slowest closed-loop runs on a busy host did 1.95 queries/s, so
    * the engine keeps up on any host state seen, and the completed rate
    * moves only when a change costs it a third of its capacity.
    */
  val ArrivalS = 0.75

  private def queries(spark: SparkSession, a: Args, trace: Option[Trace], r: Result): Unit = {
    val dir = a("tables")
    val out = s"${a("root")}/out"
    val registry = graft.SparkEntry.queries
    val rows = mutable.Map.empty[String, Long]
    // first pass, untimed: builds indexes, warms the JIT, and writes
    // each output once for the oracle check
    val firstPass = mutable.LinkedHashMap.empty[String, Double]
    QuerySet.foreach { case (q, _) =>
      r.attempted += 1
      val q0 = System.nanoTime()
      try {
        registry(q)(spark, dir).write.parquet(s"$out/$q")
        rows(q) = spark.read.parquet(s"$out/$q").count()
      } catch { case e: Throwable =>
        r.failed += 1; r.notes(q) = Json.str(e.toString.take(300))
      }
      firstPass(q) = since(q0)
    }
    r.notes("first_pass_s") = Json.nums(firstPass)
    val oracle = QuerySet.map { case (q, _) => q -> Json.str(graft.SparkEntry.oracleSql(q)) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(oracle))

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    /** Run `q`, check its row count against the first pass; service
      * seconds.
      */
    def runOne(q: String): Double = {
      r.attempted += 1
      val q0 = System.nanoTime()
      try {
        val n = registry(q)(spark, dir).collect().length
        if (!rows.get(q).contains(n.toLong)) {
          r.failed += 1; r.notes(s"${q}_rows") = s""""$n vs first pass ${rows.get(q)}""""
        }
      } catch { case e: Throwable =>
        r.failed += 1; r.notes(q) = Json.str(e.toString.take(300))
      }
      val t = since(q0)
      times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t
      t
    }
    // the JIT is still compiling after the first pass: each of the next
    // three passes is 10-30 % faster than the one before (C1 only, see
    // run.py)
    r.notes("warm_pass_s") = Json.nums((1 to WarmPasses).map { i =>
      i.toString -> QuerySet.map { case (q, _) => runOne(q) }.sum })
    times.clear()
    setupDone(a, r)

    // open loop: query k of the set's round-robin is due k × ArrivalS
    // after the window opens, whether or not the one before is done
    trace.foreach(_.start())
    val arrivals = math.max(1, (a.long("seconds") / ArrivalS).toInt)
    val t0 = System.nanoTime()
    var lateMax = 0.0
    (0 until arrivals).foreach { k =>
      val due = k * ArrivalS
      val wait = due - since(t0)
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      lateMax = math.max(lateMax, since(t0) - due)
      runOne(QuerySet(k % QuerySet.size)._1)
    }
    val window = since(t0)
    trace.foreach(_.stop())
    // each query's fastest run in the window: these are deterministic
    // computations, and on a shared VM whole seconds of a run can be
    // slowed by neighbours; the minimum is the estimator least moved
    val perQuery = QuerySet.map { case (q, l) => (q, l, times(q).min) }
    def ms(core: Boolean) = perQuery.collect {
      case (_, l, t) if l.startsWith("query.") == core => t * 1000 }
    r.metrics("light_p50_ms") = Stats.median(ms(true))
    r.metrics("light_p99_ms") = ms(true).max
    r.metrics("heavy_p50_ms") = Stats.median(ms(false))
    r.metrics("heavy_p99_ms") = ms(false).max
    r.metrics("items_per_s") = arrivals / window
    r.metrics("queries_s") = perQuery.map(_._3).sum
    r.notes("arrivals") = arrivals.toString
    r.notes("late_max_s") = Json.num(lateMax)
    r.notes("min_s") = Json.nums(perQuery.map { case (q, _, t) => q -> t })
    trace.foreach { _ =>
      perQuery.groupBy(_._2).foreach { case (l, qs) => r.layers(s"${l}_s") = qs.map(_._3).sum }
    }
  }

  // ----------------------------------------------------------- pipeline

  /** Corpus sizes: the light corpus is small enough that per-job cost
    * dominates `runOn`; the heavy one four times larger, so data work
    * grows while the job count stays the same.
    */
  val LightDocs = 5000L
  val HeavyDocs = 20000L

  /** The rehearsal's corpus shape (60-word documents from a 100k-word
    * vocabulary, five languages, eight sources), seeded: the seed salts
    * every word hash and sets the exact-twin share between 8 and 12 %.
    */
  private def corpus(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val twinShare = 0.08 + 0.04 * Gen.unit(Gen.mix(seed ^ 0x7717L))
    val distinct = (n * (1 - twinShare)).toLong + 1
    val src = pmod(col("id"), lit(distinct))
    def word(k: Int) = concat(lit("w"), pmod(hash(src * 60 + k, lit(seed)), lit(100000)))
    val tokens = (0 until 10).map(word) ++ Seq(lit("the")) ++
      (10 until 40).map(word) ++ Seq(lit("and")) ++ (40 until 60).map(word)
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", tokens: _*).as("text"),
      element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("pt")),
        (pmod(hash(col("id") + 3, lit(seed)), lit(5)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(8))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  private def pipeline(spark: SparkSession, a: Args, trace: Option[Trace], r: Result): Unit = {
    val seed = a.long("seed")
    val root = a("root")
    // the rehearsal's reduce width rule: the core count, or one task per
    // 100k docs when that is wider
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      math.max(spark.sparkContext.defaultParallelism, (HeavyDocs / 100000L).toInt).toString)
    Seq("light" -> LightDocs, "heavy" -> HeavyDocs).foreach { case (k, n) =>
      corpus(spark, n, seed).write.parquet(s"$root/data/$k")
    }
    var k = 0
    val stageTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val reference = mutable.Map.empty[String, Seq[graft.ext.CorpusPipeline.Stage]]

    /** One `runOn` with durable checkpoints; wall seconds. The first run
      * of each corpus is the reference accounting every later run must
      * reproduce exactly.
      */
    def run(which: String, timed: Boolean): Double = {
      k += 1
      val traced = trace.isDefined && timed && which == "heavy"
      val t0 = System.nanoTime()
      val stages = graft.ext.CorpusPipeline.runOn(spark,
        spark.read.parquet(s"$root/data/$which"), s"$root/out/$k",
        checkpointDir = Some(s"$root/ckpt/$k"),
        onStage = (name, sec) => if (traced)
          stageTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec)
      val wall = since(t0)
      println(f"pipeline run $k: $which%s ${wall}%.2fs")
      val n = if (which == "light") LightDocs else HeavyDocs
      r.attempted += 1
      val chained = stages.headOption.forall(_.docsIn == n) &&
        stages.zip(stages.drop(1)).forall { case (p, q) => q.docsIn == p.docsOut } &&
        stages.forall(s => s.docsOut <= s.docsIn && s.docsOut > 0)
      val ref = reference.getOrElseUpdate(which, stages)
      if (!chained || stages != ref) {
        r.failed += 1
        r.notes(s"${which}_$k") = Json.str(stages.mkString(" "))
      }
      if (traced) stages.foreach(s => r.layers(s"ext.stage.${s.stage}_docs") = s.docsOut.toDouble)
      wall
    }

    run("light", timed = false) // warm-up
    setupDone(a, r)
    trace.foreach(_.start())
    val light, heavy = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (heavy.isEmpty || since(t0) < a.long("seconds")) {
      light += run("light", timed = true)
      heavy += run("heavy", timed = true)
    }
    trace.foreach(_.stop())
    r.metrics("light_p50_ms") = Stats.median(light.toSeq) * 1000
    r.metrics("light_p99_ms") = Stats.pct(light.toSeq, 0.99) * 1000
    r.metrics("heavy_p50_ms") = Stats.median(heavy.toSeq) * 1000
    r.metrics("heavy_p99_ms") = Stats.pct(heavy.toSeq, 0.99) * 1000
    r.metrics("items_per_s") = HeavyDocs / Stats.median(heavy.toSeq)
    r.notes("runs") = heavy.size.toString
    r.notes("accounting") = Json.str(reference("heavy")
      .map(s => s"${s.stage}:${s.docsIn}->${s.docsOut}").mkString(" "))
    stageTimes.foreach { case (s, ts) => r.layers(s"ext.stage.${s}_s") = ts.sum / heavy.size }
  }
}
