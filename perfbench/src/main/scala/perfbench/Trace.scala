package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from the public Spark hooks only: one
  * [[SparkListener]] (scheduler work, split by scheduler pool), one
  * [[QueryExecutionListener]] (Catalyst phase times) and one
  * [[StreamingQueryListener]] (micro-batch durations per query). The
  * time spent inside the callbacks is counted too: it is the cost the
  * tracing itself puts on the listener bus.
  */
final class Trace(spark: SparkSession) {
  private val selfNs = new AtomicLong
  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  final class Tally {
    val jobs, stages, tasks, recordsRead = new AtomicLong
    val schedDelayMs, runMs, deserMs, shuffleBytes, spillBytes, resultBytes =
      new AtomicLong
  }
  private val all = new Tally
  private val byPool = new ConcurrentHashMap[String, Tally]()
  private val stagePool = new ConcurrentHashMap[Int, String]()
  private def pool(p: String): Tally = byPool.computeIfAbsent(p, _ => new Tally)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties).flatMap(pr =>
        Option(pr.getProperty("spark.scheduler.pool"))).getOrElse("default")
      e.stageIds.foreach(stagePool.put(_, p))
      all.jobs.incrementAndGet(); pool(p).jobs.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      all.stages.incrementAndGet()
      pool(stagePool.getOrDefault(e.stageInfo.stageId, "default")).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val t = pool(stagePool.getOrDefault(e.stageId, "default"))
        Seq(all, t).foreach { s =>
          val info = e.taskInfo
          s.tasks.incrementAndGet()
          s.schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
          s.runMs.addAndGet(m.executorRunTime)
          s.deserMs.addAndGet(m.executorDeserializeTime)
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          s.resultBytes.addAndGet(m.resultSize)
          s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    }
  }

  private val catalystMs = new DoubleAdder
  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach(k =>
        ph.get(k).foreach(p => catalystMs.add(p.durationMs.toDouble)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  /** Per streaming query id: (durationMs map, numInputRows) per trigger. */
  private val progress = new ConcurrentHashMap[java.util.UUID,
    java.util.concurrent.ConcurrentLinkedQueue[(Map[String, Long], Long)]]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      progress.computeIfAbsent(p.id, _ => new java.util.concurrent.ConcurrentLinkedQueue())
        .add((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach; the listener bus is asynchronous, so give it a moment to
    * deliver what is queued first.
    */
  def stop(): Unit = {
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def listenerMs: Double = selfNs.get / 1e6
  def catalyst: Double = catalystMs.sum()
  def replayPool: Tally = pool("graft-replay")

  /** The `spark.*` scheduler metrics over every job of the run. */
  def sparkMetrics: Map[String, Double] = Map(
    "spark.jobs" -> all.jobs.get.toDouble,
    "spark.stages" -> all.stages.get.toDouble,
    "spark.tasks" -> all.tasks.get.toDouble,
    "spark.sched_delay_s" -> all.schedDelayMs.get / 1e3,
    "spark.run_s" -> all.runMs.get / 1e3,
    "spark.deser_s" -> all.deserMs.get / 1e3,
    "spark.shuffle_bytes" -> all.shuffleBytes.get.toDouble,
    "spark.spill_bytes" -> all.spillBytes.get.toDouble,
    "spark.result_bytes" -> all.resultBytes.get.toDouble,
    "plan.catalyst_ms" -> catalyst)

  def recordsRead: Long = all.recordsRead.get

  /** Trigger stats of one streaming query: the p50 of each named
    * duration, the max of `triggerExecution`, trigger count and the
    * p50 of input rows.
    */
  def streamStats(id: java.util.UUID): (Map[String, Double], Double, Int, Double) = {
    val ps = Option(progress.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
      .filter(_._2 > 0) // idle triggers poll an empty source; time the working ones
    val keys = ps.flatMap(_._1.keys).distinct
    val p50 = keys.map(k => k -> Stats.pct(ps.flatMap(_._1.get(k)).map(_.toDouble), 0.5)).toMap
    val max = if (ps.isEmpty) 0.0 else ps.flatMap(_._1.get("triggerExecution")).max.toDouble
    (p50, max, ps.size, Stats.pct(ps.map(_._2.toDouble), 0.5))
  }
}

object Stats {
  /** Nearest-rank percentile; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def pct(xs: Array[Long], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1))).toDouble
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Peak resident set of this JVM, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** One flat JSON object of numbers (plus nested raw JSON values). */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
}
