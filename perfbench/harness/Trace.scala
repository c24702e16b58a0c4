package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch microseconds taken from a
  * monotonic clock, so they line up with the millisecond event times Spark
  * listeners report. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Long, var end: Long = -1L)

/** Records a span around every call the harness makes. Spans nest
  * (a foreachBatch body runs inside the drain that triggered it) and are
  * kept in memory until the pass ends. The traced run additionally tags
  * every Spark job with the open span's id. */
final class Spans(spark: SparkSession, tagJobs: Boolean) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def apply[T](name: String, layer: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(all.size, name, layer, stack.headOption.map(_.id).getOrElse(-1), nowUs)
      all += sp
      stack.push(sp)
      sp
    }
    val sc = spark.sparkContext
    val prev = if (tagJobs) sc.getLocalProperty(Spans.Key) else null
    if (tagJobs) sc.setLocalProperty(Spans.Key, s.id.toString)
    try body
    finally {
      if (tagJobs) sc.setLocalProperty(Spans.Key, prev)
      synchronized { s.end = nowUs; stack.pop() }
    }
  }

  def seconds(s: Span): Double = (s.end - s.start) / 1e6
}

object Spans {
  val Key = "perfbench.span"
  /** Library packages the workloads enter (multimodal and tools are not
    * measured). */
  val Layers: Seq[String] = Seq("features", "signals", "backtest", "ml", "fundamentals",
    "relational", "text", "dedup", "ann", "operators", "retrieval", "etl", "sources",
    "streaming")
}

/** The traced run's listeners: job/stage metrics, Catalyst phase times and
  * streaming trigger progress, all keyed back to spans. */
final class Tracer(spark: SparkSession, spans: Spans) {
  private final case class Job(tag: Int, start: Long, var end: Long = -1L)
  /** One stage that ran, charged once to the span that submitted it. A job
    * also lists the stages earlier jobs already ran (and it skips), so
    * stage metrics are keyed by stage, never summed over a job's list. */
  private final case class Stage(tag: Int, submitted: Long, tasks: Int = 0, cpuNs: Long = 0L,
                                 shuffle: Long = 0L, spill: Long = 0L, output: Long = 0L)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)] // (phase start us, seconds)
  private val triggers = mutable.ArrayBuffer.empty[(Double, Double)] // (trigger s, addBatch s)
  @volatile private var listenerNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(body) finally listenerNs += System.nanoTime() - t0
  }

  private def tagOf(p: java.util.Properties): Int =
    Option(p).flatMap(p => Option(p.getProperty(Spans.Key))).map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs(e.jobId) = Job(tagOf(e.properties), e.time * 1000L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val i = e.stageInfo
      if (!stages.contains(i.stageId))
        stages(i.stageId) = Stage(tagOf(e.properties),
          i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val m = i.taskMetrics
      // retried attempts add to the stage's totals
      stages.get(i.stageId).filter(_ => m != null).foreach { st =>
        stages(i.stageId) = st.copy(
          tasks = st.tasks + i.numTasks,
          cpuNs = st.cpuNs + m.executorCpuTime,
          shuffle = st.shuffle + m.shuffleWriteMetrics.bytesWritten,
          spill = st.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
          output = st.output + m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty)
        plans += ((parts.map(_.startTimeMs).min * 1000L,
          parts.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val d = e.progress.durationMs
      def s(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      triggers += ((s("triggerExecution"), s("addBatch")))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Innermost span open at `t` (spans of one serial client nest). */
  private def spanAt(t: Long): Option[Span] =
    spans.all.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)

  /** Length of `[a, b)` covered by the sorted, disjoint `cover` intervals. */
  private def covered(a: Long, b: Long, cover: Seq[(Long, Long)]): Long =
    cover.iterator.map { case (s, e) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum

  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** The span a job or stage belongs to: its tag when that span was open
    * at time `t`, else the innermost span open then (work submitted from
    * pooled threads may carry a stale tag). */
  private def owner(tag: Int, t: Long): Option[Span] = {
    val tagged = if (tag >= 0 && tag < spans.all.size) Some(spans.all(tag)) else None
    tagged.filter(s => s.start <= t && t <= s.end).orElse(spanAt(t))
  }

  /** Bytes written by the stages of the spans `pred` selects. */
  def outputBytes(pred: Span => Boolean): Long = synchronized {
    stages.values.filter(st => owner(st.tag, st.submitted).exists(pred)).map(_.output).sum
  }
  def triggerSeconds: (Double, Double) = synchronized {
    (triggers.map(_._1).sum, triggers.map(_._2).sum)
  }
  def listenerSeconds: Double = listenerNs / 1e9

  /** Per-layer metrics over every recorded span. */
  def layerMetrics(): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    Spans.Layers.foreach { l =>
      Seq("self_s", "plan_s", "driver_gap_s", "jobs", "tasks", "exec_cpu_s",
        "shuffle_bytes", "spill_bytes").foreach(m => out(s"$l.$m") = 0.0)
    }
    def add(layer: String, m: String, v: Double): Unit =
      if (Spans.Layers.contains(layer)) out(s"$layer.$m") += v
    val children = spans.all.groupBy(_.parent)
    val jobCover = union(jobs.values.filter(_.end >= 0).map(j => (j.start, j.end)).toSeq)
    spans.all.foreach { s =>
      val kids = union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      val selfUs = (s.end - s.start) - kids.map { case (a, b) => b - a }.sum
      add(s.layer, "self_s", selfUs / 1e6)
      // self intervals = the span minus its children; the driver gap is
      // the part of them during which no Spark job was running
      val selfIv = kids.foldLeft((List.empty[(Long, Long)], s.start)) {
        case ((acc, cur), (a, b)) => ((cur, a) :: acc, b)
      } match { case (acc, cur) => ((cur, s.end) :: acc).filter(x => x._2 > x._1) }
      val busy = selfIv.map { case (a, b) => covered(a, b, jobCover) }.sum
      add(s.layer, "driver_gap_s", (selfUs - busy) / 1e6)
    }
    plans.foreach { case (t, sec) => spanAt(t).foreach(s => add(s.layer, "plan_s", sec)) }
    jobs.values.foreach(j => owner(j.tag, j.start).foreach(s => add(s.layer, "jobs", 1)))
    stages.values.foreach { st =>
      owner(st.tag, st.submitted).foreach { s =>
        add(s.layer, "tasks", st.tasks)
        add(s.layer, "exec_cpu_s", st.cpuNs / 1e9)
        add(s.layer, "shuffle_bytes", st.shuffle.toDouble)
        add(s.layer, "spill_bytes", st.spill.toDouble)
      }
    }
    out.toMap
  }
}
