package rcmbench

import scala.collection.mutable

import org.apache.spark.{ListenerDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Layer attribution from outside the program: the benchmark wraps each
  * call into a layer in a [[span]], and a `SparkListener` plus a
  * `StreamingQueryListener` record every job, task and micro-batch. A
  * job belongs to the innermost span (or micro-batch) open at its start
  * time. With one client thread that window is exact: span boundaries
  * are placed on fresh milliseconds, so no job's start time can fall on
  * two spans. Jobs are never keyed on description or call site — a
  * stream's micro-batch jobs run on the stream thread and carry neither
  * the caller's description nor a useful call site.
  *
  * Counters per span: `wall_ms`, `self_ms` (wall minus child spans),
  * `jobs`, `stages` (stages that ran tasks), `tasks`, `task_ms`
  * (executor run time), `idle_ms` (self time not covered by the span's
  * own jobs), `shuffle_write_bytes`, `input_bytes`, `spill_bytes`,
  * `failed_tasks` and `pinned_bytes_at_return` (storage held by
  * persisted or checkpointed RDDs when the span closed). Micro-batches
  * become `streaming` spans with `batches` and the `addBatch`,
  * `walCommit` and `queryPlanning` durations. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Interval]
  private var open = List.empty[(Int, String, Long, Long)] // id, name, startMs, startNs
  private val notes = mutable.Map.empty[Int, mutable.Map[String, Double]]

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[Int, Agg]
  private val batches = mutable.ArrayBuffer.empty[Interval]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = new JobRec(e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new Agg)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + ms("triggerExecution")
      batches += Interval(-1, "streaming", start, end, (end - start).toDouble, 0L,
        Map("batches" -> 1.0, "addBatch_ms" -> ms("addBatch").toDouble,
          "walCommit_ms" -> ms("walCommit").toDouble,
          "queryPlanning_ms" -> ms("queryPlanning").toDouble))
    }
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Stops recording. The recorded spans stay readable. */
  def close(): Unit = {
    ListenerDrain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` as a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T = {
    val startMs = freshMillis()
    val id = spans.size
    spans += null // reserve the id; filled when the span closes
    open = (id, name, startMs, System.nanoTime()) :: open
    try body
    finally {
      val (_, _, s, startNs) = open.head
      val wallMs = (System.nanoTime() - startNs) / 1e6
      val pinned = pinnedBytes(spark)
      val endMs = System.currentTimeMillis()
      open = open.tail
      spans(id) = Interval(id, name, s, endMs, wallMs, pinned,
        notes.remove(id).map(_.toMap).getOrElse(Map.empty))
      freshMillis()
    }
  }

  /** Adds `value` to counter `key` of the innermost open span. */
  def note(key: String, value: Double): Unit = open.headOption.foreach { case (id, _, _, _) =>
    val m = notes.getOrElseUpdate(id, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + value
  }

  /** Every span and micro-batch with its counters, after the listener
    * bus has delivered all events so far. Jobs that started outside
    * every span are reported under the name `unattributed`. */
  def report(): Seq[SpanCounters] = {
    ListenerDrain(sc)
    synchronized {
      val client = spans.filter(_ != null).toSeq
      val all = client ++ batches.toSeq
      // nesting depth: the number of client spans enclosing the interval
      val depth = all.map(i => i -> client.count(c => c.id != i.id && c.contains(i))).toMap
      def innermost(t: Long): Option[Interval] =
        all.filter(i => i.startMs <= t && t <= i.endMs)
          .sortBy(i => (depth(i), i.startMs)).lastOption

      val ownJobs = mutable.Map.empty[Interval, mutable.ArrayBuffer[(Int, JobRec)]]
      val orphans = mutable.ArrayBuffer.empty[(Int, JobRec)]
      jobs.foreach { case (id, j) =>
        innermost(j.startMs) match {
          case Some(i) => ownJobs.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += (id -> j)
          case None    => orphans += (id -> j)
        }
      }
      val ranStages = stageJob.groupBy(_._2).map { case (j, m) => j -> m.keys.toSeq }

      def counters(name: String, i: Option[Interval], own: Seq[(Int, JobRec)]): SpanCounters = {
        val stages = own.flatMap { case (id, _) => ranStages.getOrElse(id, Nil) }
          .flatMap(s => stageAgg.get(s))
        def sum(f: Agg => Long): Double = stages.map(f).sum.toDouble
        val children = i.toSeq.flatMap(p => all.filter(c => c != p && depth(c) == depth(p) + 1 && p.contains(c)))
        val wall = i.map(_.wallMs).getOrElse(0.0)
        val self = math.max(0.0, wall - children.map(_.wallMs).sum)
        val busy = i.map(p => unionMs(own.map { case (_, j) =>
          (math.max(j.startMs, p.startMs), math.min(if (j.endMs < 0) p.endMs else j.endMs, p.endMs))
        })).getOrElse(0L)
        SpanCounters(name, i.map(_.startMs).getOrElse(0L), Map(
          "wall_ms" -> wall, "self_ms" -> self, "jobs" -> own.size.toDouble,
          "stages" -> stages.count(_.tasks > 0).toDouble, "tasks" -> sum(_.tasks),
          "task_ms" -> sum(_.taskMs), "idle_ms" -> math.max(0.0, self - busy),
          "shuffle_write_bytes" -> sum(_.shuffleWrite), "input_bytes" -> sum(_.input),
          "spill_bytes" -> sum(_.spill), "failed_tasks" -> sum(_.failed),
          "pinned_bytes_at_return" -> i.map(_.pinnedBytes.toDouble).getOrElse(0.0)
        ) ++ i.map(_.extra).getOrElse(Map.empty))
      }
      all.sortBy(_.startMs).map(i => counters(i.name, Some(i), ownJobs.getOrElse(i, Nil).toSeq)) ++
        (if (orphans.isEmpty) Nil else Seq(counters("unattributed", None, orphans.toSeq)))
    }
  }
}

object Tracer {

  final case class Interval(id: Int, name: String, startMs: Long, endMs: Long,
      wallMs: Double, pinnedBytes: Long, extra: Map[String, Double]) {
    def contains(o: Interval): Boolean = startMs <= o.startMs && o.endMs <= endMs
  }

  final case class SpanCounters(name: String, startMs: Long, values: Map[String, Double])

  private final class JobRec(val startMs: Long) { var endMs: Long = -1L }
  private final class Agg {
    var tasks, taskMs, shuffleWrite, input, spill, failed = 0L
  }

  /** Storage held by persisted or checkpointed RDDs, memory plus disk. */
  def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Total length of the union of closed millisecond intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var have = false
    intervals.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (have && s <= curE) curE = math.max(curE, e)
      else {
        if (have) total += curE - curS
        curS = s; curE = e; have = true
      }
    }
    if (have) total + (curE - curS) else 0L
  }

  /** Waits for the wall clock to reach a millisecond no earlier event
    * can carry, and returns it. */
  private def freshMillis(): Long = {
    val now = System.currentTimeMillis()
    var t = now
    while (t <= now) { Thread.sleep(0, 200000); t = System.currentTimeMillis() }
    t
  }

  /** Sums counters by span name and divides by the number of calls. */
  def perCall(spans: Seq[SpanCounters]): Map[String, (Int, Map[String, Double])] =
    spans.groupBy(_.name).map { case (name, ss) =>
      val keys = ss.flatMap(_.values.keys).distinct
      name -> (ss.size, keys.map(k => k -> ss.map(_.values.getOrElse(k, 0.0)).sum / ss.size).toMap)
    }
}
