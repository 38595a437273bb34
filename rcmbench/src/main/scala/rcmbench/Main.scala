package rcmbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and prints its metrics.
  *
  * Usage: `rcmbench.Main --workload <rcm_daily|curation_dag> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir>`
  *
  * Set-up is session start plus one input generation. The timed loop
  * then repeats the workload's batch until `--seconds` have passed,
  * isolating each start line (blocking unpersist of every pinned RDD,
  * then a GC) after reading the storage the previous batch left pinned.
  * The first batch runs in a fresh JVM, as a daily batch job does, and
  * is the reported `batch_s`; any later batch is printed as a warm one.
  * With `--trace 1` one traced and one untraced warm batch follow, and
  * the per-layer counters of the traced one are printed.
  *
  * The last line is `RESULT <json>`; `run.py` turns it into the
  * benchmark's result line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String)

  val workloads: Seq[String] = Seq("rcm_daily", "curation_dag")

  /** Input sizes: the RCM source scale (1 = the reference's 20k
    * transactions and 20k claims) and the curation DAG's documents (the
    * size of the repository's sf0.1 `documents` testdata). */
  val rcmScale = 1.0
  val curationDocs = 5000

  val layers: Seq[String] = Seq("etl.extract", "etl.transform", "etl.model_dims",
    "operators.scd2", "etl.model_facts", "etl.validate", "etl.write") ++
    (1 to 11).map(i => s"analytics.q$i") ++ Seq("analytics.q1_day") ++
    Seq("queries.curation", "streaming", "bench.verify")
  val counters: Seq[String] = Seq("wall_ms", "self_ms", "jobs", "stages", "tasks", "task_ms",
    "idle_ms", "shuffle_write_bytes", "input_bytes", "spill_bytes", "failed_tasks",
    "pinned_bytes_at_return")
  def extras(layer: String): Seq[String] = layer match {
    case "etl.write"                     => Seq("files_written", "bytes_written")
    case "analytics.q1_day"              => Nil
    case l if l.startsWith("analytics.") => Seq("plan_ms")
    case "streaming"                     => Seq("batches", "addBatch_ms", "walCommit_ms", "queryPlanning_ms")
    case _                               => Nil
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(workloads.contains(w), s"--workload must be one of ${workloads.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("work", "rcmbench-work"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    println(s"rcmbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=$cores")
    try run(spark, a, sessionS) finally spark.stop()
  }

  /** Blocking release of every pinned RDD, then a GC, before a start line. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs `body` and returns its result with the largest heap left in
    * use after any collection during it, in MB: the live set plus what
    * survived young collections, not the eden fill between them. */
  private def withLivePeak[T](body: => T): (T, Double) = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val peak = new AtomicLong(0L)
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        peak.accumulateAndGet(after.collect { case (k, u) if heapPools(k) => u.getUsed }.sum, math.max)
      }
    val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    try { val r = body; (r, peak.get / 1048576.0) }
    finally emitters.foreach(_.removeNotificationListener(listener))
  }

  /** One loop's samples. */
  final class Loop {
    val batchS = mutable.ArrayBuffer.empty[Double]
    val details = mutable.ArrayBuffer.empty[Map[String, Double]]
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val pinnedMb = mutable.ArrayBuffer.empty[Double]
    val gcMs = mutable.ArrayBuffer.empty[Double]
    val livePeakMb = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
  }

  /** Runs batches `first`, `first + 1`, ... until `seconds` have passed,
    * at least one. */
  private def loop(spark: SparkSession, w: Workload, seconds: Double, first: Int,
      trace: Option[Tracer]): Loop = {
    val l = new Loop
    val start = System.nanoTime()
    var i = first
    while (i == first || (System.nanoTime() - start) / 1e9 < seconds) {
      isolate(spark)
      val gc0 = gcMs()
      val checks = new Checks
      val (s, liveMb) = withLivePeak {
        try Some(Workload.span(trace, "bench.batch")(w.batch(i, checks, trace)))
        catch { case e: Exception => l.failures += s"batch $i threw $e"; None }
      }
      // read before the next start line releases anything
      l.pinnedMb += Tracer.pinnedBytes(spark) / 1048576.0
      l.gcMs += (gcMs() - gc0).toDouble
      l.livePeakMb += liveMb
      val bad = checks.take()
      l.failures ++= bad
      l.attempted += 1
      // a batch whose checks failed still ran, so its time is kept
      s.foreach { secs =>
        l.batchS += secs
        l.details += w.lastDetail
        w match { case d: RcmDaily => l.queryMs ++= d.lastQueryMs; case _ => }
      }
      if (s.isEmpty || bad.nonEmpty) l.failed += 1
      w.afterBatch()
      i += 1
    }
    l
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    val w: Workload = a.workload match {
      case "rcm_daily"    => new RcmDaily(spark, a.work, a.seed, rcmScale)
      case "curation_dag" => new CurationDag(spark, a.work, a.seed, curationDocs)
    }
    val t0 = System.nanoTime()
    w.setUp()
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    println(f"setup_s $setupS%.4f s (session start $sessionS%.3f s + input generation " +
      f"${setupS - sessionS}%.3f s)")

    val steal0 = Host.stealAndTotalTicks()
    val timed = loop(spark, w, a.seconds, 0, None)
    println(Host.stealLine(steal0, Host.stealAndTotalTicks()))
    var (attempted, failed) = (timed.attempted, timed.failed)
    val failures = timed.failures

    val e2e = mutable.LinkedHashMap("setup_s" -> setupS)
    if (timed.batchS.nonEmpty) {
      e2e("batch_s") = timed.batchS.head
      println(f"batch_s ${timed.batchS.head}%.4f s (the first batch, in a fresh JVM; " +
        "checks not timed)")
      if (timed.batchS.size > 1)
        println(f"warm_batch_s ${Stats.median(timed.batchS.tail.toSeq)}%.4f s " +
          s"(median of ${timed.batchS.size - 1} later batches)")
      val first = timed.details.head
      for ((k, unit) <- Seq("load_s" -> "s", "merge_s" -> "s", "serve_s" -> "s",
          "out_bytes_per_in_byte" -> "B/B") if first.contains(k))
        println(f"$k ${first(k)}%.4f $unit (first batch)")
      if (timed.queryMs.nonEmpty) {
        val (qt, qtl) = Stats.tail(timed.queryMs.toSeq)
        println(f"query_p50_ms ${Stats.median(timed.queryMs.toSeq)}%.3f ms " +
          s"(median of ${timed.queryMs.size} KPI query executions)")
        println(f"query_tail_ms $qt%.3f ms ($qtl of ${timed.queryMs.size} KPI query executions)")
      }
    }
    println(f"pinned_mb_at_return ${timed.pinnedMb.head}%.3f MB (first batch)")
    w match { case c: CurationDag => println(c.ledgerLine); case _ => }

    val layerValues = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      val tracer = new Tracer(spark)
      val traced = try loop(spark, w, 0, 1000, Some(tracer)) finally tracer.close()
      val warm = loop(spark, w, 0, 2000, None)
      for (l <- Seq(traced, warm)) {
        attempted += l.attempted; failed += l.failed; failures ++= l.failures
      }
      val spans = tracer.report()
      val perCall = Tracer.perCall(spans)
      val dagCalls = perCall.get("queries.curation").map(_._1).getOrElse(0)
      for (layer <- layers) {
        val (calls, values) = perCall.getOrElse(layer, (0, Map.empty[String, Double]))
        // a stream's micro-batches are reported per DAG call
        val scale = if (layer == "streaming" && dagCalls > 0) calls.toDouble / dagCalls else 1.0
        for (c <- counters ++ extras(layer))
          layerValues(s"$layer.$c") = values.getOrElse(c, 0.0) * scale
        println(s"layer $layer calls=$calls " + (counters ++ extras(layer))
          .map(c => f"$c=${layerValues(s"$layer.$c")}%.1f").mkString(" "))
      }
      layerValues("jvm.gc_ms") = mean(traced.gcMs.toSeq)
      layerValues("jvm.heap_peak_mb") = mean(traced.livePeakMb.toSeq)
      val overhead = if (traced.batchS.nonEmpty && warm.batchS.nonEmpty)
        (traced.batchS.head - warm.batchS.head) * 1000 else 0.0
      layerValues("trace.overhead_ms") = overhead
      layerValues("trace.unattributed_jobs") =
        spans.filter(_.name == "unattributed").map(_.values("jobs")).sum
      println(f"layer jvm gc_ms=${layerValues("jvm.gc_ms")}%.1f heap_peak_mb=${layerValues("jvm.heap_peak_mb")}%.1f")
      println(f"trace overhead_ms=$overhead%.1f (the traced batch minus the untraced warm batch after it) " +
        f"unattributed_jobs=${layerValues("trace.unattributed_jobs")}%.0f")
      for (phase <- Seq("rcm.load", "rcm.merge", "rcm.serve"); p <- spans.find(_.name == phase);
           wd <- warm.details.headOption) {
        // the self times of the layer spans inside a phase, checks left
        // out, against the untraced warm phase: they should differ by at
        // most the tracing overhead
        val inside = spans.filter(s => s.name != "bench.verify" && s.name != phase &&
          s.startMs >= p.startMs && s.startMs <= p.startMs + p.values("wall_ms"))
        val selfMs = inside.map(_.values("self_ms")).sum
        val untracedMs = wd(phase.stripPrefix("rcm.") + "_s") * 1000
        println(f"selftime $phase layers_self_ms=$selfMs%.1f untraced_warm_ms=$untracedMs%.1f " +
          f"diff_ms=${selfMs - untracedMs}%.1f within_overhead=${math.abs(selfMs - untracedMs) <= math.abs(overhead)}")
      }
    }
    println(f"error_rate ${failed.toDouble / attempted}%.4f ($failed failed of $attempted batches)")
    failures.take(20).foreach(f => println(s"FAILED $f"))

    def json(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ", ", "}")
    println(s"""RESULT {"attempted": $attempted, "failed": $failed, "end_to_end": ${json(e2e)}, """ +
      s""""per_layer": ${json(layerValues)}}""")
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
