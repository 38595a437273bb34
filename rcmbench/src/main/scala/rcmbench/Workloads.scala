package rcmbench

import java.io.File
import java.security.MessageDigest
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.analytics.{RcmAnalytics, RcmAnalyticsSql}
import graft.etl.{RcmExtraction, RcmModeling, RcmPipeline, RcmTransform}
import graft.operators.ScdType2

/** Correctness bookkeeping: each failed check is kept with its reason. */
final class Checks {
  private var failures = Vector.empty[String]
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures :+= what
  def equal[T](what: String, got: T, want: T): Unit = check(got == want, s"$what: got $got, want $want")
  /** Doubles summed in another order than the generator's agree to 1e-9. */
  def near(what: String, got: Double, want: Double): Unit =
    check(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want)), s"$what: got $got, want $want")
  def take(): Vector[String] = { val f = failures; failures = Vector.empty; f }
}

/** One benchmark workload: a set-up that generates its inputs, and a
  * batch the timed loop repeats. A batch checks its own output into
  * `checks` and returns its timed seconds, which leave out the time
  * spent on those checks. */
trait Workload {
  def setUp(): Unit
  def batch(iter: Int, checks: Checks, trace: Option[Tracer]): Double
  /** Sub-timings and sizes of the last batch, by metric name. */
  def lastDetail: Map[String, Double] = Map.empty
  /** Removes what the last batch left on disk; not timed. */
  def afterBatch(): Unit = ()
}

object Workload {
  def span[T](trace: Option[Tracer], name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(body))

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Parquet part files and their bytes under `dir`. */
  def parquetFiles(dir: File): (Long, Long) =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(parquetFiles)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (dir.getName.endsWith(".parquet")) (1L, dir.length()) else (0L, 0L)
}

/** `rcm_daily`: the paper's daily batch over two consecutive days. Day 1
  * is a first load (extract → runRaw with no prior dimension → write →
  * Q1); day 2 re-runs against day 1's `dim_patients` with a changed
  * patients snapshot, so [[ScdType2]] expires and re-versions rows; then
  * the 11 KPI queries read day 2's star back from parquet, so a write
  * layout change shows up as a read cost. */
final class RcmDaily(spark: SparkSession, work: String, seed: Long, scale: Double) extends Workload {
  import Workload._

  private val src1 = s"$work/src/day1"
  private val src2 = s"$work/src/day2"
  private val asOf1 = LocalDate.parse("2024-12-01")
  private val asOf2 = asOf1.plusDays(1)
  private var truth: SourceGen.Truth = _
  private var truth2: SourceGen.Day2Truth = _
  private var detail = Map.empty[String, Double]
  private var out: File = _
  private var verifyNs = 0L
  private var queryMs = Seq.empty[Double]
  private var traced = false
  // what runRaw produced, to hold the traced composition to it
  private var untraced = Map.empty[String, Map[String, Any]]
  private val kpiNames: Seq[String] =
    RcmAnalytics.all.keys.toSeq.sortBy(_.drop(1).takeWhile(_.isDigit).toInt)

  def setUp(): Unit = {
    Seq(src1, src2).foreach(d => delete(new File(d)))
    truth = SourceGen.writeDay1(src1, seed, scale)
    truth2 = SourceGen.writeDay2(src1, src2, seed, scale)
  }

  private def extract(src: String): RcmExtraction.RawData = RcmExtraction.run(spark,
    RcmExtraction.CsvSource(SourceGen.hospitalDir(src, "hospital_a"), "hospital_a"),
    RcmExtraction.CsvSource(SourceGen.hospitalDir(src, "hospital_b"), "hospital_b"),
    SourceGen.hospitals.map(h => SourceGen.claimsFile(src, h) -> h))

  /** runRaw's steps in runRaw's order, each in its own span. */
  private def composed(raw: RcmExtraction.RawData, asOf: LocalDate,
      existing: Option[DataFrame], t: Tracer): RcmPipeline.Result = {
    val (tables, claims) = t.span("etl.transform")(
      RcmTransform.run(raw, lit(java.sql.Date.valueOf(asOf))))
    val dims = t.span("etl.model_dims")(RcmModeling.createDimensions(tables))
    val scdDim = t.span("operators.scd2")(ScdType2(
      dims("dim_patients").select(("unified_patient_id" +: RcmPipeline.dimPatientAttrs).map(col): _*),
      existing, "unified_patient_id", RcmPipeline.dimPatientAttrs,
      RcmPipeline.scdTrackedAttrs, "patient_sk", asOf))
    val dimsWithScd = dims + ("dim_patients" -> scdDim)
    val facts = t.span("etl.model_facts")(RcmModeling.createFacts(tables, claims, dimsWithScd))
    val star = RcmModeling.StarSchema(dimsWithScd, facts)
    RcmPipeline.Result(star, t.span("etl.validate")(RcmModeling.validate(star)))
  }

  /** One day from CSVs to a star on disk; returns the facts to check. */
  private def day(src: String, dst: String, existing: Option[String], asOf: LocalDate,
      trace: Option[Tracer]): Map[String, Any] = {
    val prior = existing.map(p => spark.read.parquet(p))
    val raw = span(trace, "etl.extract")(extract(src))
    val result = trace match {
      case None    => RcmPipeline.runRaw(raw, asOf, prior)
      case Some(t) => composed(raw, asOf, prior, t)
    }
    val loads = span(trace, "etl.write") {
      val loads = RcmPipeline.write(result.star, dst)
      trace.foreach { t =>
        val (files, bytes) = parquetFiles(new File(dst))
        t.note("files_written", files.toDouble); t.note("bytes_written", bytes.toDouble)
      }
      loads
    }
    // the pipeline's own Q1, over the star it just built (the KPI read
    // mix's Q1 over the written star is `analytics.q1`)
    val q1 = span(trace, "analytics.q1_day")(RcmAnalytics.q1TotalRevenue(result.star).collect().head)
    loads.map(l => l.name -> (l.reloaded: Any)).toMap ++ Map(
      "orphans" -> result.validation.orphanedPatients,
      "non_positive" -> result.validation.nonPositiveAmounts,
      "billed" -> q1.getDouble(0), "collected" -> q1.getDouble(1), "rate" -> q1.getDouble(2))
  }

  /** Runs a check outside the batch's timed seconds. */
  private def verify(trace: Option[Tracer])(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try span(trace, "bench.verify")(body) finally verifyNs += System.nanoTime() - t0
  }

  private def checkDay(checks: Checks, tag: String, got: Map[String, Any], dimPatients: Long,
      dst: String): Unit = {
    val t = truth
    Seq("dim_patients" -> dimPatients, "dim_providers" -> t.providers,
      "dim_procedures" -> t.procedureCodes, "dim_date" -> t.dates,
      "dim_departments" -> t.departments, "fact_transactions" -> t.transactions,
      "fact_claims" -> t.claims, "orphans" -> t.orphanTransactions, "non_positive" -> 0L
    ).foreach { case (k, want) => checks.equal(s"$tag $k", got(k), want) }
    checks.near(s"$tag Q1 billed", got("billed").asInstanceOf[Double], t.claimAmountSum)
    checks.near(s"$tag Q1 collected", got("collected").asInstanceOf[Double], t.paidAmountSum)
    checks.near(s"$tag Q1 rate", got("rate").asInstanceOf[Double],
      t.paidAmountSum / t.claimAmountSum * 100)
    val nullClaims = spark.read.parquet(s"$dst/fact_claims.parquet")
      .filter(col("patient_sk").isNull).count()
    checks.equal(s"$tag claims without patient", nullClaims, t.nullPatientClaims)
    // a traced day composes runRaw from its parts: same counts, same Q1
    untraced.get(tag).foreach(u => got.foreach {
      case (k, v: Double) => checks.near(s"$tag $k composed vs runRaw", v, u(k).asInstanceOf[Double])
      case (k, v)         => checks.equal(s"$tag $k composed vs runRaw", v, u(k))
    })
    if (!traced) untraced += tag -> got
  }

  private def checkScd(checks: Checks, dst: String): Unit = {
    val dim = spark.read.parquet(s"$dst/dim_patients.parquet")
    val r = dim.agg(
      sum(when(col("is_current"), 1).otherwise(0)).cast("long"),
      sum(when(!col("is_current"), 1).otherwise(0)).cast("long"),
      sum(when(col("version") === 2, 1).otherwise(0)).cast("long"),
      max(col("version")).cast("long")).collect().head
    val notOneCurrent = dim.groupBy(col("unified_patient_id"))
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("c"))
      .filter(col("c") =!= 1).count()
    val ids = truth.patients + truth2.newIds
    checks.equal("day2 current rows", r.getLong(0), ids)
    checks.equal("day2 ids without exactly one current row", notOneCurrent, 0L)
    checks.equal("day2 expired rows", r.getLong(1), truth2.tracked)
    checks.equal("day2 version-2 rows", r.getLong(2), truth2.tracked)
    checks.equal("day2 max version", r.getLong(3), 2L)
  }

  /** The KPI read mix: the 11 queries over the star read back from
    * `dst`, each timed; returns the canonical results by query name. */
  private def serve(dst: String, trace: Option[Tracer]): Seq[(String, KpiCanon.Canon, Double)] = {
    val star = readStar(dst)
    kpiNames.map { n =>
      val t0 = System.nanoTime()
      val got = span(trace, "analytics." + n.takeWhile(_ != '_')) {
        val df = RcmAnalytics.all(n)(star)
        df.queryExecution.executedPlan
        trace.foreach(_.note("plan_ms", (System.nanoTime() - t0) / 1e6))
        KpiCanon(df)
      }
      (n, got, (System.nanoTime() - t0) / 1e6)
    }
  }

  private def readStar(dst: String): RcmModeling.StarSchema = {
    def read(n: String) = n -> spark.read.parquet(s"$dst/$n.parquet")
    RcmModeling.StarSchema(
      Seq("dim_patients", "dim_providers", "dim_procedures", "dim_date", "dim_departments")
        .map(read).toMap,
      Seq("fact_transactions", "fact_claims").map(read).toMap)
  }

  def batch(iter: Int, checks: Checks, trace: Option[Tracer]): Double = {
    out = new File(s"$work/out/$iter")
    traced = trace.nonEmpty
    verifyNs = 0L
    val t0 = System.nanoTime()
    span(trace, "rcm.load") {
      val d1 = day(src1, s"$out/day1", None, asOf1, trace)
      verify(trace)(checkDay(checks, "day1", d1, truth.patients, s"$out/day1"))
    }
    val (t1, v1) = (System.nanoTime(), verifyNs)
    span(trace, "rcm.merge") {
      val d2 = day(src2, s"$out/day2", Some(s"$out/day1/dim_patients.parquet"), asOf2, trace)
      verify(trace) {
        checkDay(checks, "day2", d2, truth.patients + truth2.newIds + truth2.tracked, s"$out/day2")
        checkScd(checks, s"$out/day2")
      }
    }
    val (t2, v2) = (System.nanoTime(), verifyNs)
    span(trace, "rcm.serve") {
      val results = serve(s"$out/day2", trace)
      queryMs = results.map(_._3)
      verify(trace) {
        // RcmAnalyticsSql.run is register + spark.sql(sqlFor); the twins
        // are checked, not timed, so they run four at a time
        val star = readStar(s"$out/day2")
        RcmAnalyticsSql.register(star)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        try {
          val twins = results.map { case (n, _, _) =>
            pool.submit(() => KpiCanon(spark.sql(RcmAnalyticsSql.sqlFor(star, n))))
          }
          results.zip(twins).foreach { case ((n, got, _), twin) =>
            checks.check(got == twin.get(), s"$n differs from its SQL twin")
            checks.check(got._2.nonEmpty, s"$n returned no rows")
          }
        } finally pool.shutdown()
      }
    }
    val (t3, v3) = (System.nanoTime(), verifyNs)
    detail = Map("load_s" -> (t1 - t0 - v1) / 1e9, "merge_s" -> (t2 - t1 - (v2 - v1)) / 1e9,
      "serve_s" -> (t3 - t2 - (v3 - v2)) / 1e9,
      "out_bytes_per_in_byte" -> parquetFiles(out)._2.toDouble / (truth.csvBytes + truth2.csvBytes))
    (t3 - t0 - v3) / 1e9
  }

  override def lastDetail: Map[String, Double] = detail
  /** The 11 KPI latencies of the last batch, in ms. */
  def lastQueryMs: Seq[Double] = queryMs
  override def afterBatch(): Unit = if (out != null) delete(out)
}

/** Canonical form of a result, as RcmAnalyticsSqlSpec compares twins:
  * the schema and the sorted rows with doubles at full precision. */
object KpiCanon {
  type Canon = (Seq[String], Seq[String])
  def apply(df: DataFrame): Canon = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.sql}").toSeq
    val rows = df.collect().map(_.toSeq.map {
      case null      => "\u0000"
      case d: Double => java.lang.Double.toString(d)
      case v         => v.toString
    }.mkString("\u0001")).sorted.toSeq
    (schema, rows)
  }
}

/** `curation_dag`: the streamed curation DAG with its disposition
  * ledger (`q224_curation_ledger`) over a generated `documents` table.
  * The first batch's result is written out, next to the query's DuckDB
  * oracle SQL, for `run.py` to check; every later batch must reproduce
  * its row count and content hash. */
final class CurationDag(spark: SparkSession, work: String, seed: Long, docs: Int) extends Workload {
  import Workload._

  val query = "q224_curation_ledger"
  private val dir = s"$work/docs"
  private val oracleDir = s"$work/oracle"
  private var reference: (Long, String) = _
  private var ledger = Map.empty[String, Int]

  def setUp(): Unit = {
    delete(new File(dir))
    DocsGen.write(spark, dir, docs, seed)
  }

  def batch(iter: Int, checks: Checks, trace: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    val df = span(trace, "queries.curation")(SparkEntry.queries(query)(spark, dir))
    val rows = df.collect()
    val s = (System.nanoTime() - t0) / 1e9
    span(trace, "bench.verify") {
      val got = fingerprint(rows.map(_.mkString("\u0001")).toSeq)
      if (reference == null) {
        val stage = df.schema.fieldIndex("stage")
        ledger = rows.groupBy(_.getString(stage)).map { case (k, v) => k -> v.length }
        // the first result goes to the DuckDB oracle; later ones must match it
        reference = got
        df.write.mode("overwrite").parquet(s"$oracleDir/result.parquet")
        java.nio.file.Files.write(new File(s"$oracleDir/oracle.sql").toPath,
          SparkEntry.oracleSql(query).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } else checks.equal(s"$query rows and content hash", got, reference)
    }
    s
  }

  /** The ledger's rows per disposition in the first result. */
  def ledgerLine: String = Seq("dedup", "quality", "lm", "mixture", "kept")
    .map(k => s"$k=${ledger.getOrElse(k, 0)}").mkString(s"ledger $query ", " ", "")

  private def fingerprint(lines: Seq[String]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}
