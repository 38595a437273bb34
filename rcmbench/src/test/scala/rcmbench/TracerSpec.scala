package rcmbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def job(partitions: Int): Long =
    spark.sparkContext.parallelize(1 to 100, partitions).map(_ * 2).count()

  test("each job goes to the span open when it started; none outside is attributed") {
    val t = new Tracer(spark)
    t.span("a")(job(2))
    job(1) // outside every span
    t.span("b") { job(3); job(3) }
    t.close()
    val by = t.report().map(s => s.name -> s.values).toMap
    assert(by("a")("jobs") == 1 && by("a")("tasks") == 2)
    assert(by("b")("jobs") == 2 && by("b")("tasks") == 6 && by("b")("stages") == 2)
    assert(by("unattributed")("jobs") == 1 && by("unattributed")("tasks") == 1)
    assert(by("a")("failed_tasks") == 0)
  }

  test("a job inside a child span belongs to the child, and self time excludes it") {
    val t = new Tracer(spark)
    t.span("parent") {
      job(2)
      t.span("child") { job(4); Thread.sleep(50) }
    }
    t.close()
    val by = t.report().map(s => s.name -> s.values).toMap
    assert(by("parent")("jobs") == 1 && by("parent")("tasks") == 2)
    assert(by("child")("jobs") == 1 && by("child")("tasks") == 4)
    assert(by("child")("wall_ms") >= 50)
    assert(math.abs(by("parent")("self_ms") - (by("parent")("wall_ms") - by("child")("wall_ms"))) < 1e-6)
    assert(by("child")("idle_ms") >= 40) // the sleep is not covered by a job
  }

  test("notes add to the innermost open span") {
    val t = new Tracer(spark)
    t.span("x") { t.note("plan_ms", 2.0); t.note("plan_ms", 3.0) }
    t.close()
    assert(t.report().find(_.name == "x").get.values("plan_ms") == 5.0)
  }

  test("union of intervals") {
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Tracer.unionMs(Nil) == 0L)
  }

  test("perCall averages counters over calls") {
    val spans = Seq(Tracer.SpanCounters("w", 0L, Map("jobs" -> 2.0)),
      Tracer.SpanCounters("w", 5L, Map("jobs" -> 4.0)))
    assert(Tracer.perCall(spans)("w") == ((2, Map("jobs" -> 3.0))))
  }
}
