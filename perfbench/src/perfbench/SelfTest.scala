package perfbench

import java.util.Properties

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: the percentile rule, the geomean, span
  * self time, job attribution, and failure accounting. Run with
  * `python3 perfbench/test.py`; exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val hundred = (1 to 100).map(_.toDouble)
    check("percentile: 100 samples read a true p90 with 10 beyond it") {
      Stats.percentile(hundred, 90) == ((90.0, 90.0))
    }
    check("percentile: 30 samples cap p90 at the 20th value (10 beyond)") {
      val (v, p) = Stats.percentile((1 to 30).map(_.toDouble), 90)
      v == 20.0 && near(p, 100.0 * 20 / 30)
    }
    check("percentile: under 20 samples falls back to the median") {
      Stats.percentile((1 to 15).map(_.toDouble), 90)._1 == 8.0
    }
    check("percentile: order of the input does not matter") {
      Stats.percentile(scala.util.Random.shuffle(hundred), 90)._1 == 90.0
    }
    check("median: even count averages the middle pair") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("geomean: of 1, 4, 16 is 4") {
      near(Stats.geomean(Seq(1.0, 4.0, 16.0)), 4.0)
    }
    check("geomean: doubling the cheapest of ten queries moves it, the sum barely") {
      val base = Seq(0.1) ++ Seq.fill(9)(5.0)
      val slow = Seq(0.2) ++ Seq.fill(9)(5.0)
      Stats.geomean(slow) / Stats.geomean(base) > 1.07 && slow.sum / base.sum < 1.003
    }
    check("self time: overlapping children count once, overhang is clipped") {
      Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L), (80L, 120L))) == 40L
    }
    check("self time: a span without children keeps its whole duration") {
      Stats.selfTime((5L, 25L), Nil) == 20L
    }
    check("union: disjoint and nested intervals") {
      Stats.unionLength(Seq((0L, 10L), (2L, 3L), (20L, 25L))) == 15L
    }

    val rec = new Recorder
    def props(kv: (String, String)*) = { val p = new Properties; kv.foreach { case (k, v) => p.setProperty(k, v) }; p }
    def job(id: Int, p: Properties) = rec.onJobStart(SparkListenerJobStart(id, 0L, Nil, p))
    job(1, props(Attribution.ExecKey -> "7", Attribution.OpKey -> "query:timed:0:q1"))
    job(2, props(Attribution.ExecKey -> "7"))
    job(3, props(Attribution.ExecKey -> "8", Attribution.BatchKey -> "5", Attribution.StreamKey -> "s1"))
    job(4, props(Attribution.ExecKey -> "8"))
    job(5, props(Attribution.OpKey -> "query:timed:1:q2"))
    job(6, props())
    check("attribution: a job without an op joins its execution's op") {
      rec.jobOp(rec.jobs(2)).contains("query:timed:0:q1")
    }
    check("attribution: a micro-batch id names the batch op") {
      rec.jobOp(rec.jobs(3)).contains(Attribution.batchOp("s1", 5L)) &&
        rec.jobOp(rec.jobs(4)).contains(Attribution.batchOp("s1", 5L))
    }
    check("attribution: outside any execution the job's own op is used") {
      rec.jobOp(rec.jobs(5)).contains("query:timed:1:q2") && rec.jobOp(rec.jobs(6)).isEmpty
    }
    check("attribution: modules come from the first program frame of the call site") {
      val site = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.ops.Merge$.upsertSmallChanges(Merge.scala:200)\n" +
        "graft.streaming.Streams$.applyBatchParquet(Streams.scala:900)"
      Attribution.moduleOf(site) == "ops" &&
        Attribution.moduleOf("graft.SparkEntry$.queries(SparkEntry.scala:1)") == "root" &&
        Attribution.moduleOf("org.apache.spark.sql.DataFrameWriter.save(x)\nperfbench.QueryBattery.run(y)") == "bench" &&
        Attribution.moduleOf("java.util.concurrent.CompletableFuture.run(CompletableFuture.java:1768)") == "spark"
    }
    check("attribution: an execution is named by its plan's top operator") {
      Attribution.planRoot("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (4)\n" +
        "+- WriteFiles (3)") == "Execute InsertIntoHadoopFsRelationCommand" &&
        Attribution.planRoot("== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- HashAggregate (8)") ==
          "HashAggregate" &&
        Attribution.planRoot(null) == ""
    }

    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val fails = new Failures
      val s = Settings("sql_battery", 1L, 1, trace = false, "", "", 1, "", Seq("ok_q", "bad_q"))
      val fns = Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame](
        "ok_q" -> ((sp, _) => sp.range(10).toDF()),
        "bad_q" -> ((_, _) => { Thread.sleep(30); throw new IllegalStateException("boom") }))
      val battery = new QueryBattery(s, fails, fns)
      battery.inputRows = Map("ok_q" -> 10L, "bad_q" -> 5L)
      val p = battery.phase(spark, "single", 0.5)
      val bad = p.ops.filter(_.name == "bad_q")
      check("failures: a throwing query is counted as attempted and failed, by name") {
        fails.attempted == 2 && fails.failedCount == 1 &&
          fails.failed.map(_._1) == Seq("query:single:0:bad_q") && fails.failed.head._2.contains("boom")
      }
      check("failures: the failed query keeps its time in the totals") {
        bad.size == 1 && !bad.head.ok && bad.head.ms >= 30 &&
          p.metrics("rows_per_s") < 15.0 * 1000.0 / bad.head.ms
      }
      import spark.implicits._
      val state = Seq((1L, "a", 1), (2L, "b", 2), (2L, "b", 2)).toDF("id", "val", "n")
      val checks = new Failures
      StateCheck.run(checks, "same")(state, state.select($"N", $"ID", $"val"))
      StateCheck.run(checks, "duplicate lost")(state, state.distinct())
      StateCheck.run(checks, "null against text")(
        Seq((1L, Option.empty[String])).toDF("id", "val"), Seq((1L, Option("null"))).toDF("id", "val"))
      check("state check: multiset equality, columns by name, null unlike the text null") {
        checks.attempted == 3 && checks.failed.map(_._1) == Seq("duplicate lost", "null against text") &&
          checks.failed.head._2.contains("0 rows missing, 1 extra")
      }
    } finally spark.stop()
    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all checks passed")
  }
}
