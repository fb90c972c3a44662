package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark process (see `run.py`). */
final case class Settings(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, cores: Int, out: String, queries: Seq[String],
    tableRows: Map[String, Long] = Map.empty)

/** Every attempted operation and every failure, by name and error text.
  * Nothing that was attempted leaves the denominator. */
final class Failures {
  private val names = mutable.ArrayBuffer.empty[(String, String, Long)]
  private var n = 0L
  def attempt(k: Long = 1L): Unit = synchronized(n += k)
  def fail(name: String, error: Throwable): Unit = fail(name, Failures.text(error))
  /** Record `count` failed operations under one name and error. */
  def fail(name: String, error: String, count: Long = 1L): Unit =
    synchronized(names += ((name, error, count)))
  def attempted: Long = synchronized(n)
  def failedCount: Long = synchronized(names.map(_._3).sum)
  def failed: Seq[(String, String, Long)] = synchronized(names.toList)
}

object Failures {
  def text(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" | ").take(500)
  }
}

/** Heap retained after a phase, in MB: the heap in use once the phase
  * has ended and three full collections have run, 200 ms apart, so
  * memory Spark's cleaner releases only once its weak references clear
  * (broadcasts, shuffle state) is gone before the reading. It shows what
  * a phase leaves alive (state, caches, leaks), not the working set
  * while it ran. */
object RetainedHeap {
  def mb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** A timed phase's outcome: its ops, its window, and what it measured. */
final case class Phase(ops: Seq[Op], start: Long, end: Long, units: Double,
    metrics: Map[String, Double], extra: Map[String, Double] = Map.empty) {
  def wallMs: Double = (end - start).toDouble
}

/** One workload: untimed set-up, then timed phases on a given session. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Run one timed phase. `label` keeps each phase's inputs and state
    * apart; `scale` shrinks the amount of work (the single-core phase). */
  def phase(spark: SparkSession, label: String, scale: Double): Phase
  /** Untimed correctness checks of everything the phases produced. */
  def check(spark: SparkSession): Unit
  /** Work done per unit of a phase's wall-clock, for
    * `spark.speedup_vs_1`: higher is faster. */
  def rate(p: Phase): Double
  /** Per-layer metrics only this workload can compute (sink state). */
  def layerExtras(p: Phase): Map[String, Double] =
    Map("sink.state_bytes" -> 0.0, "sink.state_files" -> 0.0)
}

object Main {
  def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the contract session of the repo's Bench, plus local dirs kept
      // inside the work dir and a generated-code cache that holds every
      // class the query battery generates (about 300): with the default
      // 100 entries each query run recompiled all of its code, a third
      // of its time, and runs spread about three times as wide
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "500000")
      .getOrCreate()
  }

  def log(msg: String): Unit = System.err.println(
    s"[perfbench] +${System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime} ms $msg")

  private def logPhase(label: String, p: Phase, checkMs: Long): Unit = {
    log(s"$label phase ${p.wallMs} ms over ${p.units} units; check $checkMs ms")
    p.ops.groupBy(o => (o.kind, o.name)).toSeq.sortBy(_._1).foreach { case ((k, n), xs) =>
      log(f"  $k%-6s $n%-28s n=${xs.size}%3d median ${Stats.median(xs.map(_.ms))}%8.1f ms " +
        s"(${xs.sortBy(_.start).map(_.ms.toLong).mkString(" ")})")
    }
  }

  def parse(argv: Array[String]): Settings = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def list(k: String) = m.get(k).filter(_ != "-").map(_.split(",").toSeq).getOrElse(Nil)
    Settings(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.getOrElse("data", ""), need("cores").toInt, need("out"), list("queries"),
      list("table-rows").map { kv => val Array(t, n) = kv.split("="); t -> n.toLong }.toMap)
  }

  def workload(s: Settings, fails: Failures): Workload = s.workload match {
    case "cdc_parquet_multi" => new CdcParquetMulti(s, fails)
    case "sql_battery" => new QueryBattery(s, fails)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val s = parse(argv)
    val fails = new Failures
    val w = workload(s, fails)
    var spark = session(s.cores, s.work)
    spark.sparkContext.setLogLevel("ERROR")
    w.setup(spark)
    log(s"set-up done after ${System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime} ms")
    val out = mutable.LinkedHashMap[String, Any]("workload" -> s.workload, "seed" -> s.seed,
      "cores" -> s.cores)
    if (!s.trace) {
      val timed = w.phase(spark, "timed", 1.0)
      val heapMb = RetainedHeap.mb()
      val checkStart = System.currentTimeMillis()
      w.check(spark)
      logPhase("timed", timed, System.currentTimeMillis() - checkStart)
      out("timed_ms") = timed.wallMs
      out("end_to_end") = timed.metrics + ("heap_retained_mb" -> heapMb)
    } else {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      val codegen0 = Codegen.count
      val (traced, codegenByBatch) = Codegen.perBatch(spark)(w.phase(spark, "traced", 1.0))
      val compiles = Codegen.count - codegen0
      org.apache.spark.sql.PerfbenchAccess.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
      logPhase("traced", traced, 0L)
      log(s"traced phase: ${rec.jobs.size} jobs, ${rec.execs.size} executions, ${rec.plans.size} " +
        s"planner records (${rec.plans.keySet.count(rec.execs.contains)} matched)")
      // the same work again untraced, for trace.overhead
      val after = w.phase(spark, "untraced", 1.0)
      logPhase("untraced", after, 0L)
      val ledger = new Ledger(rec, traced.ops, (traced.start, traced.end), s.cores)
      val layer = ledger.metrics(traced.units, compiles, traced.extra) ++ w.layerExtras(traced) ++
        Map("trace.overhead" -> (traced.wallMs / after.wallMs - 1.0))
      Json.writeLines(Paths.get(s.work, "ledger.jsonl"),
        ledger.rows(codegenByBatch ++ traced.ops.flatMap(o => o.parts.get("codegen").map(o.id -> _.toLong))))
      Json.writeLines(Paths.get(s.work, "spans.jsonl"), ledger.spans.map(sp => Map[String, Any](
        "id" -> sp.id, "parent" -> sp.parent, "kind" -> sp.kind, "name" -> sp.name, "op" -> sp.op,
        "start_ms" -> sp.start, "end_ms" -> sp.end, "self_ms" -> ledger.selfMs(sp.id))))
      w.check(spark)
      // the same work on one core, for spark.speedup_vs_1
      spark.stop()
      spark = session(1, s.work)
      spark.sparkContext.setLogLevel("ERROR")
      val single = w.phase(spark, "single", 0.5)
      logPhase("single", single, 0L)
      out("per_layer") = layer + ("spark.speedup_vs_1" -> w.rate(after) / w.rate(single))
      w.check(spark)
    }
    out("attempted") = fails.attempted
    out("failed") = fails.failedCount
    out("failures") = fails.failed.map { case (n, e, k) => Map("op" -> n, "error" -> e, "count" -> k) }
    spark.stop()
    Files.writeString(Paths.get(s.out), Json.render(out))
  }
}

/** Whole-JVM count of generated-code compilations. */
object Codegen {
  def count: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` while sampling the compile count after each micro-batch
    * it runs; a batch's compiles are the difference between its sample
    * and the previous one (the sample lands just after the batch, so a
    * compile is never billed to an earlier batch). */
  def perBatch[T](spark: SparkSession)(body: => T): (T, Map[String, Long]) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        samples.add((e.id.toString, -1L, count))
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        samples.add((e.progress.id.toString, e.progress.batchId, count))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    val r = try body finally {
      Thread.sleep(300)
      spark.streams.removeListener(l)
    }
    val per = samples.asScala.toSeq.groupBy(_._1).flatMap { case (id, xs) =>
      xs.sortBy(_._2).sliding(2).collect { case Seq(a, b) =>
        Attribution.batchOp(id, b._2) -> (b._3 - a._3)
      }
    }
    (r, per)
  }
}

/** JSON output for the result and ledger files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def writeLines(p: java.nio.file.Path, rows: Seq[Any]): Unit =
    Files.writeString(p, rows.map(render).mkString("", "\n", "\n"))
}
