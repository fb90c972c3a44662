package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.streaming.Streams

/** Untimed check: a live state equals its expected replay, row for row
  * (column names compared case-insensitively, values as text). Both
  * sides are small (one relation's state), so they are compared on the
  * driver as multisets of rendered rows: two collects instead of two
  * shuffled `exceptAll` counts. */
object StateCheck {
  private def canon(df: DataFrame): DataFrame = {
    val lower = df.columns.map(c => c -> c.toLowerCase(java.util.Locale.ROOT))
    df.select(lower.sortBy(_._2).map { case (c, l) => col(s"`$c`").cast(StringType).as(l) }: _*)
  }

  private def rows(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) "\u0000" else v).mkString("\u0001"))
      .groupBy(identity).map { case (r, xs) => r -> xs.size }

  def run(fails: Failures, name: String)(live: => DataFrame, expected: => DataFrame): Unit = {
    fails.attempt()
    try {
      val (l, e) = (canon(live), canon(expected))
      if (l.columns.toSeq != e.columns.toSeq)
        fails.fail(name, s"columns ${l.columns.mkString(",")} != replay ${e.columns.mkString(",")}")
      else {
        val (lr, er) = (rows(l), rows(e))
        val missing = er.map { case (r, n) => math.max(0, n - lr.getOrElse(r, 0)) }.sum
        val extra = lr.map { case (r, n) => math.max(0, n - er.getOrElse(r, 0)) }.sum
        if (missing + extra > 0)
          fails.fail(name, s"state differs from the batch replay: $missing rows missing, $extra extra")
      }
    } catch { case scala.util.control.NonFatal(t) => fails.fail(name, t) }
  }
}

/** `cdc_parquet_multi`: the reference's loop at multi-table scale — a
  * closed-loop drain of pre-written change chunks through
  * `materializeCdcTables` (parquet sink, ordered transport, two
  * relations over seeded states, concurrent relation applies).
  *
  * Each relation holds 50000 rows and a micro-batch brings 2000 row
  * events (1000 per relation, 2% of its state). At that size the
  * merge-and-rewrite executions take about 70% of a batch and about a
  * third of a batch grows with the state and the batch, so sink and
  * state changes show. With a small state a batch is almost all fixed
  * per-job cost.
  *
  * An untimed warm-up drain sizes the timed drain to about `--seconds`
  * and warms the handler's code paths; every drain leaves its first
  * `skip` batches out of its timings. Every drain's per-batch timings
  * come from the query's own progress, and every drain's final state is
  * checked against the batch replay of its seed rows and events. */
final class CdcParquetMulti(s: Settings, fails: Failures) extends Workload {
  private val stateRows = 50000L
  private val relations = (0 until 2).map(i => Envelope.Relation(f"t$i%02d",
    StructType(Seq(StructField("id", LongType), StructField("val", StringType),
      StructField("n", IntegerType)))))
  private val union = Envelope.unionSchema(relations)
  private val gen = new CdcGen(s.seed, relations.map(_.name), stateRows,
    rowsPerChunk = 2000, rowsPerTxn = 8, insertShare = 0.1, deleteShare = 0.1,
    image = (k, c) => s"""{"id": $k, "val": "c${c}v$k", "n": ${(k * 7 + c) % 1000}}""")
  private val warmChunks = 6
  // the first batches of every drain are slower than the rest, however
  // warm the JVM is (about 1.65 s against 1.3 s per batch, measured on
  // a 4-core VM after a 22-batch warm-up), so each drain leaves its
  // first `skip` batches out of its timings
  private val skip = 3
  private val minChunks = skip + 3
  private var timedChunks = minChunks
  private val drained = mutable.ArrayBuffer.empty[String]

  def setup(spark: SparkSession): Unit = {
    Main.log("session ready")
    val warm = drain(spark, "warm", warmChunks)
    Main.log(s"warm-up drain: ${warm.ops.map(_.ms.toLong).mkString(", ")} ms per batch")
    // the warm-up is still speeding up, so its fastest batch is nearest
    // the pace of the timed drain
    val ms = warm.ops.filter(_.parts("timed") > 0).map(_.ms)
    val perBatch = if (ms.isEmpty) 1000.0 else ms.min
    timedChunks = math.max(minChunks, math.min(2000, math.ceil(s.seconds * 1000.0 / perBatch).toInt + skip))
    check(spark)
  }

  def phase(spark: SparkSession, label: String, scale: Double): Phase =
    drain(spark, label, math.max(minChunks, (timedChunks * scale).toInt))

  def check(spark: SparkSession): Unit = {
    drained.foreach { label =>
      val events = spark.read.schema(union).json(Paths.get(s.work, label, "in").toString)
      relations.foreach { rel =>
        val seed = seeded(spark).select(lit("00000000/00000001").as("lsn"), lit("insert").as("tag"),
          col("id"), col("val"), col("n"))
        StateCheck.run(fails, s"check:$label:${rel.name}")(
          Streams.cdcLiveState(spark, s"${stateRoot(label)}/${rel.name}"),
          Envelope.lastImageByKey(Envelope.projectRelation(
            events.filter(col("table") === rel.name), rel).unionByName(seed)))
      }
    }
    drained.clear()
  }

  def rate(p: Phase): Double = p.metrics("rows_per_s")

  override def layerExtras(p: Phase): Map[String, Double] = {
    val files = Files.walk(Paths.get(stateRoot("traced"))).iterator().asScala.filter(f =>
      Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    Map("sink.state_bytes" -> files.map(Files.size).sum.toDouble,
      "sink.state_files" -> files.size.toDouble)
  }

  private def stateRoot(label: String) = Paths.get(s.work, label, "state").toString

  private def seeded(spark: SparkSession): DataFrame =
    spark.range(stateRows).select(col("id"), concat(lit("s"), col("id")).as("val"),
      (col("id") % 1000).cast(IntegerType).as("n"))

  private def drain(spark: SparkSession, label: String, n: Int): Phase = {
    val dir = Paths.get(s.work, label)
    val chunks = gen.chunks(n)
    val chunkBytes = CdcGen.write(dir.resolve("in"), chunks)
    relations.foreach(r =>
      seeded(spark).write.mode(SaveMode.Overwrite).parquet(s"${stateRoot(label)}/${r.name}"))
    drained += label
    fails.attempt(n.toLong)
    val t0 = System.currentTimeMillis()
    val q = Streams.materializeCdcTables(
      Streams.envelopeStream(spark, dir.resolve("in").toString, schema = union),
      dir.resolve("ckpt").toString, stateRoot(label), relations,
      maxConcurrentRelations = relations.size)
    val err = try { q.awaitTermination(); "" }
    catch { case scala.util.control.NonFatal(e) => Failures.text(e) }
    val progress = q.recentProgress.filter(_.durationMs.containsKey("addBatch")).sortBy(_.batchId)
    val batches = progress.zipWithIndex.map { case (p, i) => batchOp(p, timed = i >= skip) }.toSeq
    val missing = n - batches.size
    if (missing > 0 || err.nonEmpty)
      fails.fail(s"drain:$label", s"$missing of $n batches never committed; $err",
        math.max(1, missing).toLong)
    val timed = batches.filter(_.parts("timed") > 0)
    val from = timed.headOption.map(_.start).getOrElse(t0)
    val to = timed.lastOption.map(_.end).getOrElse(System.currentTimeMillis())
    val rows = timed.map(_.parts("numInputRows")).sum
    val ms = timed.map(_.ms)
    val metrics =
      if (ms.isEmpty) Map.empty[String, Double]
      else Map(
        "rows_per_s" -> rows * 1000.0 / math.max(1L, to - from),
        "op_ms_p50" -> Stats.percentile(ms, 50)._1,
        "op_ms_geomean" -> Stats.geomean(ms.map(math.max(_, 1.0))))
    Phase(batches, from, to, math.max(1, timed.size).toDouble, metrics, Map(
      "sink.input_bytes" -> chunkBytes.drop(skip).sum.toDouble,
      "sink.events" -> chunks.drop(skip).map(_.rowEvents).sum.toDouble))
  }

  private def batchOp(p: StreamingQueryProgress, timed: Boolean): Op = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Op(Attribution.batchOp(p.id.toString, p.batchId), "batch", s"batch-${p.batchId}",
      start, start + d.getOrElse("triggerExecution", 0.0).toLong, ok = true,
      parts = d ++ Map("numInputRows" -> p.numInputRows.toDouble, "timed" -> (if (timed) 1.0 else 0.0)))
  }
}

/** `sql_battery`: a fixed list of contract queries, each
  * built by its `SparkEntry.queries` function and forced through the
  * noop sink, in a seed-permuted order drawn afresh for every pass. The
  * untimed set-up pass writes each result for the DuckDB oracle check.
  *
  * The first full-scale phase (the timed one, or the traced one) is
  * time-boxed: it runs query after query, pass after pass, and starts no
  * run that would end past `--seconds` at that query's previous pace,
  * after one whole pass at least. Later full-scale phases repeat exactly
  * as many runs in the same order, so they do the same work. A pass
  * holds one run of each query, so the metrics take each query's median
  * over its runs and then combine the queries: `op_ms_p50` is a pass
  * built from per-query medians (the sum of them), not the median of
  * whole passes, which would rest on three or four samples. */
final class QueryBattery(s: Settings, fails: Failures,
    fns: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries) extends Workload {
  private val oracle = graft.SparkEntry.oracleSql
  require(s.queries.nonEmpty, "no queries given")
  s.queries.foreach(q => require(fns.contains(q), s"unknown query '$q'"))
  private var runs = 0
  private[perfbench] var inputRows = Map.empty[String, Long]

  def setup(spark: SparkSession): Unit = {
    Main.log("session ready")
    // logical input of a query: every table its oracle SQL names, at its
    // full row count (as generated) — a fixed numerator the program
    // cannot move
    inputRows = s.queries.map { q =>
      q -> s.tableRows.collect {
        case (t, n) if oracle.get(q).exists(sql => s"\\b$t\\b".r.findFirstIn(sql).isDefined) => n
      }.sum
    }.toMap
    val out = Paths.get(s.work, "results")
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.render(s.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))
    s.queries.foreach { q =>
      try fns(q)(spark, s.data).coalesce(1).write.mode(SaveMode.Overwrite).parquet(out.resolve(q).toString)
      catch { case scala.util.control.NonFatal(e) => fails.fail(s"result:$q", e) }
      finally spark.catalog.clearCache()
    }
    fails.attempt(s.queries.size.toLong)
    Main.log("result pass done")
    // two untimed passes through the noop sink: the result pass runs
    // other plans (coalesce and a parquet write), and a query's first
    // noop runs are slower than later ones while the JIT catches up
    (0 until 2).foreach(i => phase(spark, s"warm$i", 0.5))
  }

  def check(spark: SparkSession): Unit = ()

  /** `scale` below 1 runs one whole pass and is never time-boxed. */
  def phase(spark: SparkSession, label: String, scale: Double): Phase = {
    val n = s.queries.size
    val boxed = scale >= 1.0 && runs == 0
    val want = if (scale < 1.0) n else if (boxed) Int.MaxValue else runs
    val ops = mutable.ArrayBuffer.empty[Op]
    val last = mutable.Map.empty[String, Double]
    val t0 = System.currentTimeMillis()
    var order = s.queries
    def fits(q: String) =
      ops.size < n || System.currentTimeMillis() - t0 + last(q) <= s.seconds * 1000L
    var go = true
    while (go && ops.size < want) {
      val pass = ops.size / n
      if (ops.size % n == 0) order = new scala.util.Random(s.seed * 1000003L + pass).shuffle(s.queries)
      val q = order(ops.size % n)
      if (boxed && !fits(q)) go = false
      else {
        val o = runQuery(spark, q, s"query:$label:$pass:$q")
        ops += o
        last(q) = o.ms
      }
    }
    if (boxed) runs = ops.size
    val t1 = System.currentTimeMillis()
    val perQuery = ops.groupBy(_.name).map { case (q, xs) => q -> Stats.median(xs.map(_.ms).toSeq) }
    val passMs = perQuery.values.sum
    Phase(ops.toSeq, t0, t1, ops.size.toDouble / n, Map(
      "rows_per_s" -> perQuery.keys.map(inputRows).sum * 1000.0 / passMs,
      "op_ms_p50" -> passMs,
      "op_ms_geomean" -> Stats.geomean(perQuery.values.map(math.max(_, 1.0)).toSeq)),
      Map.empty)
  }

  /** Passes per second, each pass built from per-query medians. */
  def rate(p: Phase): Double = 1000.0 / p.metrics("op_ms_p50")

  /** One query run: build (the query function, including any eager
    * fits it runs) then execute through the noop sink. A failure is
    * recorded by name and its time up to the failure stays in the
    * totals. Cache teardown runs after the clock stops. */
  private def runQuery(spark: SparkSession, q: String, id: String): Op = {
    val sc = spark.sparkContext
    fails.attempt()
    sc.setLocalProperty(Attribution.OpKey, id)
    sc.setLocalProperty(Attribution.PhaseKey, "build")
    val c0 = Codegen.count
    val t0 = System.currentTimeMillis()
    var t1 = t0
    val err = try {
      val df = fns(q)(spark, s.data)
      t1 = System.currentTimeMillis()
      sc.setLocalProperty(Attribution.PhaseKey, "exec")
      df.write.format("noop").mode(SaveMode.Overwrite).save()
      ""
    } catch { case scala.util.control.NonFatal(e) => fails.fail(id, e); Failures.text(e) }
    val t2 = System.currentTimeMillis()
    sc.setLocalProperty(Attribution.OpKey, null)
    sc.setLocalProperty(Attribution.PhaseKey, null)
    spark.catalog.clearCache()
    if (t1 == t0 && err.nonEmpty) t1 = t2
    Op(id, "query", q, t0, t2, err.isEmpty, err, Map(
      "build_ms" -> (t1 - t0).toDouble, "exec_ms" -> (t2 - t1).toDouble,
      "codegen" -> (Codegen.count - c0).toDouble))
  }
}
