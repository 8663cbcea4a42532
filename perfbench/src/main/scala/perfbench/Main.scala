package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftExtensions, SparkEntry, Util}
import graft.sources.{StoreLayout, StoreManifest, TsdbStore}

/** One line of the op plan that run.py writes. */
final case class Op(phase: String, round: Int, id: String, kind: String, args: Vector[String])

/** The benchmark client: one thread, closed loop. It executes the op
  * plan that run.py generated from the seed, through graft's public
  * entry points only, and writes raw measurements for run.py to turn
  * into metrics:
  *
  *   java perfbench.Main <plan.tsv> <outDir>
  *
  * Every op runs to full materialization through the `noop` sink. With
  * `trace=1` a SparkListener and a QueryExecutionListener are attached
  * and spans are written to `spans.jsonl` when the run ends; with
  * `trace=0` nothing is attached.
  */
object Main {
  private val FeedSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0))).asScala.map(_.split("\t", -1).toVector)
    val conf = lines.collect { case Vector("conf", k, v) => k -> v }.toMap
    val ops = lines.collect {
      case "op" +: phase +: round +: id +: kind +: rest => Op(phase, round.toInt, id, kind, rest)
    }.toVector
    val checks = lines.collect { case Vector("check", id) => id }.toSet
    new Main(conf, ops, checks, new File(args(1))).run()
  }
}

final class Main(conf: Map[String, String], ops: Vector[Op], checks: Set[String], out: File) {
  private val cores = conf("cores")
  private val data = conf("data")
  private val work = conf("work")
  private val traced = conf("trace") == "1"
  private val tracer = new Tracer
  private val spans = mutable.ArrayBuffer.empty[Span]
  // op id -> the analysis phase of the DataFrame its build returned
  private val analysis = mutable.Map.empty[String, (Long, Long)]
  private val records = mutable.ArrayBuffer.empty[String]
  private var spark: SparkSession = _
  private var store: String = conf.getOrElse("store", "")

  // epoch milliseconds with sub-millisecond steps: listener events carry
  // epoch milliseconds, so spans from both sides share one clock
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("graft-perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.wideMoments", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - nano0) / 1e9}%.1fs $what")

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  // ---- ops -----------------------------------------------------------

  private def series(arg: String): Seq[(Long, String)] =
    arg.split(",").toSeq.map { s => val Array(u, t) = s.split(":"); (u.toLong, t) }

  private lazy val queryDefs = SparkEntry.allDefs.map(q => q.name -> q).toMap

  /** The control query: graft.SparkEntry.entry's plan over the
    * benchmark's own sf0.001 lineitem (entry reads a fixed path outside
    * the checkout). */
  private def control(): Double = timed {
    spark.read.parquet(s"${conf("control")}/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("sum_base_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
      .write.format("noop").mode("overwrite").save()
  }._2

  private val WriteKinds = Set("ingest", "upsert", "compact", "delete", "vacuum")

  /** Build the op's DataFrame: the time until graft hands one back. */
  private def build(op: Op): DataFrame = {
    val a = op.args
    op.kind match {
      case "query" => queryDefs(a(0)).fn(spark, data)
      case "fetch" | "readback" =>
        TsdbStore.fetch(spark, store, a(0).toLong, a(1), a(2).toLong, a(3).toLong,
          a(4).toLong, a(5))
      case "fetchAuto" =>
        TsdbStore.fetchAuto(spark, store, a(0).toLong, a(1), a(2).toLong, a(3).toLong,
          a(4).toLong, a(5))._2
      case "fetchQuantile" =>
        TsdbStore.fetchQuantile(spark, store, a(0).toLong, a(1), a(2).toLong, a(3).toLong,
          a(4).toLong, a(5).toDouble)
      case "fetchBulk" =>
        TsdbStore.fetchBulk(spark, store, series(a(0)), a(1).toLong, a(2).toLong,
          a(3).toLong, a(4))
      case "rollup" =>
        // a day-slot aggregation over the store's live base table, the
        // shape graft.plans.RollupSubstitution may serve from a cascade
        liveBase(a(0), a(1), a(2))
          .groupBy(col("user_id"), col("event_type"), daySlot)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("cents").as("min_cents"), max("cents").as("max_cents"))
          .withColumn("avg_value", col("sum_cents").cast("double") / 100.0 / col("n").cast("double"))
          .orderBy("user_id", "event_type", "slot_ts")
      case "rollupQuantile" =>
        // a nearest-rank p95 per series and day over day-aligned bounds:
        // the rewrite serves it from the quantile cascade after an
        // optimize-time gate job that counts the cells' samples
        liveBase(a(0), a(1), a(2))
          .groupBy(col("user_id"), col("event_type"), daySlot)
          .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
            .cast("bigint").as("p95_cents"))
          .orderBy("user_id", "event_type", "slot_ts")
    }
  }

  private def daySlot = (expr("ts_us div 86400000000") * 86400L).as("slot_ts")

  /** The store's live base table, filtered to some event types and to
    * [lo, hi) in epoch seconds. */
  private def liveBase(types: String, lo: String, hi: String): DataFrame = {
    val live = TsdbStore.snapshotVersions(spark, store).max
    TsdbStore.readTableAt(spark, store, "base", live)
      .filter(col("event_type").isin(types.split(","): _*))
      .filter(col("ts_us") >= lo.toLong * 1000000L && col("ts_us") < hi.toLong * 1000000L)
  }

  private def feed(file: String): DataFrame = spark.read.schema(Main.FeedSchema).parquet(file)

  private def mutate(op: Op): Unit = {
    val a = op.args
    op.kind match {
      case "ingest" => TsdbStore.ingest(spark, feed(a(0)), store, StoreLayout(commit = "manifest"))
      case "upsert" => TsdbStore.upsertIncremental(spark, feed(a(0)), store)
      case "compact" => TsdbStore.compactPartition(spark, store, a(0))
      case "delete" => TsdbStore.deleteSeries(spark, store, a(0).toLong, a(1))
      case "vacuum" => TsdbStore.vacuum(spark, store)
    }
  }

  /** Every file of the store: path -> (bytes, modification time). */
  private def storeFiles(): Map[String, (Long, Long)] = {
    val root = new File(store)
    if (!root.exists()) Map.empty
    else Files.walk(root.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
  }

  private def maxVersion(): Long = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!new File(store).exists()) 0L
    else scala.util.Try(StoreManifest.versions(fs, store)).toOption
      .flatMap(_.maxOption).getOrElse(0L)
  }

  private def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s"${Util.jsonEscape(k)}:${Util.jsonEscape(v)}"
    case (k, v: Seq[_]) => s"${Util.jsonEscape(k)}:${v.mkString("[", ",", "]")}"
    case (k, v: Double) => s"${Util.jsonEscape(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    case (k, v) => s"${Util.jsonEscape(k)}:$v"
  }.mkString("{", ",", "}")

  /** A rollup op runs with graft's rollup rewrite switched on, as a
    * dashboard that wants it would; every other op with the default. */
  private def withRewrite[A](op: Op)(body: => A): A =
    if (!op.kind.startsWith("rollup")) body
    else {
      spark.conf.set("spark.graft.rollup.rewrite", "true")
      try body finally spark.conf.unset("spark.graft.rollup.rewrite")
    }

  /** Dump an op's result for run.py's correctness check. */
  private def dump(op: Op): Unit = {
    val path = new File(out, s"dumps/${op.id}").getPath
    try withRewrite(op)(Util.ntzNormalize(build(op)).coalesce(1).write.mode("overwrite").parquet(path))
    catch { case e: Throwable => System.err.println(s"[perfbench] dump ${op.id} failed: $e") }
  }

  /** Execute one op in the timed closed loop and record it. */
  private def execute(op: Op): Unit = {
    val sc = spark.sparkContext
    val mutation = WriteKinds(op.kind)
    if (traced) {
      sc.setLocalProperty(Tracer.OpKey, op.id)
      tracer.currentOp = op.id
    }
    val before = if (mutation) storeFiles() else Map.empty[String, (Long, Long)]
    val v0 = if (mutation) maxVersion() else 0L
    val parses0 = StoreManifest.tmParses
    val opStart = nowMs
    val t0 = System.nanoTime()
    var buildMs, writeMs = 0.0
    var buildEnd = opStart
    var err = ""
    try {
      if (traced) sc.setLocalProperty(Tracer.PhaseKey, "build")
      if (mutation) {
        buildMs = timed(mutate(op))._2
        buildEnd = nowMs
      } else {
        withRewrite(op) {
          val (df, b) = timed(build(op))
          buildMs = b
          buildEnd = nowMs
          // the DataFrame was analysed as it was built, so the write's
          // own tracker shows no analysis; take it from the DataFrame
          if (traced) df.queryExecution.tracker.phases.get("analysis")
            .foreach(p => analysis(op.id) = (p.startTimeMs, p.endTimeMs))
          if (traced) sc.setLocalProperty(Tracer.PhaseKey, "write")
          writeMs = timed(df.write.format("noop").mode("overwrite").save())._2
        }
      }
    } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val opEnd = nowMs
    val parses = StoreManifest.tmParses - parses0
    if (traced) {
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      PerfbenchBus.drain(sc)
      tracer.currentOp = ""
      val layer = if (op.kind == "query") "queries.build"
        else if (mutation) s"sources.write.${op.kind}" else "sources.read"
      spans += Span("op", opStart, opEnd, "", op.id)
      spans += Span(layer, opStart, buildEnd, "op", op.id)
      if (!mutation) spans += Span("op.write", buildEnd, opEnd, "op", op.id)
    }
    var extra = Seq.empty[(String, Any)]
    if (mutation) {
      val after = storeFiles()
      val written = after.filter { case (p, n) => before.get(p).forall(_ != n) }
      extra = Seq("bytes_written" -> written.values.map(_._1).sum, "files_written" -> written.size,
        "snapshots" -> (maxVersion() - v0), "store_bytes" -> after.values.map(_._1).sum,
        "store_files" -> after.size)
    }
    records += json(Seq[(String, Any)]("id" -> op.id, "kind" -> op.kind, "phase" -> op.phase,
      "round" -> op.round, "wall_ms" -> wallMs, "build_ms" -> buildMs, "write_ms" -> writeMs,
      "manifest_parses" -> parses, "err" -> err) ++ extra: _*)
    if (err.nonEmpty) System.err.println(s"[perfbench] ${op.id} ${op.kind} failed: $err")
    // a read-back sees the store as this mutation left it: dump it now
    if (op.kind == "readback" && checks(op.id)) dump(op)
  }

  // ---- the run -------------------------------------------------------

  def run(): Unit = {
    out.mkdirs()
    val reps = conf("setup_reps").toInt
    // set-up: the session is built `reps` times and the last one kept,
    // the fixture store is built once, and the control query warms up
    val sessionMs = (1 to reps).map { _ =>
      if (spark != null) spark.stop()
      timed { spark = session() }._2
    }
    val fixturesMs = timed {
      conf.get("store_from").foreach { events =>
        store = s"$work/store"
        TsdbStore.ingest(spark, spark.read.parquet(events), store, StoreLayout(commit = "manifest"))
      }
    }._2
    val warmupMs = control()
    mark("set-up done")
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    // the untimed warm-up round is the correctness gate: every op of it
    // dumps its result, and the JIT settles meanwhile (without it a run's
    // speed depends on how far compilation has got). Its series and
    // bounds differ from the timed rounds', so the timed ops meet graft's
    // range-keyed caches cold. Read-backs are dumped in the loop, as the
    // store stood.
    ops.filter(_.phase == "warm").foreach(dump)
    mark("warm-up round done")
    val controlStart = (1 to 2).map(_ => control())

    // closed loop over every timed op: pre ops, the rounds, post ops
    val loopStart = System.nanoTime()
    Seq("pre", "loop", "post").foreach(ph => ops.filter(_.phase == ph).foreach(execute))
    val loopS = (System.nanoTime() - loopStart) / 1e9
    mark("timed loop done")

    val controlEnd = (1 to 2).map(_ => control())
    if (traced) {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
    val oracle = ops.filter(o => checks(o.id) && o.kind == "query").flatMap { o =>
      queryDefs(o.args(0)).oracle.map(sql => s"${Util.jsonEscape(o.id)}:${Util.jsonEscape(sql)}")
    }
    write("oracle.json", Seq(oracle.mkString("{", ",", "}")))
    write("ops.jsonl", records.toSeq)
    write("setup.json", Seq(json(
      "session_ms" -> sessionMs, "fixtures_ms" -> fixturesMs, "warmup_ms" -> warmupMs, "control_ms" -> (controlStart ++ controlEnd),
      "loop_s" -> loopS)))
    if (traced) writeTrace()
    spark.stop()
  }

  private def write(name: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(out, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  /** Spans and per-op layer counters of the traced run. */
  private def writeTrace(): Unit = {
    val opSpans = spans.groupBy(_.op)
    val counters = mutable.ArrayBuffer.empty[String]
    val writesByOp = tracer.writes.groupBy(_.op)
    for ((op, ss) <- opSpans) {
      val layer = ss.find(s => s.parent == "op").get
      val write = ss.find(_.name == "op.write")
      val planEnd = writesByOp.get(op).flatMap(_.lastOption)
        .flatMap(_.phases.get("planning")).map(_._2.toDouble)
      analysis.get(op).foreach { case (s, e) =>
        spans += Span("plans.analysis", s.toDouble, e.toDouble, layer.name, op) }
      writesByOp.get(op).flatMap(_.lastOption).foreach { w =>
        Seq("optimization", "planning").foreach { ph =>
          w.phases.get(ph).foreach { case (s, e) =>
            spans += Span(s"plans.$ph", s.toDouble, e.toDouble, "op.write", op) }
        }
      }
      val jobs = tracer.jobs.values.filter(_.op == op).toSeq
      // a job of the write that ended before planning did ran inside
      // the optimizer (a RollupSubstitution gate job); the rest executed
      val gate = (j: JobRec) => j.phase == "write" && planEnd.exists(j.endMs <= _)
      jobs.foreach { j =>
        val (name, parent) =
          if (j.phase == "build") (if (layer.name == "queries.build") "queries.job" else s"${layer.name}.job", layer.name)
          else if (gate(j)) ("plans.gate_job", "op.write")
          else ("exec.job", "op.write")
        spans += Span(name, j.submitMs.toDouble, j.endMs.toDouble, parent, op)
      }
      val w = writesByOp.get(op).flatMap(_.lastOption)
      def sum(f: JobRec => Long) = jobs.map(f).sum
      counters += json(
        "op" -> op,
        "build_jobs" -> jobs.count(_.phase == "build"),
        "plan_jobs" -> jobs.count(gate),
        "exec_jobs" -> jobs.count(j => j.phase == "write" && !gate(j)),
        "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
        "task_run_ms" -> sum(_.runMs), "task_cpu_ns" -> sum(_.cpuNs), "gc_ms" -> sum(_.gcMs),
        "shuffle_write_bytes" -> sum(_.shuffleWrite), "shuffle_read_bytes" -> sum(_.shuffleRead),
        "input_bytes" -> sum(_.input), "spill_bytes" -> sum(_.spill),
        "peak_task_mem_bytes" -> (0L +: jobs.map(_.peakMem)).max,
        "exchanges" -> w.map(_.exchanges).getOrElse(0),
        "scans_cascade" -> w.exists(_.scansCascade),
        "has_write" -> write.isDefined)
    }
    write("counters.jsonl", counters.toSeq)
    write("spans.jsonl", spans.toSeq.map(s => json("name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op)))
  }
}
