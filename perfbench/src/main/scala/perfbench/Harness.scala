package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Graft

/** The measurement protocol shared by every workload.
  *
  *  1. Write the seeded inputs (untimed).
  *  2. The program's set-up, [[SetupReps]] times: parse the specs, compile
  *     them and plan the workload's query. `setup_s` is the median.
  *  3. Expected outputs, computed without the validator (untimed).
  *  4. Warm-up operations (untimed), so JIT and codegen caches are warm.
  *  5. Operations until `--seconds` have elapsed and at least the
  *     workload's minimum count has run. Every operation's outputs are
  *     checked.
  *
  * With tracing, step 5 alternates untraced and traced operations; the
  * per-layer metrics are medians over the traced ones, and
  * `trace.overhead_pct` compares the two medians.
  */
object Harness {

  val SetupReps = 5

  /** Workload sizes: fixed, whatever the core count. */
  val TableConvs = 45000L           // ~300k turns
  val IngestBatches = 24
  val IngestConvsPerBatch = 540L    // ~2,400 turns per increment

  def workload(spark: SparkSession, a: Main.Args): Workload = a.workload match {
    case "table_pass" => new TablePass(spark, a.seed, a.cores, a.scratch, TableConvs)
    case "ingest_increments" =>
      new IngestIncrements(spark, a.seed, a.cores, a.scratch, IngestBatches, IngestConvsPerBatch)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def secs(ns: Long): Double = ns / 1e9

  /** Progress on stderr; stdout carries only the result line. */
  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(spark: SparkSession, a: Main.Args): Result = {
    val w = workload(spark, a)
    val input = a.scratch.resolve("input")
    val tg = System.nanoTime()
    w.generate(input)
    note(f"inputs written: ${secs(System.nanoTime() - tg)}%.3f s")
    val setupNs = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.prepare(input)
      System.nanoTime() - t0
    }
    note("set-up s: " + setupNs.map(t => f"${secs(t)}%.3f").mkString(" "))
    val te = System.nanoTime()
    w.expect(input)
    note(f"expected outputs: ${secs(System.nanoTime() - te)}%.3f s")

    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    def record(o: OpOut): OpOut = {
      attempted += 1
      if (o.errors.nonEmpty) { failed += 1; errors ++= o.errors }
      o
    }

    val tw = System.nanoTime()
    w.warmup(input)
    note(f"warm-up: ${secs(System.nanoTime() - tw)}%.3f s")
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val untraced = mutable.ArrayBuffer[OpOut]()
    val traced = mutable.ArrayBuffer[(OpOut, Map[String, Double])]()
    val cpu0 = Stats.cpuTicks()
    val t0 = System.nanoTime()
    var i = 1
    def more = secs(System.nanoTime() - t0) < a.seconds || untraced.size + traced.size < w.minOps
    while (more && errors.isEmpty) {
      tracer match {
        case Some(tr) if i % 2 == 0 =>
          val (o, m) = traceOp(w, i, input, tr, a.cores)
          traced += record(o) -> m
        case _ => untraced += record(w.op(i, input, new Probe(None)))
      }
      i += 1
    }
    val cpu1 = Stats.cpuTicks()
    note(f"${untraced.size + traced.size} ops in ${secs(System.nanoTime() - t0)}%.1f s; untraced op ms: " +
      untraced.map(o => f"${o.wallNs / 1e6}%.0f").mkString(" ") +
      f"; machine: ${100.0 * (cpu1._2 - cpu0._2) / math.max(1L, cpu1._1 - cpu0._1)}%.1f%% of CPU time stolen")
    errors ++= w.finalCheck()
    if (errors.nonEmpty) {
      failed = math.max(failed, 1)
      errors.take(20).foreach(e => System.err.println(s"[perfbench] WRONG OUTPUT: $e"))
    }
    val metrics =
      if (a.trace) perLayer(spark, w, a, untraced.toSeq, traced.toSeq, tracer.get)
      else endToEnd(setupNs, untraced.toSeq)
    Result(errors.isEmpty, attempted, failed, metrics)
  }

  private def endToEnd(setupNs: Seq[Long], ops: Seq[OpOut]): Seq[(String, Metric)] = {
    val ms = ops.map(_.wallNs / 1e6)
    val rows = ops.map(_.rows).sum
    Seq(
      "setup_s" -> Metric(Stats.median(setupNs.map(secs)), "s"),
      "rows_per_s" -> Metric(rows / secs(ops.map(_.wallNs).sum), "rows/s"),
      "increment_ms.p50" -> Metric(Stats.quantile(ms, 0.5), "ms"),
      "sink_bytes_per_row" -> Metric(ops.map(_.sinkBytes).sum.toDouble / rows, "B/row"),
      "peak_rss_mb" -> Metric(Stats.peakRssMb(), "MiB"))
  }

  /** One traced operation and its per-layer values. */
  private def traceOp(w: Workload, i: Int, input: Path, tr: Tracer,
                      cores: Int): (OpOut, Map[String, Double]) = {
    val compileMs = {
      val t0 = System.nanoTime(); w.compileOnly(input); (System.nanoTime() - t0) / 1e6
    }
    val spansBefore = tr.allSpans.size
    tr.begin()
    val wallStart = System.currentTimeMillis()
    val o = tr.span("op")(w.op(i, input, new Probe(Some(tr))))
    val wallEnd = System.currentTimeMillis()
    tr.end()
    val cs = tr.stepCounters.values.toSeq
    def total(f: StepCounters => Long): Double = cs.map(f).sum.toDouble
    val spans = tr.allSpans.drop(spansBefore)
    def stepMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum
    val opMs = spans.find(_.name == "op").get.ms
    // skew of the widest stage: the one with the most tasks
    val widest = cs.flatMap(_.stageTaskMs.values).maxByOption(_.size).map(_.map(_.toDouble).toSeq)
    val skew = widest.map(t => t.max / math.max(Stats.median(t), 1.0)).getOrElse(1.0)
    val covered = tr.sqlCoveredMs(wallStart, wallEnd)
    (o, Map(
      "scan.passes" -> tr.scanRows.toDouble / o.rows,
      "scan.bytes" -> total(_.inBytes),
      "exchange.write_bytes" -> total(_.shuffleWrite),
      "exchange.read_bytes" -> total(_.shuffleRead),
      "exec.spill_bytes" -> total(_.spill),
      "exec.jobs" -> total(_.jobs),
      "exec.stages" -> total(_.stages),
      "checks.uniqueness_ms" -> stepMs("checks.uniqueness"),
      "checks.referential_ms" -> stepMs("checks.referential"),
      "checks.stats_ms" -> stepMs("checks.stats"),
      "checks.drift_ms" -> stepMs("checks.drift"),
      "run.rowpass_ms" -> stepMs("run.rowpass"),
      "run.violations_ms" -> stepMs("run.violations"),
      "run.verdicts_ms" -> stepMs("run.verdicts"),
      "functions.dispatch_ms" -> stepMs("functions.dispatch"),
      "exec.task_ms" -> total(_.taskMs),
      "exec.cpu_ms" -> total(_.cpuNs) / 1e6,
      "exec.gc_ms" -> total(_.gcMs),
      "exec.slot_util" -> total(_.taskMs) / (opMs * cores),
      "exec.task_skew" -> skew,
      "compile.ms" -> compileMs,
      "catalyst.analysis_ms" -> total(_.analysisMs),
      "catalyst.optimization_ms" -> total(_.optimizationMs),
      "catalyst.planning_ms" -> total(_.planningMs),
      "sql.exec_ms" -> total(_.sqlExecNs) / 1e6,
      "sql.queries" -> total(_.sqlQueries),
      "driver.residual_ms" -> math.max(0.0, (wallEnd - wallStart) - covered - tr.drainNs / 1e6),
      "io.commit_ms" -> stepMs("io.commit"),
      "io.read_delta_ms" -> stepMs("io.read_delta"),
      "run.resumable_ms" -> stepMs("run.resumable"),
      "sink.files" -> o.sinkFiles.toDouble,
      "sink.bytes" -> o.sinkBytes.toDouble,
      "sink.write_ms" -> total(_.writeMs),
      "run.fail_rows" -> o.failRows.toDouble,
      "run.violation_rows" -> o.violationRows.toDouble,
      "op_ms" -> opMs))
  }

  /** Units of the per-layer metrics, in report order. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "scan.passes" -> "ratio", "scan.bytes" -> "B", "exchange.write_bytes" -> "B",
    "exchange.read_bytes" -> "B", "exec.spill_bytes" -> "B", "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "checks.uniqueness_ms" -> "ms", "checks.referential_ms" -> "ms", "checks.stats_ms" -> "ms",
    "checks.drift_ms" -> "ms", "run.rowpass_ms" -> "ms", "run.violations_ms" -> "ms",
    "run.verdicts_ms" -> "ms", "functions.dispatch_ms" -> "ms",
    "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.slot_util" -> "ratio", "exec.task_skew" -> "ratio",
    "walker.docs_per_s_core" -> "docs/s", "walker.violations_per_doc" -> "ratio",
    "walker.hello_docs_per_s" -> "docs/s",
    "spec.parse_ms" -> "ms",
    "compile.ms" -> "ms", "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "sql.exec_ms" -> "ms", "sql.queries" -> "count",
    "driver.residual_ms" -> "ms", "io.commit_ms" -> "ms", "io.read_delta_ms" -> "ms",
    "run.resumable_ms" -> "ms", "sink.files" -> "count",
    "sink.bytes" -> "B", "sink.write_ms" -> "ms",
    "run.fail_rows" -> "count", "run.violation_rows" -> "count",
    "trace.overhead_pct" -> "%")

  private def perLayer(spark: SparkSession, w: Workload, a: Main.Args, untraced: Seq[OpOut],
                       traced: Seq[(OpOut, Map[String, Double])], tr: Tracer): Seq[(String, Metric)] = {
    val layer = traced.flatMap(_._2.keys).distinct.map { k =>
      k -> Stats.median(traced.map(_._2(k)))
    }.toMap
    val walker = Walker.run(a.seed)
    val parseMs = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      w.parse()
      (System.nanoTime() - t0) / 1e6
    })
    val untracedMs = Stats.median(untraced.map(_.wallNs / 1e6))
    val values = layer ++ walker ++ Map(
      "spec.parse_ms" -> parseMs,
      "trace.overhead_pct" -> 100.0 * (layer("op_ms") / untracedMs - 1.0))
    a.artifact.foreach { path =>
      val doc = Json.obj(
        "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
        "traced_ops" -> traced.size, "untraced_ops" -> untraced.size,
        "untraced_op_ms" -> untraced.map(_.wallNs / 1e6),
        "metrics" -> mutable.LinkedHashMap(perLayerUnits.map { case (k, u) =>
          k -> Json.obj("value" -> values(k), "unit" -> u) }: _*),
        "ops" -> traced.map(_._2),
        "spans" -> tr.allSpans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.createDirectories(path.getParent)
      val tmp = Files.createTempFile(path.getParent, ".trace", ".tmp")
      Files.write(tmp, Json.write(doc).getBytes("UTF-8"))
      Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    perLayerUnits.map { case (k, u) => k -> Metric(values(k), u) }
  }
}

/** Spark-free, single-thread walker measurements. */
object Walker {
  import graft.functions.VariantValidator
  import org.apache.spark.unsafe.types.UTF8String

  private def rate(budgetNs: Long)(pass: () => Long): Double = {
    var docs = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < budgetNs) docs += pass()
    docs / ((System.nanoTime() - t0) / 1e9)
  }

  /** `walker.docs_per_s_core` and `walker.violations_per_doc` over the
    * table_pass tool schemas and tool-call documents; `walker.hello_docs_per_s` with
    * the reference harness's protocol (hello-world schema, a preloaded
    * valid/invalid pair, one thread). Parse is included in every rate. */
  def run(seed: Long): Map[String, Double] = {
    val validators = Gen.toolSchemas.map { case (t, s) =>
      t -> new VariantValidator(Graft.parseSchema(s), false) }
    val docs = (0 until 2000).map { i =>
      val c = Gen.call(seed, i)
      (validators(c.tool), UTF8String.fromString(c.arguments))
    }
    def walkAll(): Long = {
      var v = 0L
      docs.foreach { case (vv, d) => v += VariantValidator.validateJsonString(vv, d).getArray(1).numElements() }
      v
    }
    val violations = walkAll()
    rate(500000000L)(() => { walkAll(); docs.size.toLong }) // warm-up
    val docsPerS = rate(1500000000L)(() => { walkAll(); docs.size.toLong })

    val hello = new VariantValidator(Graft.parseSchema(Gen.helloSchema), false)
    val pair = Gen.helloDocs.map(UTF8String.fromString)
    def helloPass(): Long = {
      var i = 0
      while (i < 10000) {
        VariantValidator.validateJsonString(hello, pair(0))
        VariantValidator.validateJsonString(hello, pair(1))
        i += 1
      }
      20000L
    }
    rate(500000000L)(helloPass) // warm-up
    Map(
      "walker.docs_per_s_core" -> docsPerS,
      "walker.violations_per_doc" -> violations.toDouble / docs.size,
      "walker.hello_docs_per_s" -> rate(1500000000L)(helloPass))
  }
}
