package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.checks.Drift
import graft.compile.Compiler
import graft.io.SnapshotLog
import graft.run.{Runner, TableRunner}
import graft.spec.SchemaSpec

/** Runs `f` as a traced step when tracing, as plain code otherwise. */
final class Probe(val tracer: Option[Tracer]) {
  def step[A](name: String)(f: => A): A = tracer.fold(f)(_.step(name)(f))
}

/** What one operation did. `wallNs` covers only the timed part of the
  * operation; `errors` lists every output that disagreed with its expected
  * value. */
final case class OpOut(rows: Long, wallNs: Long, sinkBytes: Long, sinkFiles: Long,
                       failRows: Long, violationRows: Long, errors: Seq[String])

/** One workload: seeded inputs, the program's set-up, a repeatable
  * operation, and the checks on its outputs. */
abstract class Workload(val spark: SparkSession, val seed: Long, val cores: Int, val dir: Path) {
  /** Lower bound on timed operations, whatever `--seconds` says. */
  def minOps: Int
  /** Write the seeded inputs under `inputDir`. */
  def generate(inputDir: Path): Unit
  /** Parse the workload's specs with `Graft.parseSchema`. */
  def parse(): Unit
  /** Plan the operation's main query over `inputDir` without running it. */
  def plan(inputDir: Path): Unit
  /** The program's set-up before an operation can run: parse the specs,
    * compile them and plan the query. */
  final def prepare(inputDir: Path): Unit = { parse(); plan(inputDir) }
  /** Compute the expected outputs of the inputs in `inputDir`, which the
    * operations then use. */
  def expect(inputDir: Path): Unit
  /** One operation over the inputs in `inputDir`. */
  def op(i: Int, inputDir: Path, p: Probe): OpOut
  /** Untimed operations that warm the JIT and codegen caches. */
  def warmup(inputDir: Path): Unit
  /** Checks over everything the run wrote; returns the errors found. */
  def finalCheck(): Seq[String] = Nil
  /** Standalone compile of the workload's specs, for the trace. */
  def compileOnly(inputDir: Path): Unit

  protected def timed[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }

  protected def check(errors: collection.mutable.Buffer[String], what: String,
                      got: Any, want: Any): Unit =
    if (got != want) errors += s"$what: got $got, expected $want"
}

/** `table_pass`: the full transcript table through `TableRunner.run`, every
  * report output materialized, plus the tool calls' JSON arguments
  * validated against per-tool schemas with `Graft.validateJsonColumnBy`. */
final class TablePass(spark: SparkSession, seed: Long, cores: Int, dir: Path, convs: Long)
    extends Workload(spark, seed, cores, dir) {
  val minOps = 3
  /** Input files per core, so scans split across task slots as written. */
  private val filesPerCore = 2
  private val keys = Seq("conv_id", "turn_idx")
  private var spec: SchemaSpec = _
  private var toolSpecs: Map[String, SchemaSpec] = _
  private var want: Gen.TurnExpect = _
  private var sampleErrors: Seq[String] = Nil
  // text length in [23, 159]; a flat baseline, so drift is computed, not skipped
  private val baseline = Drift.Histogram(0, 200, Array.fill(22)(1000L))

  def generate(inputDir: Path): Unit =
    Gen.turns(spark, seed, 0, convs, cores * filesPerCore, skew = true, withArgs = true)
      .write.parquet(inputDir.toString)

  def parse(): Unit = {
    spec = Graft.parseSchema(Gen.transcriptSpec)
    toolSpecs = Gen.toolSchemas.map { case (t, s) => t -> Graft.parseSchema(s) }
  }

  def plan(inputDir: Path): Unit = {
    val df = spark.read.parquet(inputDir.toString)
    val rc = Runner.rowChecks(df, spec, keys)
    rc.violations.queryExecution.executedPlan
    rc.partitionVerdicts.queryExecution.executedPlan
    argumentViolations(df).queryExecution.executedPlan
  }

  def expect(inputDir: Path): Unit = {
    spark.read.parquet(inputDir.toString).createOrReplaceTempView("perfbench_turns")
    want = Gen.expectTurns(spark, "perfbench_turns", seed)
    sampleErrors = catalystSample(inputDir)
  }

  def compileOnly(inputDir: Path): Unit = {
    Compiler.compileRow(spec, spark.read.parquet(inputDir.toString).schema)
    toolSpecs.values.foreach(s => new graft.functions.VariantValidator(s, false))
  }

  private def dispatch(df: DataFrame): DataFrame =
    Graft.validateJsonColumnBy(df, "arguments", "tool", toolSpecs)

  /** Argument violations, exploded as the schema-dispatch query does. */
  private def argumentViolations(df: DataFrame): DataFrame =
    dispatch(df)
      .select(col("conv_id"), col("turn_idx"), col("tool"), explode(col("violations")).as("v"))
      .where(col("v.kind") =!= "properties")
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        col("v.json_pointer").as("json_pointer"), col("v.description").as("description"),
        col("v.kind").as("kind"))

  /** A fixed sample must match the pure-Catalyst validator row for row
    * (pass flag and violation multiset): the tool turns of the first 3,000
    * conversations whose tool is picked by the seed. The Catalyst path costs
    * seconds of planning per schema, so each run checks one of the 16
    * schemas and sixteen consecutive seeds cover all of them. */
  private def catalystSample(inputDir: Path): Seq[String] = {
    val picked = Gen.tools((seed % 16).toInt)
    val sample = spark.read.parquet(inputDir.toString)
      .where(col("conv_id") < "c0000003000" && col("tool") === picked)
    def rows(df: DataFrame): Map[(String, Int), (Boolean, Seq[String])] =
      df.select(col("conv_id"), col("turn_idx"), col("pass"), col("violations")).collect().map { r =>
        (r.getString(0), r.getInt(1)) ->
          (r.getBoolean(2), r.getSeq[Row](3).map(v => v.mkString("|")).sorted)
      }.toMap
    val native = rows(dispatch(sample))
    val catalyst = rows(Graft.validateJsonColumnCatalyst(sample, "arguments", toolSpecs(picked)))
    val diff = (native.keySet ++ catalyst.keySet).toSeq.sorted
      .filter(k => native.get(k) != catalyst.get(k))
    diff.take(3).map(k => s"call $k: native ${native.get(k)} vs catalyst ${catalyst.get(k)}") ++
      (if (native.size < 50) Seq(s"sample has only ${native.size} calls") else Nil) ++
      (if (native.values.count(!_._1) == 0) Seq("sample has no failing call") else Nil)
  }

  private def config = TableRunner.TableValidationConfig(
    rowSpec = spec, keyCols = keys,
    uniqueness = Seq(TableRunner.UniquenessSpec(keys)),
    referential = Seq(TableRunner.ReferentialSpec("tool", Left(Gen.tools))),
    statsCols = Seq("role", "text", "turn_idx"),
    drift = Seq(TableRunner.DriftSpec("text", Some(length(col("text")).cast("double")), baseline)))

  /** Every output, one after another: violations, verdicts and argument
    * violations are written, the other outputs counted or collected. */
  private def pass(df: DataFrame, sink: Path, p: Probe) = {
    // drift is the one eager check: it runs inside TableRunner.run
    val report = p.step("checks.drift")(TableRunner.run(df, config))
    val failRows = p.step("run.rowpass")(report.flagged.where(!col("pass")).count())
    p.step("run.violations")(report.violations.write.parquet(sink.resolve("violations").toString))
    p.step("run.verdicts")(report.partitionVerdicts.write.parquet(sink.resolve("verdicts").toString))
    val dups = p.step("checks.uniqueness")(report.duplicateKeys.values.head.count())
    val refs = p.step("checks.referential")(report.referentialViolations.values.head.count())
    val stats = p.step("checks.stats")(report.stats.get.collect())
    p.step("functions.dispatch")(argumentViolations(df).write.parquet(sink.resolve("arguments").toString))
    (failRows, dups, refs, stats)
  }

  def warmup(inputDir: Path): Unit = {
    pass(spark.read.parquet(inputDir.toString), dir.resolve("table-warmup"), new Probe(None))
    Stats.deleteTree(dir.resolve("table-warmup"))
  }

  def op(i: Int, inputDir: Path, p: Probe): OpOut = {
    val sink = dir.resolve(s"table-sink-$i")
    val ((failRows, dups, refs, stats), wall) = timed(pass(spark.read.parquet(inputDir.toString), sink, p))
    val errors = collection.mutable.ArrayBuffer[String]() ++ sampleErrors
    check(errors, "fail rows", failRows, want.failRows)
    check(errors, "duplicate keys", dups, want.duplicateKeys)
    check(errors, "referential misses", refs, want.referentialMisses)
    check(errors, "stats rows", stats.length.toLong, 64L)
    check(errors, "stats turn_idx rows", stats.map(_.getAs[Long]("turn_idx_rows")).sum, want.rows)
    val byKind = spark.read.parquet(sink.resolve("violations").toString)
      .groupBy("kind").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    check(errors, "violation rows by kind", byKind, want.violationsByKind)
    val v = spark.read.parquet(sink.resolve("verdicts").toString)
      .agg(sum("rows"), sum("fail_rows")).head()
    check(errors, "verdict rows", v.getLong(0), want.rows)
    check(errors, "verdict fail rows", v.getLong(1), want.failRows)
    val args = spark.read.parquet(sink.resolve("arguments").toString)
      .agg(count(lit(1)), countDistinct("conv_id", "turn_idx")).head()
    check(errors, "failing tool calls", args.getLong(1), want.failingCalls)
    val (bytes, files) = Stats.tree(sink)
    Stats.deleteTree(sink)
    OpOut(want.rows, wall, bytes, files, failRows, byKind.values.sum + args.getLong(0), errors.toSeq)
  }
}

/** `ingest_increments`: a closed loop with one client. Each increment
  * commits a pre-written batch to a snapshot log, reads the delta and
  * validates it with `Runner.runResumable` under its own run id. */
final class IngestIncrements(spark: SparkSession, seed: Long, cores: Int, dir: Path,
                             batches: Int, convsPerBatch: Long)
    extends Workload(spark, seed, cores, dir) {
  val minOps = 20
  private val keys = Seq("conv_id", "turn_idx")
  private var spec: SchemaSpec = _
  private val log = new SnapshotLog(dir.resolve("log").toString)
  private val out = dir.resolve("ingest-sink")
  private val linked = dir.resolve("increments")
  /** Per pool batch: its file, rows and failing rows. */
  private var pool: IndexedSeq[(Path, Long, Long)] = _
  /** Per increment: run id, committed rows, expected failing rows. */
  private val committed = collection.mutable.ArrayBuffer[(String, Long, Long)]()

  def generate(inputDir: Path): Unit =
    Gen.turns(spark, seed, 0, batches * convsPerBatch, batches, skew = false, withArgs = false)
      .write.parquet(inputDir.toString)

  def parse(): Unit = spec = Graft.parseSchema(Gen.transcriptSpec)

  def plan(inputDir: Path): Unit =
    Runner.rowOutput(spark.read.parquet(firstFile(inputDir)), spec, keys).queryExecution.executedPlan

  def compileOnly(inputDir: Path): Unit =
    Compiler.compileRow(spec, spark.read.parquet(firstFile(inputDir)).schema)

  /** The batch files, one per generator partition: part-NNNNN, in
    * conversation order. */
  private def batchFiles(inputDir: Path): Seq[Path] =
    Files.list(inputDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)

  private def firstFile(inputDir: Path): String = batchFiles(inputDir).head.toString

  def expect(inputDir: Path): Unit = {
    val files = batchFiles(inputDir)
    require(files.size == batches, s"expected one file per batch, got ${files.size}")
    spark.read.parquet(inputDir.toString).createOrReplaceTempView("perfbench_ingest")
    val perFile = spark.sql(
      s"""SELECT input_file_name(), count(*), count_if(${Gen.failingTurn})
         |FROM perfbench_ingest GROUP BY 1""".stripMargin).collect()
      .map(r => r.getString(0).split('/').last -> (r.getLong(1), r.getLong(2))).toMap
    pool = files.map { f =>
      val (rows, fail) = perFile(f.getFileName.toString)
      (f, rows, fail)
    }.toIndexedSeq
  }

  private var increments = 0

  /** The first increments are the warm-up; they are checked like the rest.
    * Per-query planning and scheduling code dominates an increment, and the
    * JIT compiles it only after several increments. */
  def warmup(inputDir: Path): Unit =
    (1 to 3).foreach { _ =>
      val o = op(0, inputDir, new Probe(None))
      require(o.errors.isEmpty, o.errors.mkString("; "))
    }

  def op(i: Int, inputDir: Path, p: Probe): OpOut = {
    val n = increments
    increments += 1
    val (file, wantRows, wantFail) = pool(n % pool.size)
    // a fresh name per increment, so a pool batch can be committed again
    Files.createDirectories(linked)
    val inc = linked.resolve(f"inc-$n%05d.parquet")
    Files.createLink(inc, file)
    val before = Stats.tree(out)
    val ((runId, verdicts), wall) = timed {
      val v = p.step("io.commit")(log.commitAppend(Seq(inc.toString)))
      val delta = p.step("io.read_delta")(log.readDelta(spark, v - 1, v).get)
      (s"v$v", p.step("run.resumable")(Runner.runResumable(spark, delta, spec, keys, out.toString, s"v$v")))
    }
    // violation counts cost a job, so only traced operations pay for them
    val violations = if (p.tracer.isEmpty) 0L else verdicts.agg(sum("violation_count")).head().getLong(0)
    verdicts.unpersist()
    committed += ((runId, wantRows, wantFail))
    val errors = collection.mutable.ArrayBuffer[String]()
    val ledger = ledgerRecords(runId)
    val failRows = ledger.headOption.map(_.get("fail_rows").asLong()).getOrElse(-1L)
    check(errors, s"increment $n ledger records", ledger.size, 1)
    ledger.headOption.foreach { rec =>
      check(errors, s"increment $n ledger rows", rec.get("rows").asLong(), wantRows)
      check(errors, s"increment $n ledger fail rows", failRows, wantFail)
    }
    val after = Stats.tree(out)
    OpOut(wantRows, wall, after._1 - before._1, after._2 - before._2, failRows, violations, errors.toSeq)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def ledgerRecords(runId: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val f = out.resolve(s"metrics-$runId.jsonl")
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f).asScala.filter(_.nonEmpty).map(l => mapper.readTree(l)).toSeq
  }

  /** The written verdicts of every increment sum to its committed rows and
    * failing rows, and each increment has one ledger record and a manifest. */
  override def finalCheck(): Seq[String] = {
    val verdicts = spark.read.parquet(out.resolve("verdicts").toString)
      .groupBy("attempt_id").agg(sum("rows"), sum("fail_rows")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val errors = collection.mutable.ArrayBuffer[String]()
    committed.foreach { case (runId, rows, fail) =>
      ledgerRecords(runId) match {
        case Seq(rec) =>
          check(errors, s"$runId verdict rows and fail rows",
            verdicts.get(rec.get("attempt_id").asText()), Some((rows, fail)))
        case recs => errors += s"$runId: ${recs.size} ledger records, expected 1"
      }
      if (!Files.exists(out.resolve(s"manifest-$runId.txt"))) errors += s"$runId: no manifest"
    }
    check(errors, "verdict rows over all increments", verdicts.values.map(_._1).sum,
      committed.map(_._2).sum)
    errors.toSeq
  }
}
