package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.Graft
import graft.run.TableRunner

/** Self-tests of the generators at tiny size: the same seed gives identical
  * inputs, another seed gives different ones, and the expected-count
  * formulas agree with an engine run. Exits 1 on the first failure. */
object SelfTest {

  def run(a: Main.Args): Unit = {
    val spark = Main.session(a)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def expectEq(what: String, got: Any, want: Any): Unit =
      if (got != want) failures += s"$what: got $got, expected $want"
    try {
      def turns(seed: Long, files: Int): Seq[Row] =
        Gen.turns(spark, seed, 0, 3000, files, skew = true, withArgs = true).collect().toSeq
          .sortBy(r => (r.getString(0), r.getInt(1)))
      val base = turns(7, 4)
      expectEq("same seed, other parallelism, same turns", turns(7, 3) == base, true)
      expectEq("other seed, other turns", turns(8, 4) == base, false)
      def calls(seed: Long): Seq[Gen.Call] = (0L until 500L).map(Gen.call(seed, _))
      expectEq("same seed, same calls", calls(7) == calls(7), true)
      expectEq("other seed, other calls", calls(8) == calls(7), false)

      // expected-count formulas against an engine run
      Gen.turns(spark, 7, 0, 3000, 4, skew = true, withArgs = true)
        .createOrReplaceTempView("selftest_turns")
      val want = Gen.expectTurns(spark, "selftest_turns", 7)
      expectEq("injected violations present", want.violationsByKind.keySet,
        Set("enum", "minLength", "pattern", "properties"))
      expectEq("duplicates present", want.duplicateKeys > 0, true)
      expectEq("failing tool calls present", want.failingCalls > 0, true)
      val keys = Seq("conv_id", "turn_idx")
      val turns7 = spark.table("selftest_turns")
      val report = TableRunner.run(turns7, TableRunner.TableValidationConfig(
        rowSpec = Graft.parseSchema(Gen.transcriptSpec), keyCols = keys,
        uniqueness = Seq(TableRunner.UniquenessSpec(keys)),
        referential = Seq(TableRunner.ReferentialSpec("tool", Left(Gen.tools)))))
      expectEq("fail rows", report.flagged.where(!col("pass")).count(), want.failRows)
      expectEq("violation rows by kind", report.violations.groupBy("kind").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap, want.violationsByKind)
      expectEq("duplicate keys", report.duplicateKeys.values.head.count(), want.duplicateKeys)
      expectEq("referential misses", report.referentialViolations.values.head.count(),
        want.referentialMisses)

      val specs = Gen.toolSchemas.map { case (t, s) => t -> Graft.parseSchema(s) }
      val flagged = Graft.validateJsonColumnBy(turns7, "arguments", "tool", specs)
      expectEq("failing tool calls", flagged.where(!col("pass")).select("conv_id", "turn_idx")
        .distinct().count(), want.failingCalls)
      expectEq("every failing call has a leaf violation",
        flagged.select(col("conv_id"), col("turn_idx"), explode(col("violations")).as("v"))
          .where(col("v.kind") =!= "properties").select("conv_id", "turn_idx").distinct().count(),
        want.failingCalls)
    } finally spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[perfbench] SELFTEST FAILED: $f"))
      sys.exit(1)
    }
    println("[perfbench] selftest ok")
  }
}
