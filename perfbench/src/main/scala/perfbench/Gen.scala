package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), so the same seed gives byte-identical inputs at any parallelism,
  * and the expected outputs can be computed without the validator.
  */
object Gen {

  val roles: Seq[String] = Seq("system", "user", "assistant", "tool")
  val tools: Seq[String] = (0 until 16).map(i => f"tool_$i%02d")

  /** The transcript constraint spec the table and ingest workloads validate:
    * role vocabulary, non-empty text, tool naming pattern, tool presence
    * tied to role. */
  val transcriptSpec: String =
    """{
      "type": "object",
      "required": ["conv_id", "turn_idx", "role", "text", "ts"],
      "properties": {
        "conv_id":  {"type": "string", "pattern": "^c[0-9]{10}$"},
        "turn_idx": {"type": "integer", "minimum": 0},
        "role":     {"type": "string", "enum": ["system", "user", "assistant", "tool"]},
        "text":     {"type": "string", "minLength": 1},
        "tool":     {"type": "string", "pattern": "^tool_[0-9]{2}$"}
      },
      "dependencies": {"tool": ["role"]}
    }"""

  // ---------------------------------------------------------------------
  // Transcript turns
  // ---------------------------------------------------------------------

  /** 400 eight-character tokens (`tokNNNN `), the source of every turn's text. */
  private val corpus: String = (0 until 400).map(i => f"tok${i * 7919 % 5000}%04d").mkString(" ")

  /** A seeded 32-bit hash over `cols`, salted so each use draws independently. */
  private def h(seed: Long, salt: Int, cols: Column*): Column =
    hash((lit(seed) +: lit(salt) +: cols): _*)

  /** The tool call a tool turn makes: a pure function of (seed, turn). */
  def turnCall(seed: Long, cid: Long, turn: Int): Call = call(seed, cid * 4096 + turn)

  /** Transcript turns shaped like the library's synthetic transcripts:
    * `(conv_id, turn_idx, role, text, tool, ts, part_id)`, plus, with
    * `withArgs`, the tool call's JSON `arguments` on tool turns ([[call]]).
    * One output partition per input partition of `convs`, so writing it
    * gives exactly `files` files, in conversation order.
    *
    * Conversations are 1-8 turns; with `skew`, every 997th is 2000 turns. Each
    * injected violation hits ~0.1% of turns: out-of-vocabulary role, empty
    * text, unknown tool, non-monotone timestamp, and (0.05%) a turn emitted
    * twice (duplicate key). */
  def turns(spark: SparkSession, seed: Long, firstConv: Long, numConvs: Long,
            files: Int, skew: Boolean, withArgs: Boolean): DataFrame = {
    val cid = col("cid")
    val convs = spark.range(firstConv, firstConv + numConvs, 1, files).toDF("cid")
      // the long conversations sit at fixed positions, so every seed puts
      // the same skew into the same files and partitions
      .withColumn("len",
        if (skew) when(cid % 997 === 0, lit(2000)).otherwise(lit(1) + pmod(h(seed, 6, cid), lit(8)))
        else lit(1) + pmod(h(seed, 6, cid), lit(8)))
    val t = col("t")
    def flag(salt: Int, per: Int): Column = pmod(h(seed, salt, cid, t), lit(per)) === 0
    val base = convs
      .select(cid, explode(sequence(lit(0), col("len") - 1)).as("t"))
      // the duplicate-key injection re-emits the turn in place (no union),
      // so the partition layout, and hence the file count, is unchanged
      .withColumn("copy", explode(sequence(lit(0), when(flag(5, 2000), 1).otherwise(0))))
      .select(
        format_string("c%010d", cid).as("conv_id"),
        t.cast("int").as("turn_idx"),
        when(flag(1, 1000), lit("narrator"))
          .when(t === 0, lit("system"))
          .otherwise(element_at(typedLit(Seq("user", "assistant", "assistant", "tool")),
            (pmod(t, lit(4)) + 1).cast("int"))).as("role"),
        // 3-20 whole tokens cut from a fixed corpus at a seeded offset
        when(flag(2, 1000), lit(""))
          .otherwise(substring(lit(corpus), lit(1) + pmod(h(seed, 7, cid, t), lit(300)) * 8,
            (lit(3) + pmod(h(seed, 8, cid, t), lit(18))) * 8 - 1)).as("text"),
        cid, t)
    val callOf = udf((c: Long, turn: Int) => { val x = turnCall(seed, c, turn); (x.tool, x.arguments) })
    val isTool = col("role") === "tool"
    val withTool = if (withArgs) base.withColumn("call", when(isTool, callOf(cid, t)))
      else base.withColumn("call", when(isTool, struct(
        element_at(typedLit(tools), (pmod(h(seed, 9, cid, t), lit(16)) + 1).cast("int")).as("_1"),
        lit(null).cast("string").as("_2"))))
    withTool
      .withColumn("tool", when(isTool && flag(3, 1000), lit("tool_zz")).otherwise(col("call._1")))
      .withColumn("ts", timestamp_seconds(lit(1600000000L) + cid * 7200 + t * 30 -
        when(flag(4, 1000), lit(7200L)).otherwise(lit(0L))))
      .select(Seq(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"),
        col("ts"), pmod(hash(col("conv_id")), lit(64)).as("part_id")) ++
        (if (withArgs) Seq(col("call._2").as("arguments")) else Nil): _*)
  }

  /** Expected outputs of the transcript spec and table checks, computed in
    * plain SQL over the generated columns (no validator involved). */
  final case class TurnExpect(rows: Long, failRows: Long, violationsByKind: Map[String, Long],
                              duplicateKeys: Long, referentialMisses: Long, failingCalls: Long)

  private val badRole = s"role NOT IN (${roles.map(r => s"'$r'").mkString(",")})"
  private val emptyText = "length(text) < 1"
  private val badTool = "tool IS NOT NULL AND NOT tool RLIKE '^tool_[0-9]{2}$'"
  private val badConv = "NOT conv_id RLIKE '^c[0-9]{10}$'"
  private val negTurn = "turn_idx < 0"

  /** SQL predicate: the turn violates the transcript spec. */
  val failingTurn: String = Seq(badRole, emptyText, badTool, badConv, negTurn).map(c => s"($c)").mkString(" OR ")

  /** `seed` names the generator run, for the tool-call defects it
    * injected; the distinct (conv_id, turn_idx) keys of tool turns whose
    * registered tool's call carries a defect are `failingCalls`. */
  def expectTurns(spark: SparkSession, table: String, seed: Long): TurnExpect = {
    spark.udf.register("perfbench_bad_call", (convId: String, turn: Int) =>
      turnCall(seed, convId.substring(1).toLong, turn).invalid)
    val withArgs = spark.table(table).columns.contains("arguments")
    val badCall = if (!withArgs) "false" else
      s"max(tool IN (${tools.map(t => s"'$t'").mkString(",")}) AND perfbench_bad_call(conv_id, turn_idx))"
    val r = spark.sql(
      s"""SELECT sum(n), sum(fail), sum(bad_role), sum(empty_text), sum(bad_pattern),
         |  sum(neg_turn), sum(unknown_tool), count_if(n > 1), count_if(bad_call)
         |FROM (SELECT count(*) n, count_if($failingTurn) fail, $badCall bad_call,
         |  count_if($badRole) bad_role, count_if($emptyText) empty_text,
         |  count_if($badTool) + count_if($badConv) bad_pattern, count_if($negTurn) neg_turn,
         |  count_if(tool IS NOT NULL AND tool NOT IN (${tools.map(t => s"'$t'").mkString(",")})) unknown_tool
         |  FROM $table GROUP BY conv_id, turn_idx)""".stripMargin).head()
    // one leaf row per failing property, plus the `properties` row that
    // wraps it
    val leaves = Map("enum" -> r.getLong(2), "minLength" -> r.getLong(3),
      "pattern" -> r.getLong(4), "minimum" -> r.getLong(5))
    TurnExpect(r.getLong(0), r.getLong(1),
      (leaves + ("properties" -> leaves.values.sum)).filter(_._2 > 0), r.getLong(7), r.getLong(6),
      r.getLong(8))
  }

  // ---------------------------------------------------------------------
  // Tool-call arguments (table_pass, walker microbenchmark)
  // ---------------------------------------------------------------------

  /** Per-tool limits vary so the 16 compiled schemas are distinct. */
  private def maxLimit(tool: Int): Int = 50 + 25 * tool
  private def actions(tool: Int): Seq[String] =
    Seq("get", "list", "create", "update", "delete", "search").map(a => s"${a}_$tool")

  /** One schema per tool. Every schema uses enum, pattern, numeric bounds,
    * uniqueItems, a `$ref`'d shared sub-schema (`meta`) and a oneOf. */
  def toolSchema(tool: Int): String = {
    val acts = actions(tool).map(a => "\"" + a + "\"").mkString(",")
    s"""{
       |  "definitions": {
       |    "meta": {
       |      "type": "object",
       |      "required": ["request_id", "priority"],
       |      "properties": {
       |        "request_id": {"type": "string", "pattern": "^req-[0-9a-f]{8}$$"},
       |        "priority": {"enum": ["low", "normal", "high"]},
       |        "tags": {"type": "array", "maxItems": 8, "uniqueItems": true,
       |                 "items": {"type": "string", "maxLength": 24}}
       |      }
       |    }
       |  },
       |  "type": "object",
       |  "required": ["meta", "action"],
       |  "additionalProperties": false,
       |  "properties": {
       |    "meta": {"$$ref": "#/definitions/meta"},
       |    "action": {"enum": [$acts]},
       |    "limit": {"type": "integer", "minimum": 1, "maximum": ${maxLimit(tool)}},
       |    "query": {"type": "string", "minLength": 1, "maxLength": 256},
       |    "target": {"oneOf": [
       |      {"type": "string", "pattern": "^[a-z]+://"},
       |      {"type": "object", "required": ["id"],
       |       "properties": {"id": {"type": "integer", "minimum": 0}}}
       |    ]},
       |    "items": {"type": "array", "maxItems": 64, "items": {
       |      "type": "object", "required": ["name", "score"],
       |      "properties": {
       |        "name": {"type": "string", "pattern": "^[a-z_]{3,16}$$"},
       |        "score": {"type": "number", "minimum": 0, "maximum": 1},
       |        "ids": {"type": "array", "uniqueItems": true, "items": {"type": "integer"}}
       |      }
       |    }}
       |  }
       |}""".stripMargin
  }

  val toolSchemas: Map[String, String] = tools.zipWithIndex.map { case (t, i) => t -> toolSchema(i) }.toMap

  /** One generated tool call. `invalid` is the generator's own record of
    * whether it injected a defect; the validator must agree exactly. */
  final case class Call(callId: Long, tool: String, arguments: String, invalid: Boolean)

  /** Share of calls with an injected defect: 1 in `InvalidEvery`. */
  val InvalidEvery = 10

  /** Deterministic per (seed, callId): ~70% small (~100 B) documents, ~30%
    * large (2-6 KB, nested arrays of objects); 1 in 10 carries exactly one
    * defect drawn from eight kinds. */
  def call(seed: Long, callId: Long): Call = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (callId * 0xBF58476D1CE4E5B9L))
    val tool = rnd.nextInt(16)
    val large = rnd.nextInt(10) < 3
    val defect = if (rnd.nextInt(InvalidEvery) == 0) rnd.nextInt(8) else -1
    val sb = new java.lang.StringBuilder(if (large) 4096 else 128)
    def str(s: String): Unit = sb.append('"').append(s).append('"')
    def word(n: Int): String = {
      val c = new Array[Char](n)
      var i = 0
      while (i < n) { c(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
      new String(c)
    }
    sb.append("{\"meta\":{\"request_id\":")
    str(if (defect == 1) "REQ-" + word(6) else f"req-${rnd.nextInt() & 0x7fffffff}%08x".take(12))
    sb.append(",\"priority\":")
    str(Seq("low", "normal", "high")(rnd.nextInt(3)))
    if (large || defect == 3) {
      sb.append(",\"tags\":[")
      val n = 2 + rnd.nextInt(5)
      val tags = (0 until n).map(i => word(3 + rnd.nextInt(6)) + i)
      val all = if (defect == 3) tags :+ tags.head else tags
      all.zipWithIndex.foreach { case (t, i) => if (i > 0) sb.append(','); str(t) }
      sb.append(']')
    }
    sb.append('}')
    if (defect != 5) {
      sb.append(",\"action\":")
      str(if (defect == 0) "bogus" else actions(tool)(rnd.nextInt(6)))
    }
    sb.append(",\"limit\":")
    sb.append(if (defect == 2) maxLimit(tool) + 1 + rnd.nextInt(10) else 1 + rnd.nextInt(maxLimit(tool)))
    if (rnd.nextBoolean() || defect == 4) {
      sb.append(",\"target\":")
      if (defect == 4) str("ftp_" + word(5))
      else if (rnd.nextBoolean()) str("https://" + word(8))
      else sb.append("{\"id\":").append(rnd.nextInt(1 << 20)).append('}')
    }
    if (large) {
      sb.append(",\"query\":")
      str((0 until 4 + rnd.nextInt(8)).map(_ => word(2 + rnd.nextInt(8))).mkString(" "))
      sb.append(",\"items\":[")
      val n = 16 + rnd.nextInt(40)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(',')
        sb.append("{\"name\":")
        str(word(3 + rnd.nextInt(13)))
        sb.append(",\"score\":").append(rnd.nextInt(1000) / 1000.0)
        sb.append(",\"ids\":[")
        val m = 2 + rnd.nextInt(8)
        val base = rnd.nextInt(1000)
        var j = 0
        while (j < m) { if (j > 0) sb.append(','); sb.append(base + j * 7); j += 1 }
        sb.append("]}")
        i += 1
      }
      sb.append(']')
    }
    if (defect == 6) sb.append(",\"unexpected\":true")
    sb.append('}')
    // defect 7: a truncated, malformed document
    val doc = if (defect == 7) sb.substring(0, sb.length() / 2) else sb.toString
    Call(callId, tools(tool), doc, defect >= 0)
  }

  /** The reference harness's hello-world fixture: schema plus one valid and
    * one invalid document. */
  val helloSchema: String = """{"type":"object","properties":{"hello":{"const":"world"}}}"""
  val helloDocs: Seq[String] = Seq("""{"hello":"world"}""", """{"hello":"mars"}""")
}
