package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --scratch <dir> --cores <n> --artifact <file>
  * }}}
  *
  * Prints one JSON object as the last stdout line and exits 1 when any
  * output was wrong. With `--trace 0` it reports the end-to-end metrics;
  * with `--trace 1` the per-layer metrics, and it writes the spans and
  * per-step counters of the traced operations to `--artifact`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scratch: Path, cores: Int, artifact: Option[Path])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("scratch")), need("cores").toInt, kv.get("artifact").map(Paths.get(_)))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder().master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", a.scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "selftest") { SelfTest.run(a); return }
    val spark = session(a)
    val result =
      try Harness.run(spark, a)
      finally spark.stop()
    println(Json.write(result.json))
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }
}

/** Minimal JSON rendering for the result line and the trace artifact. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, convert(v)) }
    m
  }

  private def convert(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, convert(x)) }
      out
    case s: Seq[_] => s.map(convert).asJava
    case other => other
  }

  def write(v: Any): String = mapper.writeValueAsString(convert(v))
}

/** A metric value and its unit. */
final case class Metric(value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Metric)]) {
  def json: java.util.Map[String, Any] = Json.obj(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, m) =>
      k -> Json.obj("value" -> m.value, "unit" -> m.unit) }: _*))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Bytes and files under `dir`, recursively. */
  def tree(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir)
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally files.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val files = Files.walk(dir)
      try files.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally files.close()
    }

  /** (all, steal) CPU ticks of the machine so far (Linux `/proc/stat`):
    * a virtual machine's stolen time explains slow runs. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  /** Peak resident set of this process, in MiB (Linux `VmHWM`). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}
