package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM runs one workload once.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir> --shuffle <n>`. The last stdout line is the result JSON
  * (`correct`, `attempted`, `failed`, `metrics`); the line before it holds
  * the run record (seed, versions, disk probe, sample counts).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, data: Path, shuffle: Int)

  /** Spark parallelism of every measured run. */
  val Cores = 4

  private val t0 = System.nanoTime()

  /** Progress note on stderr (stdout carries only the record and result). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("work")), Paths.get(kv("data")), kv("shuffle").toInt)
    Files.createDirectories(a.work)
    val run: (SparkSession, Args) => Report = a.workload match {
      case "backfill_hotkey" => Workloads.backfillHotkey
      case "neardup_docs" => Workloads.neardupDocs
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val spark = session(a, Cores)
    log("session up")
    val report = run(spark, a)
    log("workload done")
    Layers.finish(report, a)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    log("session stopped")
    println(report.recordJson(a, nproc = Runtime.getRuntime.availableProcessors()))
    println(report.resultJson(a.trace))
  }

  def session(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.shuffle.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What one run measured. `e2e` and `layers` map metric name to
  * (value, unit); `record` holds the run's facts (sample counts etc.).
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val layers = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val record = scala.collection.mutable.LinkedHashMap[String, String]()
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  /** Counts one checked operation; a failed check records its reason. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def resultJson(trace: Boolean): String = {
    val correct = failed == 0 && attempted > 0
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1L)}, "failed": $failed, """ +
      s""""metrics": ${metricsJson(if (trace) layers else e2e)}}"""
  }

  def recordJson(a: Main.Args, nproc: Int): String = {
    val fields = Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> a.trace.toString, "nproc" -> nproc.toString,
      "spark_cores" -> Main.Cores.toString, "shuffle_partitions" -> a.shuffle.toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown")) ++ record ++
      failures.take(5).zipWithIndex.map { case (f, i) => s"failure_$i" -> f }
    fields.map { case (k, v) => s""""$k": "${v.replace("\\", "\\\\").replace("\"", "'")}"""" }
      .mkString("{\"run\": {", ", ", "}}")
  }
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
