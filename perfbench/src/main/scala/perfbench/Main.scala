package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: build a session, set up the workload's
  * inputs, warm up, run the measured pass, check the outputs, and write
  * one result record (plus the spans, when traced) for `run.py`.
  *
  * usage: Main <workload> <seed> <seconds> <trace 0|1> <runDir> <resultFile>
  *             <repoRoot> <testdataDir> <startEpochMs>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      runDir: Path, resultFile: Path, repoRoot: Path, testdata: String, startMs: Long)

  /** What one measured pass produced. `calls` are the wall times (s) of the
    * public calls the pass made; `layer` holds counters the workload kept
    * itself (stubs, reports); `traced` what a traced pass learned from Spark.
    * `check` verifies what the pass landed and returns (checks made, checks
    * failed, detail lines); it runs last, after any traced pass. */
  final case class Pass(runS: Double, calls: Seq[Double], attempted: Int, failed: Int,
      layer: Map[String, Double], traced: Option[Map[String, Double]],
      check: () => (Int, Int, Seq[String]))

  /** A workload: `setup` prepares inputs and warms up, `pass` runs the
    * measured work into a fresh output directory. */
  trait Workload {
    def setup(): Unit
    /** Set-up time spent repeating a step only to take its median; the
      * reported set-up time counts the step once, at its median. */
    def repeatedSetupS: Double = 0.0
    def pass(out: Path, tracer: Option[Tracer]): Pass
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toInt, args(3) == "1",
      Paths.get(args(4)), Paths.get(args(5)), Paths.get(args(6)), args(7), args(8).toLong)
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - o.startMs) / 1000.0
    val spans = new Spans
    val w: Workload = o.workload match {
      case "etl_backfill"  => new EtlBackfill(spark, o, spans)
      case "crawl_redrive" => new CrawlRedrive(spark, o, spans)
      case "query_catalog" => new QueryCatalog(spark, o, spans)
      case other => sys.error(s"unknown workload $other")
    }
    spans("setup")(w.setup())
    val setupS = (System.currentTimeMillis() - o.startMs) / 1000.0 - w.repeatedSetupS

    val cpu0 = cpuS()
    val untraced = w.pass(o.runDir.resolve("out"), None)
    val runCpuS = cpuS() - cpu0
    val traced =
      if (!o.trace) None
      else Some(w.pass(o.runDir.resolve("out_traced"), Some(new Tracer(spark, o, spans))))
    val rss = peakRssMb()
    val (checks, checkFails, detail) = spans("check")(untraced.check())
    val attempted = untraced.attempted + checks
    val failed = untraced.failed + checkFails

    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "run_s" -> (untraced.runS, "s"),
      "run_cpu_s" -> (runCpuS, "s"),
      "call_p50_s" -> (Stats.quantile(untraced.calls, 0.5), "s"),
      "call_p90_s" -> (Stats.quantile(untraced.calls, 0.9), "s"),
      "peak_rss_mb" -> (rss, "MB"))
    val layer: Map[String, Double] = traced.map { t =>
      untraced.layer ++ t.layer ++ t.traced.getOrElse(Map.empty) ++ Map(
        "trace.run_s" -> t.runS,
        "trace.overhead_s" -> (t.runS - untraced.runS),
        "trace.untraced_run_s" -> untraced.runS,
        "e2e.failed_ratio" -> failed.toDouble / attempted,
        "e2e.calls" -> untraced.calls.size.toDouble)
    }.getOrElse(Map.empty)
    val json = new StringBuilder
    json ++= s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"correct":${failed == 0},"""
    json ++= s""""attempted":$attempted,"failed":$failed,"""
    val slowest = spans.all.filter(_.parent != 0).sortBy(s => s.startMs - s.endMs).take(5)
      .map(s => f"${s.name} ${(s.endMs - s.startMs) / 1000.0}%.1f s").mkString(", ")
    json ++= s""""phases":${Json.str(f"session $sessionS%.1f s, set-up $setupS%.1f s; slowest spans: $slowest")},"""
    json ++= s""""calls":${untraced.calls.map(Json.num).mkString("[", ",", "]")},"""
    json ++= s""""detail":${detail.map(Json.str).mkString("[", ",", "]")},"""
    json ++= s""""e2e":${e2e.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")},"""
    json ++= s""""layer":${layer.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}}"""
    Files.writeString(o.resultFile, json.toString)
    if (o.trace) Files.writeString(o.runDir.resolve("spans.json"), spans.json)
    spark.stop()
  }

  def session(o: Opts): SparkSession = {
    // the cores run.py gives Spark; graft.Verify reads the same variable
    val cpus = sys.env("SPARK_GRAFT_CPUS").toInt
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", o.runDir.resolve("warehouse").toString)
      .config("spark.graft.artifacts.dir", o.runDir.resolve("artifacts").toString)
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** CPU time this JVM has used, all threads, in seconds. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
  }

  /** Wall seconds of `body`, with its value. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
