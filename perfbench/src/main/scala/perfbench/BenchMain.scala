package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import graft.core.SessionTuning
import graft.tools.HostLoad

/** One benchmark run in one JVM: set-up rounds, then timed passes for
  * `--seconds`, with output checks between passes. Writes the raw samples
  * as JSON to `--out`; `perfbench/run.py` turns them into metrics.
  *
  * Arguments: --workload zmumu_samples|ops_suite --seed N
  * --seconds S --trace 0|1 --setups R --cpus N --work DIR --out FILE, plus
  * --size EVENTS --data DIR (zmumu_samples) or --tables DIR (ops_suite).
  *
  * Set-up round = session start (with SessionTuning) + one warm-up pass;
  * the last round's session runs the timed passes. With --trace 1 each
  * timed iteration runs an untraced pass, the noop-forced pipeline prefixes
  * (physics), and a pass with spans and Spark listeners on. */
object BenchMain {

  def session(cpus: Int, work: String): SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9

  /** CPU time of the whole JVM (all threads), which hypervisor steal does
    * not inflate. */
  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val setups = a("setups").toInt
    val work = a("work")
    val w: Workload = name match {
      case "zmumu_samples" => new ZMuMuSamples(seed, a("size").toLong, a("data"), work)
      case "ops_suite" => new OpsSuite(a("tables"), work)
      case other => sys.error(s"unknown workload $other")
    }
    val load1Start = HostLoad.load1

    // Set-up rounds; input generation (round 1 only) is outside the timer.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var genS = 0.0
    var spark: SparkSession = null
    for (round <- 1 to setups) {
      val t0 = now
      spark = session(cpus, work)
      val sessionS = secs(t0)
      if (round == 1) {
        val g0 = now
        w.prepare(spark)
        genS = secs(g0)
      }
      val w0 = now
      w.warmUp(spark)
      setupS += sessionS + secs(w0)
      w.check(spark)
      if (round < setups) spark.stop()
    }

    // Timed region.
    val passS = mutable.ArrayBuffer.empty[Double]
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val prefixes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val listener = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer(true)
    val probe = new SparkProbe
    if (trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    if (trace) w.prefixes(spark) // compiles the prefix plans before they are timed
    val j0 = HostLoad.cpuJiffies()
    val start = now
    while (passS.isEmpty || secs(start) < seconds) {
      val p0 = now
      val c0 = cpuNanos
      w.pass(spark, Tracer.off)
      passS += secs(p0)
      passCpuS += (cpuNanos - c0) / 1e9
      w.check(spark)
      if (trace) {
        val pre = w.prefixes(spark)
        if (pre.nonEmpty) prefixes += pre
        probe.on = true
        val t0 = now
        tracer("pass") { w.pass(spark, tracer) }
        tracedS += secs(t0)
        PerfbenchBus.drain(spark.sparkContext)
        probe.on = false
        listener += probe.take()
        w.check(spark)
      }
    }
    val j1 = HostLoad.cpuJiffies()
    val stealPct = 100.0 * (j1._1 - j0._1).max(0L) / (j1._2 - j0._2).max(1L)
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS.toSeq, "pass_s" -> passS.toSeq, "pass_cpu_s" -> passCpuS.toSeq, "gen_s" -> genS,
      "attempted" -> w.outcomes.attempted, "failed" -> w.outcomes.failed,
      "problems" -> w.outcomes.problems.toSeq,
      "peak_rss_kb" -> peakRssKb,
      "load1_start" -> load1Start, "load1_end" -> HostLoad.load1, "steal_pct" -> stealPct,
      "counts" -> w.counts) ++ w.extras
    if (trace) {
      result("traced_pass_s") = tracedS.toSeq
      result("spans") = tracer.toJson
      result("prefix_s") = prefixes.toSeq
      result("listener") = listener.toSeq
    }
    Files.write(Paths.get(a("out")), Json(result).getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the raw result. */
object Json {
  private def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
