package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.AnalysisConfig
import graft.flow._
import graft.physics.{Event, EventGen, ZMuMuAnalysis}

/** Operation and output-check bookkeeping shared by every workload. An
  * operation is a query or a sample pass; each failed operation and each
  * failed output check counts once in `failed`. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$what failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failed += 1; problems += s"check failed: $what" }
}

object Digest {
  private def fmt(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.9g"
    case r: Row => r.toSeq.map(fmt).mkString("{", ",", "}")
    case other => other.toString
  }

  /** Order-independent digest of a result: rows formatted with doubles at 9
    * significant digits, sorted, then hashed. */
  def apply(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(fmt).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

trait Workload {
  val outcomes = new Outcomes
  /** Generates the inputs, or reuses them. */
  def prepare(spark: SparkSession): Unit = ()
  /** The untimed warm-up pass that ends set-up. */
  def warmUp(spark: SparkSession): Unit = pass(spark, Tracer.off)
  /** One timed pass. */
  def pass(spark: SparkSession, t: Tracer): Unit
  /** Output checks after a pass, outside the timed region. */
  def check(spark: SparkSession): Unit
  /** Seconds per noop-forced prefix of the pipeline, for the layer split. */
  def prefixes(spark: SparkSession): Map[String, Double] = Map.empty
  /** Work counts for the per-layer report. */
  def counts: Map[String, Any] = Map.empty
  /** Further raw fields for the checks made after the JVM exits. */
  def extras: Map[String, Any] = Map.empty

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The paper's main flow: a two-sample YAML config, one ZMuMu pass per
  * sample through SampleRunner, then the counter read and post-processing. */
final class ZMuMuSamples(seed: Long, n: Long, dataDir: String, workDir: String) extends Workload {
  private var cfg: AnalysisConfig = _
  private val out = s"$workDir/zmumu"
  private var counters = Map.empty[String, Long]
  private var stacked = Array.empty[Row]
  private var histN = 0L
  private var digest: Option[String] = None

  /** Sample i is `n` events from `EventGen.event` at a seed-derived id
    * offset. A sample directory is reused when Spark's `_SUCCESS` marker
    * shows it was written completely for the same (seed, n). */
  private def sample(spark: SparkSession, i: Int): String = {
    val path = s"$dataDir/events-s$seed-n$n-$i"
    if (!new java.io.File(path, "_SUCCESS").isFile) {
      val offset = (seed % 100000L) * 10000000000L + i * n
      spark.range(0L, n, 1L, 16)
        .map(id => EventGen.event(offset + id))(Encoders.product[Event])
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  override def prepare(spark: SparkSession): Unit = {
    val Seq(tt, dy) = (0 until 2).map(sample(spark, _))
    cfg = AnalysisConfig.fromYamlString(
      s"""tree: events
         |eras:
         |  HL-LHC:
         |    luminosity: 3000000
         |samples:
         |  TT:
         |    era: HL-LHC
         |    type: MC
         |    group: Top
         |    files: ["$tt"]
         |    generated-events: $n
         |    cross-section: 950
         |  DY:
         |    era: HL-LHC
         |    type: MC
         |    group: DrellYan
         |    files: ["$dy"]
         |    generated-events: $n
         |    cross-section: 5620
         |""".stripMargin)
  }

  def pass(spark: SparkSession, t: Tracer): Unit = {
    cfg.samples.foreach { s =>
      outcomes.op(s"runSample ${s.name}") {
        t("flow.run_sample") {
          SampleRunner.runSample(spark, spark.read.parquet(s.files: _*), ZMuMuAnalysis, out, s)
        }
      }
    }
    outcomes.op("readCounters + postProcess") {
      counters = t("flow.read_counters") {
        cfg.samples.map(s => s.name -> SampleRunner.readCounters(spark, out, s.name)).toMap
      }
      stacked = t("flow.post_process") { SampleRunner.postProcess(spark, cfg, out).collect() }
    }
  }

  def check(spark: SparkSession): Unit = {
    val chain = ZMuMuAnalysis.selections()._2.map(_.name)
    val rows = mutable.ArrayBuffer.empty[Row]
    histN = 0L
    cfg.samples.foreach { s =>
      val dir = s"$out/results/${s.name}"
      val cutflow = spark.read.parquet(s"$dir/cutflow").collect()
      val cf = cutflow.map(r => r.getString(0) -> r.getLong(1)).toMap
      outcomes.expect(s"${s.name}: noSel cutflow row equals events written", cf.get("noSel").contains(n))
      outcomes.expect(s"${s.name}: counter sidecar equals events written", counters.get(s.name).contains(n))
      val ns = chain.map(cf.getOrElse(_, 0L))
      outcomes.expect(s"${s.name}: cutflow n never increases along the chain",
        ns.zip(ns.tail).forall { case (a, b) => a >= b })
      val hists = spark.read.parquet(s"$dir/histograms").collect()
      histN += hists.map(_.getAs[Long]("n")).sum
      def metSumw(rs: Array[Row]) =
        rs.filter(_.getAs[String]("plot") == "METptNoSel").map(_.getAs[Double]("sumw")).sum
      val expected = metSumw(hists) * cfg.scaleFor(s)
      val got = metSumw(stacked.filter(_.getAs[String]("group") == s.group))
      outcomes.expect(s"${s.name}: stacked METptNoSel sumw equals raw x scaleFor",
        expected > 0 && math.abs(got - expected) <= 1e-9 * math.abs(expected))
      rows ++= hists.map(r => Row.fromSeq(s.name +: r.toSeq)) ++ cutflow.map(r => Row.fromSeq(s.name +: r.toSeq))
    }
    val d = Digest(rows.toSeq)
    digest.foreach(prev => outcomes.expect("histogram + cutflow digest stable across passes", prev == d))
    digest = Some(d)
  }

  /** Per sample, summed: the frame build (driver), then the scan, object,
    * flag and histogram prefixes of the pass, each forced through the noop
    * sink, and the cutflow on its own over the same flags. The cutflow is
    * SampleRunner's: one single-bin pseudo-plot per selection node. */
  override def prefixes(spark: SparkSession): Map[String, Double] = {
    def timed(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val (noSel, chain) = ZMuMuAnalysis.selections()
    val plots = ZMuMuAnalysis.plots(noSel, chain)
    val cutflow = chain.map(s => Plot("__cutflow__" + s.name, lit(0.5), s, EquidistantBinning(1, 0, 1)))
    cfg.samples.map { s =>
      val events = spark.read.parquet(s.files: _*)
      var objs: DataFrame = null
      val build = timed {
        objs = ZMuMuAnalysis.withObjects(events)
        HistogramPass.run(objs, plots ++ cutflow)
      }
      Map(
        "build" -> build,
        "scan" -> timed(noop(events)),
        "objects" -> timed(noop(objs)),
        "flags" -> timed(noop(SelectionFlow.withFlags(objs, plots.map(_.selection)))),
        "histpass" -> timed(noop(HistogramPass.run(objs, plots))),
        "cutflow" -> timed(noop(HistogramPass.run(objs, cutflow))))
    }.reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
  }

  override def counts: Map[String, Any] = {
    val (noSel, chain) = ZMuMuAnalysis.selections()
    val plots = ZMuMuAnalysis.plots(noSel, chain)
    Map("plots" -> plots.size, "selections" -> SelectionFlow.nodes(chain).size,
      "hist_entries" -> histN, "events" -> 2 * n)
  }

  override def extras: Map[String, Any] = digest.map("digest" -> _).toMap
}

/** Headline operator queries, once each per pass, through the noop sink.
  * Every query here has a DuckDB oracle, which checks the results. */
final class OpsSuite(dir: String, workDir: String) extends Workload {
  private val headline = {
    val oracle = SparkEntry.oracleSql
    val defs = SparkEntry.allDefs.filter(q =>
      q.headline && oracle.contains(q.name) && OpsSuite.queries.contains(q.name))
    require(defs.size == OpsSuite.queries.size,
      s"headline queries with an oracle not found: ${OpsSuite.queries.diff(defs.map(_.name))}")
    defs
  }
  private val out = s"$workDir/ops"

  /** Operator module that declares the query, from its build closure's class. */
  private def module(q: graft.core.QueryDef): String =
    q.build.getClass.getName.stripPrefix("graft.operators.").takeWhile(_ != '$')

  /** The first warm-up writes every result for the oracle comparison; later
    * ones run through the noop sink like a timed pass. */
  private var written = false
  override def warmUp(spark: SparkSession): Unit =
    if (written) pass(spark, Tracer.off)
    else {
      headline.foreach { q =>
        outcomes.op(q.name) {
          q.build(spark, dir).write.mode("overwrite").parquet(s"$out/${q.name}")
        }
      }
      written = true
    }

  def pass(spark: SparkSession, t: Tracer): Unit =
    headline.foreach { q =>
      outcomes.op(q.name) {
        t(s"operators.${module(q)}") { noop(t("driver.build") { q.build(spark, dir) }) }
      }
    }

  def check(spark: SparkSession): Unit = ()

  override def extras: Map[String, Any] = {
    val sql = SparkEntry.oracleSql
    Map("oracle_sql" -> headline.map(q => q.name -> sql(q.name)).toMap, "results_dir" -> out)
  }

  override def counts: Map[String, Any] =
    Map("queries" -> headline.size, "modules" -> headline.map(module).distinct.sorted)
}

object OpsSuite {
  /** The cheapest oracle-checked headline query of each of ten operator
    * modules. A pass over all 30 headline queries takes 25-33 s on 4 cores
    * even at sf 0.005 (about 300 Spark jobs), too long to repeat within a
    * run; Graph, Pq and Fuzzy, whose headline queries take 1.6-3 s each,
    * are left out for the same reason. */
  val queries: Seq[String] = Seq(
    "q06_selective_agg", "q23_percentiles", "q30_histogram_pass", "q40_text_stats",
    "q133_cdc_chunk_dedup", "q49_cosine_topk", "q51_window_tumbling", "q27_asof_join",
    "q204_growth_accounting", "q124_heavy_hitters")
}
