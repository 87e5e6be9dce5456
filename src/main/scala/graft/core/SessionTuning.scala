package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-wide session construction: ONE place for the static confs the
  * r13 profiling justified, so every session measures the same engine.
  * The driver-contract mains (`graft.Bench`, `graft.Verify`), the plan
  * audit (`graft.tools.PlanAudit`) and the shared test session build
  * through [[local]]; `perfbench.BenchMain` wraps its own builder in
  * [[tuned]].
  *
  * `spark.shuffle.sort.bypassMergeThreshold = 1` (r13, guide §2.2): with
  * R ≤ the default threshold (200), Spark's bypass shuffle writer opens
  * M·R files per exchange — and jstack sampling of the bench's iterative
  * queries (kmeans assign rounds, q172/q108) showed executor threads
  * dominated by `DiskBlockObjectWriter.open`/`copyFileStreamNIO`, ~10 ms
  * of filesystem overhead per file on this sandbox: a small exchange at
  * R=32 paid ~10 core-s in file churn regardless of bytes. Threshold 1
  * routes every shuffle through the serialized sort writer (ONE file +
  * index per map task — the same writer any R > 200 shuffle already
  * uses at scale), measured 4.1×/4.5×/4.2× on q172's three steady-state
  * Lloyd stages (16.4/13.0/11.5 → 4.0/2.9/2.7 core-s) and regression-free
  * on the large exchanges (q104/q46 unchanged within sd). Scale-honest:
  * production R exceeds 200 on any real cluster, where this conf is
  * inert — it only removes the small-R file-count cliff the local bench
  * (R = SPARK_GRAFT_CPUS) sits on.
  */
object SessionTuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", "1")

  /** A tuned `local[cpus]` builder with one shuffle partition per core,
    * UTC session time and the UI off; callers add only what is their own
    * (app name, warehouse dir) before `getOrCreate()`. */
  def local(cpus: String): SparkSession.Builder =
    tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
}
