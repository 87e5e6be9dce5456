package graft

import org.apache.spark.sql.SparkSessionExtensions

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects delta_r; registered function evaluates in SQL") {
    // Applying to a fresh extensions container must succeed (the
    // withExtensions path — a shared-JVM test cannot build a second
    // SparkContext, so the injection itself is exercised directly)...
    new GraftExtensions().apply(new SparkSessionExtensions)
    // ...and the same expression builder, wired into the active session's
    // registry, resolves and evaluates through SQL.
    graft.expressions.DeltaRExpr.register(spark)
    val r = spark.sql("SELECT delta_r(1.0, 3.14, 1.0, -3.14) AS dr").head().getDouble(0)
    assert(r < 0.01 && r > 0)
  }

  test("shared session carries the SessionTuning contract the bench and gate rely on") {
    val conf = spark.conf
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
