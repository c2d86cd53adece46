package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark-local fixture queries for the harness tests
  * (`tests/test_harness.py`); they run through the same registry
  * interface as `graft.SparkEntry.queries`. */
object Fixtures {
  /** Cost of the slow projection, per row. */
  val SlowRowMs = 4L
  val SlowRows = 250L

  /** Deterministic but deliberately slow: `count()` prunes it away, the
    * digest cannot. */
  private val slow = udf { (x: Long) => Thread.sleep(SlowRowMs); x * 31 + 7 }

  private var calls = 0L

  private def base(s: SparkSession, n: Long): DataFrame =
    s.range(0, n, 1, 1).toDF("id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fx_slow_projection" -> ((s, _) =>
      base(s, SlowRows).select(col("id"), slow(col("id")).as("v"))),
    // what a bare count() computes: the slow column is pruned away
    "fx_slow_projection_counted" -> ((s, _) =>
      base(s, SlowRows).select(col("id"), slow(col("id")).as("v")).groupBy().count()),
    "fx_values" -> ((s, _) =>
      base(s, 100).select(col("id"), (col("id") * 3).as("v"),
        map(lit("k"), col("id")).as("m"))),
    // fx_values with exactly one output value changed
    "fx_values_one_changed" -> ((s, _) =>
      base(s, 100).select(col("id"),
        when(col("id") === 42, lit(-1L)).otherwise(col("id") * 3).as("v"),
        map(lit("k"), col("id")).as("m"))),
    "fx_throw" -> ((_, _) => throw new IllegalStateException("fixture failure")),
    // a different result on every call: a digest that is not stable
    "fx_unstable" -> ((s, _) => {
      calls += 1
      base(s, 10).select((col("id") + calls).as("v"))
    }),
    "fx_ok" -> ((s, _) => base(s, 1000).groupBy((col("id") % 7).as("k"))
      .agg(sum(col("id")).as("s"))))
}
