package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Value-level pins for the §2.82 statistical keys beyond the DuckDB
  * oracle sweep: the flat-series edge the fixture never produces
  * (round-10 ADVICE low on agg_runs_test), and the Pythagorean-mean
  * ordering invariant that holds for free when the folds are right.
  */
class StatSpec extends SparkSpec {

  test("agg_runs_test: flat daily series has ZERO runs and null z") {
    import spark.implicits._
    // 4 days × identical (2 click + 1 purchase) volume → constant
    // daily total → the sign sequence is EMPTY: zero runs, not one
    // (the unguarded `changes + 1` would report 1).
    val dir = Files.createTempDirectory("graft-stat").toString
    val rows = for {
      d <- 1 to 4
      i <- 0 until 3
    } yield (f"2024-01-0$d%d 0$i%d:00:00",
      if (i == 0) "purchase" else "click", 1.0)
    rows.toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"),
        col("value"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_runs_test")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_plus") == 0L, s"n_plus: $r")
    assert(r.getAs[Long]("n_minus") == 0L, s"n_minus: $r")
    assert(r.getAs[Long]("n_runs") == 0L,
      s"flat series must report 0 runs: $r")
    assert(r.isNullAt(r.fieldIndex("z")), s"z must be null: $r")
  }

  test("agg_geo_harmonic_mean: AM >= GM >= HM per event type") {
    val rows =
      SparkEntry.queries("agg_geo_harmonic_mean")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getAs[Double]("geo_mean")
      val h = r.getAs[Double]("harm_mean")
      val a = r.getAs[Double]("arith_mean")
      // 4dp rounding can flip a true tie by ≤ 1e-4; anything larger
      // means a fold is wrong.
      assert(a >= g - 2e-4 && g >= h - 2e-4,
        s"AM >= GM >= HM violated: $r")
    }
  }

  test("eval_youden_threshold sweeps NaN and null scores as value DESC does") {
    import spark.implicits._
    // value DESC (Spark and DuckDB): NaN first, nulls last. Sweeping by
    // -value alone puts NaN last and nulls first, and picks NaN here.
    val dir = Files.createTempDirectory("graft-stat").toString
    Seq[(String, Option[Double])](("purchase", Some(Double.NaN)),
      ("view", Some(5.0)), ("purchase", Some(3.0)), ("view", Some(1.0)),
      ("view", None))
      .toDF("event_type", "value")
      .select(to_timestamp(lit("2024-01-01 00:00:00")).as("ts"),
        col("event_type"), col("value"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("eval_youden_threshold")(spark, dir)
      .collect()
    assert(out.length == 1)
    val r = out.head
    // Sweep NaN(p) 5(n) 3(p) 1(n) null(n): J = 1/2, 1/6, 2/3, 1/3, 0.
    assert(r.getAs[Double]("threshold") == 3.0, s"threshold: $r")
    assert(r.getAs[Long]("tp") == 2L && r.getAs[Long]("fp") == 1L, s"$r")
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 3L)
    assert(r.getAs[Double]("youden_j") == 0.6667, s"youden_j: $r")
  }
}
