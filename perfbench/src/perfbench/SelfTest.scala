package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own accounting, run by
  * `python3 -m unittest discover -s perfbench` (which starts this main with
  * a 2 s watchdog and the sample file as its argument). Exits non-zero on
  * the first failed check. */
object SelfTest {
  private var checks = 0
  private def check(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    println(s"ok: $what")
  }

  def main(args: Array[String]): Unit = {
    require(graft.Guard.timeoutSec <= 5, "run with SPARK_GRAFT_QUERY_TIMEOUT_SEC=2")
    val spark = Runner.session("2")
    import spark.implicits._
    val base = Seq(
      (1L, 1.5, "a", Seq(1, 2), Map("k" -> 1)),
      (2L, -0.25, "b", Seq(3), Map("k" -> 2)),
      (3L, 7.0, null, Seq.empty[Int], Map.empty[String, Int]),
      (4L, 7.0, "d", Seq(4, 5), Map("x" -> 9)))
    val df = base.toDF("id", "v", "s", "arr", "m")
    val d0 = Digest.of(df)

    check(Digest.of(base.reverse.toDF("id", "v", "s", "arr", "m")) == d0,
      "digest ignores row order")
    check(Digest.of(df.repartition(3)) == d0, "digest ignores partitioning")
    check(Digest.rows(d0) == 4L, "digest carries the row count")
    val mutations: Seq[(String, DataFrame)] = Seq(
      "id" -> df.withColumn("id", when($"id" === 2L, 20L).otherwise($"id")),
      "v" -> df.withColumn("v", when($"id" === 2L, -0.5).otherwise($"v")),
      "s" -> df.withColumn("s", when($"id" === 3L, lit("c")).otherwise($"s")),
      "arr" -> df.withColumn("arr", when($"id" === 1L, array(lit(2), lit(1))).otherwise($"arr")),
      "m" -> df.withColumn("m", when($"id" === 4L, map(lit("x"), lit(8))).otherwise($"m")))
    mutations.foreach { case (c, m) =>
      check(Digest.of(m) != d0, s"digest changes when one value of column $c changes")
    }
    check(Digest.of(df.limit(3)) != d0, "digest changes when a row is dropped")
    check(Digest.of(df.union(df.limit(1))) != d0, "digest changes when a row repeats")
    check(Digest.of(df.select($"id", $"id")) == Digest.of(df.select($"id", $"id".as("x"))),
      "digest accepts repeated column names")

    val right = Some(Expected(d0, exact = true))
    def run(fn: (SparkSession, String) => DataFrame, exp: Option[Expected]) =
      Accounting.runQuery(spark, "selftest", fn, "", exp, 0)
    val outcomes = Seq(
      run((_, _) => df, right),
      run((_, _) => throw new IllegalStateException("boom"), right),
      run((_, _) => { Thread.sleep(10000); df }, right),
      run((_, _) => df.limit(3), right),
      run((_, _) => df.limit(3).union(df.limit(1)).withColumn("v", $"v" + 1), right.map(_.copy(exact = false))),
      run((_, _) => df, None))
    check(outcomes.map(_.outcome) == Seq("ok", "error", "timeout", "wrong", "ok", "wrong"),
      s"outcomes ok/error/timeout/wrong/rows-only ok/no-reference: ${outcomes.map(_.outcome)}")
    check(outcomes.count(_.failed) == 4, "each failure counts exactly once")
    check(outcomes.forall(s => s.wallS >= s.frameS && s.frameS >= 0 && s.actionS >= 0),
      "wall covers frame and action")

    val names = graft.SparkEntry.queries.keys
    val byWorkload = Workloads.all(names)
    check(byWorkload.values.map(_.size).sum == names.size &&
      byWorkload.values.flatten.toSet == names.toSet, "every query is in exactly one workload")
    byWorkload.foreach { case (w, mix) =>
      val sample = Workloads.sample(args(0), w)
      check(sample.forall(mix.contains) &&
        sample.map(Workloads.family).sorted == mix.map(Workloads.family).distinct.sorted,
        s"the $w sample holds one query of every family of its mix")
    }
    spark.stop()
    println(s"$checks checks passed")
  }
}
