package graft

import org.apache.spark.sql.SparkSession

/** Supplementary benchmark main (guide §1.4): times named SparkEntry
  * queries with REPEATS and a selectable action, in the same session shape
  * as [[Bench]]'s query leg. The frozen [[Bench]] methodology (one count()
  * per query, gc before each) stays the recorded artifact; this main exists
  * for optimization-round isolation work:
  *   - repeats separate one-time plan/codegen/JIT cost from steady-state;
  *   - BENCHX_ACTION=noop uses the noop sink (computes EVERY column of
  *     every row, no column pruning under count()) to time the full
  *     computation; =count matches the bench action.
  *
  * Usage: runMain graft.BenchExtra <repeats> <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCHX_ACTION (count|noop).
  * Emits one JSON line: {"metric":"bench_extra","action":...,
  * "samples":{"q":[s1,s2,...]},"failed":{"q":n}}. A repeat that throws is
  * counted in `failed` and never timed as a sample.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchExtra <repeats> <query>...")
    val repeats = args(0).toInt
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val action = sys.env.getOrElse("BENCHX_ACTION", "count")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same JIT/codegen warmup as the bench query leg
    try {
      SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001").count()
      SparkEntry.queries("q_dedup_exact")(spark, "/root/testdata/sf0.001").count()
    } catch { case _: Throwable => () }
    val runs = names.map { name =>
      val fn = SparkEntry.queries(name)
      val outcomes = (1 to repeats).map { _ =>
        System.gc(); Thread.sleep(200)
        spark.sparkContext.setJobDescription(s"bench-extra: $name")
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          if (action == "noop") df.write.format("noop").mode("overwrite").save()
          else { df.count(): Unit }
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case t: Throwable => System.err.println(s"[bench-extra] $name failed: $t"); None
        }
      }
      (name, outcomes.flatten, outcomes.count(_.isEmpty))
    }
    val samples = runs.map { case (n, ts, _) =>
      s""""$n":${ts.map(t => f"$t%.3f").mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val failed = runs.map { case (n, _, f) => s""""$n":$f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"bench_extra","action":"$action","sf":"$sfDir","samples":$samples,"failed":$failed}""")
  }
}
