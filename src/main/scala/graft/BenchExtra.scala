package graft

import org.apache.spark.sql.SparkSession

/** Supplementary benchmark main (guide §1.4) for optimization-round
  * isolation work on named SparkEntry queries, in the same session shape as
  * [[Bench]]'s query leg (local[SPARK_GRAFT_CPUS], 2×cores shuffle
  * partitions, FAIR). The frozen [[Bench]] methodology (one count() per
  * query, gc before each) stays the recorded artifact. Two modes:
  *
  * Timing — `BenchExtra <repeats> <query> [query ...]`:
  *   - repeats separate one-time plan/codegen/JIT cost from steady-state;
  *   - BENCHX_ACTION=noop uses the noop sink (computes EVERY column of
  *     every row, no column pruning under count()) to time the full
  *     computation; =count matches the bench action.
  * Emits one JSON line: {"metric":"bench_extra","action":...,
  * "samples":{"q":[s1,s2,...]},"failed":{"q":n}}. A repeat that throws is
  * counted in `failed` and never timed as a sample.
  *
  * Plan capture — `BenchExtra explain <outDir> <suffix> <query> [query ...]`:
  * writes each query's `explain("formatted")` output to
  * `<outDir>/<query>_<suffix>.txt`, so the captured plans are the benched
  * plans. The q_stream_* entries EXECUTE their drain while the query
  * function builds its result DataFrame — for those the captured plan is
  * the final read-back view.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCHX_ACTION (count|noop).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-bench-extra")
        .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.scheduler.mode", "FAIR")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }
    if (args.headOption.contains("explain")) {
      require(args.length >= 4, "usage: BenchExtra explain <outDir> <suffix> <query>...")
      explain(session(), sfDir, java.nio.file.Paths.get(args(1)), args(2), args.drop(3).toSeq)
    } else {
      require(args.length >= 2, "usage: BenchExtra <repeats> <query>...")
      time(session(), sfDir, args(0).toInt, args.drop(1).toSeq)
    }
  }

  private def explain(spark: SparkSession, sfDir: String, outDir: java.nio.file.Path,
                      suffix: String, names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
      System.err.println(s"[bench-extra] wrote ${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, repeats: Int, names: Seq[String]): Unit = {
    val action = sys.env.getOrElse("BENCHX_ACTION", "count")
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
