package graft

import org.apache.spark.sql.SparkSession

/** Repeated per-query timer for variant adjudication —
  * `runMain graft.QRepeat <sfDir> <n> <query>...` times each NAMED query
  * n times in one JVM (artifacts prebuilt first, same session config as
  * Bench) and prints every attempt plus min/median. Single QBench runs at
  * sf0.1 swing ±30% on this host (r15 measured the same HEAD at 3.3-5.4 s
  * for one query across three runs); a variant decision needs the
  * distribution, not a draw from it. */
object QRepeat {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (_, failed, wall) = Artifacts.prebuild(spark, sfDir)
    println(f"QREPEAT artifacts prebuilt in $wall%.2f s" +
      (if (failed.isEmpty) "" else s" (FAILED: ${failed.mkString(", ")})"))
    names.foreach { name =>
      // attempt 1 decomposed: builder (may run eager memoized artifact
      // work; build_jobs counts the Spark jobs it launched) / analysis+
      // optimization+physical planning / first execution (codegen compile
      // + run). Later attempts re-plan the same tree but hit the codegen
      // cache and any plan-canonical caches — the spread between exec1 and
      // min isolates what first-pass bench entries pay.
      val b0 = System.nanoTime()
      val (df, buildJobs) = JobCount(spark)(SparkEntry.queries(name)(spark, sfDir))
      val b1 = System.nanoTime()
      df.queryExecution.executedPlan
      val p1 = System.nanoTime()
      df.count()
      val e1 = System.nanoTime()
      val ts = ((e1 - b0) / 1e9) +: (2 to n).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = ts.sorted
      println(f"QREPEAT $name%-28s min ${sorted.head}%6.2f  " +
        f"med ${sorted(n / 2)}%6.2f  all ${ts.map(t => f"$t%.2f").mkString(" ")}" +
        f"  [build ${(b1 - b0) / 1e9}%.2f build_jobs $buildJobs " +
        f"plan ${(p1 - b1) / 1e9}%.2f " +
        f"exec1 ${(e1 - p1) / 1e9}%.2f]")
    }
    spark.stop()
  }
}
