package graft

import graft.operators.{Dedup, Olap, Similarity}

/** Query builders are job-free once warm: after one build has filled the
  * session's memos (schemas, artifacts, bounded driver-side model state),
  * building the same entry again launches no Spark job — all work waits
  * for the caller's action. */
class BuilderJobSpec extends SparkSpec {

  val d = sf("sf0.001")

  for ((name, build) <- (Dedup.queries ++ Similarity.queries ++ Olap.queries).toSeq.sortBy(_._1))
    test(s"$name: a warm build launches no Spark job") {
      build(spark, d)
      val (_, jobs) = JobCount(spark)(build(spark, d))
      assert(jobs === 0, s"$name's warm build launched $jobs Spark job(s)")
    }
}
