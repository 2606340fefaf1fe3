package perfbench

import java.nio.file.{Files, Paths}

/** Computes the pinned (rows, hash) of every olap-mix and curation-mix
  * entry over a generated data directory, and dumps each entry's output as
  * parquet together with its oracle SQL so that `scripts/check.py DATA
  * --skip-verify --out=DUMP --only=q,d,n` can compare it against DuckDB
  * before the pins are committed.
  *
  *   perfbench.Pin DATA_DIR DUMP_DIR > perfbench/pins/sf<scale>.tsv */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, dump) = args
    val work = Paths.get(dump).toAbsolutePath.resolve("_work")
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    val all = graft.operators.Olap.queries ++ graft.operators.Dedup.queries ++
      graft.operators.Similarity.queries
    val entries = (Main.OlapEntries ++ Main.CurationEntries).map(n => n -> all(n)).toMap
    for ((name, build) <- entries.toSeq.sortBy(_._1)) {
      val df = build(spark, dataDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
      val r = Hashing.rowsAndHash(spark.read.parquet(s"$dump/$name")).collect().head
      val again = Hashing.rowsAndHash(build(spark, dataDir)).collect().head
      require(r == again, s"$name: the dumped output and a fresh run disagree")
      println(s"$name\t${r.getLong(0)}\t${Hashing.hashString(r.getLong(1), r.getLong(2))}")
    }
    val oracle = graft.SparkEntry.oracleSql.filter(kv => entries.contains(kv._1))
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
    Files.writeString(Paths.get(dump, "oracle_sql.json"), oracle)
    spark.stop()
  }
}
