package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** The benchmark's JVM side: sets up a session, runs one workload
  * closed-loop from one client thread for the requested seconds, checks
  * every op's output, and prints one `PERFBENCH {json}` line with the
  * measured metrics.
  *
  *   perfbench.Main --workload olap-mix|etl-upsert|curation-mix --seed N
  *     --seconds S --trace 0|1 --data DIR --pins FILE --work DIR
  *     --spans FILE [--plant none|hash|sum]
  *
  * With `--trace 1` the timed passes alternate untraced and traced; the
  * per-layer metrics come from the traced passes and the latency ratio of
  * the two kinds is reported as the tracing overhead. */
object Main {
  final case class Rec(name: String, sec: Double, out: Outcome, traced: Boolean, op: Int)

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", graft.Scratch.localDir)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.bench", "graft.sources.JsonlCatalog")
      .config("spark.sql.catalog.bench.warehouse", work.resolve("lake").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val plant = a.getOrElse("plant", "none")
    val dataDir = a("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    /** A query mix over the named entries; `--plant hash` corrupts the
      * pinned hash of its first entry. */
    def mix(all: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
        names: Seq[String], prereq: (SparkSession, String) => Map[String, Double]): Workload = {
      val pins = Pins.load(Paths.get(a("pins")))
      val planted =
        if (plant == "hash") pins.updated(names.head, (pins(names.head)._1, "0-0")) else pins
      new QueryMix(names.map(n => n -> all(n)), dataDir, planted, seed, prereq)
    }
    val workload: Workload = workloadName match {
      case "olap-mix" => mix(graft.operators.Olap.queries, OlapEntries, (_, _) => Map.empty)
      case "curation-mix" =>
        mix(graft.operators.Dedup.queries ++ graft.operators.Similarity.queries,
          CurationEntries, prebuild(_, _, cpus))
      case "etl-upsert" => new EtlUpsert(seed, work, plant == "sum")
      case other => sys.error(s"unknown workload $other")
    }

    var opCounter = 0
    def runOp(spark: SparkSession, spec: OpSpec, tracer: Option[Tracer]): Rec = {
      spec.before()
      opCounter += 1
      val op = opCounter
      tracer.foreach(_.beginOp(op))
      val ctx = new OpCtx(spark, op, tracer)
      val t0 = System.nanoTime()
      val out =
        try tracer.fold(spec.run(ctx))(_.span(op, "op")(spec.run(ctx)))
        catch { case e: Throwable => Outcome(ok = false, s"${spec.name} threw: $e", 0L) }
      val sec = (System.nanoTime() - t0) / 1e9
      tracer.foreach { t => t.endOp(op); spec.after(ctx) }
      if (!out.ok) System.err.println(s"[perfbench] FAILED ${out.detail}")
      Rec(spec.name, sec, out, tracer.isDefined, op)
    }

    // --- set-up: session start + prerequisites + untimed warm-up passes -----
    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val prereq = workload.prepare(spark)
    val warm = for (p <- 1 to workload.warmupPasses; spec <- workload.pass(-p))
      yield runOp(spark, spec, None)
    val firstPass = mutable.LinkedHashMap.empty[String, Double]
    warm.foreach(r => firstPass.getOrElseUpdate(r.name, r.sec))
    val setupS = (System.nanoTime() - t0) / 1e9
    val codegenSetup = ((CodeGenerator.compileTime - cg0._1) / 1e9,
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2).toDouble)

    // --- timed phase: whole passes until the seconds are used ---------------
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val recs = mutable.ArrayBuffer.empty[Rec]
    val tStart = System.nanoTime()
    var pass = 0
    // a traced run needs an untraced and a traced pass at least
    while ((System.nanoTime() - tStart) / 1e9 < seconds || (trace && pass < 2)) {
      val traced = tracer.filter(_ => pass % 2 == 1)
      workload.pass(pass).foreach(spec => recs += runOp(spark, spec, traced))
      pass += 1
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    tracer.foreach(_.drain())
    val finish = workload.finish(spark)

    // --- end-to-end metrics, from the untraced ops ---------------------------
    val plain = recs.filterNot(_.traced).toSeq
    val lat = plain.map(_.sec)
    // every op's output is checked, the warm-up's too
    val checked = warm ++ recs
    val failed = checked.count(!_.out.ok)
    def part(name: String) = plain.flatMap(_.out.parts.get(name))
    val opSum = lat.sum
    val e2e = mutable.LinkedHashMap[String, (Double, String, Int)](
      "setup_s" -> (setupS, "s", 1),
      "op_p50_s" -> (median(lat), "s", lat.size),
      "op_p90_s" -> (percentile(lat, 0.9), "s", lat.size),
      "ops_per_s" -> (lat.size / opSum, "1/s", lat.size),
      "failed_frac" -> (failed.toDouble / checked.size, "fraction", checked.size),
      "rss_peak_mb" -> (vmHwmMb(), "MB", 1))
    if (workloadName == "etl-upsert") {
      val w = part("write"); val r = part("read")
      e2e ++= Seq(
        "write_p50_s" -> (median(w), "s", w.size), "write_p90_s" -> (percentile(w, 0.9), "s", w.size),
        "read_p50_s" -> (median(r), "s", r.size), "read_p90_s" -> (percentile(r, 0.9), "s", r.size),
        "rows_per_s" -> (plain.map(_.out.committedRows).sum / opSum, "rows/s", plain.size),
        "lake_bytes_per_row" -> (finish("lake.table_bytes") / finish("lake.live_rows"), "B/row", 1))
    }

    // --- per-layer metrics, from the traced ops ------------------------------
    val layers = mutable.LinkedHashMap.empty[String, Double]
    tracer.foreach { t =>
      val traced = recs.filter(_.traced).toSeq
      val n = math.max(1, traced.size).toDouble
      val sums = traced.map(r => t.sumsFor(r.op))
      val spans = traced.map(r => t.spansFor(r.op))
      def per(f: TaskSums => Double) = sums.map(f).sum / n
      def phase(k: String) = traced.map(r => t.phase(r.op, k)).sum / n
      def spanS(name: String) = spans.map(_.filter(_.name == name).map(_.durS).sum).sum / n
      val selfT = spans.map(Tracer.selfTimes)
      val wall = traced.map(_.sec).sum
      val driverS = spans.map { ss =>
        ss.find(_.name == "op").map { root =>
          root.durS - Tracer.covered(root.startMs, root.endMs,
            ss.filter(_.name == "job").map(j => (j.startMs, j.endMs))) / 1000.0
        }.getOrElse(0.0)
      }.sum / n
      val resultRows = traced.map(_.out.resultRows).sum.toDouble
      // first warm-up time over the warm median, per entry
      val ratios = firstPass.toSeq.flatMap { case (name, first) =>
        val warm = plain.filter(_.name == name).map(_.sec)
        if (warm.isEmpty) None else Some(first / median(warm))
      }
      val overhead = {
        val byName = recs.groupBy(_.name).values.flatMap { rs =>
          val (tr, un) = rs.partition(_.traced)
          if (tr.isEmpty || un.isEmpty) None
          else Some(median(tr.map(_.sec).toSeq) / median(un.map(_.sec).toSeq))
        }
        if (byName.isEmpty) 0.0 else math.exp(byName.map(math.log).sum / byName.size) - 1
      }
      val bytesWritten = phase("lake.bytes_written")
      val deltaBytes = phase("lake.delta_bytes")
      layers ++= Seq(
        "session.start_s" -> sessionS,
        "artifacts.wall_s" -> prereq.getOrElse("artifacts.wall_s", 0.0),
        "artifacts.sum_s" -> prereq.getOrElse("artifacts.sum_s", 0.0),
        "artifacts.parallelism" -> prereq.getOrElse("artifacts.parallelism", 0.0),
        "artifacts.pole_s" -> prereq.getOrElse("artifacts.pole_s", 0.0),
        "artifacts.failed" -> prereq.getOrElse("artifacts.failed", 0.0),
        "memo.first_over_warm_max" -> (if (ratios.isEmpty) 0.0 else ratios.max),
        "memo.first_over_warm_geo" ->
          (if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size)),
        "builder.s" -> spanS("builder"),
        "catalyst.analysis_s" -> phase("catalyst.analysis_s"),
        "catalyst.optimization_s" -> phase("catalyst.optimization_s"),
        "catalyst.planning_s" -> phase("catalyst.planning_s"),
        "codegen.compile_s" -> phase("codegen.compile_s"),
        "codegen.classes" -> phase("codegen.classes"),
        "codegen.setup_compile_s" -> codegenSetup._1,
        "codegen.setup_classes" -> codegenSetup._2,
        "exec.jobs" -> per(_.jobs.toDouble),
        "exec.stages" -> per(_.stages.toDouble),
        "exec.tasks" -> per(_.tasks.toDouble),
        "exec.cpu_s" -> per(_.cpuNs / 1e9),
        "exec.run_s" -> per(_.runMs / 1e3),
        "exec.gc_s" -> per(_.gcMs / 1e3),
        "exec.busy_frac" -> (if (wall > 0) sums.map(_.runMs / 1e3).sum / (wall * cpus) else 0.0),
        "exec.driver_s" -> driverS,
        "shuffle.write_mb" -> per(_.shuffleWrite / 1048576.0),
        "shuffle.read_mb" -> per(_.shuffleRead / 1048576.0),
        "shuffle.fetch_wait_s" -> per(_.fetchWaitMs / 1e3),
        "spill.mb" -> per(_.spill / 1048576.0),
        "scan.input_mb" -> per(_.inputBytes / 1048576.0),
        "scan.input_rows" -> per(_.inputRows.toDouble),
        "scan.rows_per_result_row" ->
          (if (resultRows > 0) sums.map(_.inputRows.toDouble).sum / resultRows else 0.0),
        "lake.commit_s" -> spanS("merge"),
        "lake.files_added" -> phase("lake.files_added"),
        "lake.files_live" -> finish.getOrElse("lake.files_live", 0.0),
        "lake.bytes_written_per_commit" -> bytesWritten,
        "lake.write_amp" -> (if (deltaBytes > 0) bytesWritten / deltaBytes else 0.0),
        "ingest.enrich_s" -> spanS("enrich"),
        "ingest.rows_in" -> phase("ingest.rows_in"),
        "ingest.rows_rejected" -> phase("ingest.rows_rejected"),
        "ingest.fact_rows" -> phase("ingest.fact_rows"),
        "trace.overhead_frac" -> overhead,
        "trace.ops" -> traced.size.toDouble)
      for (s <- Seq("op", "builder", "plan", "execute", "enrich", "merge", "read", "job"))
        layers(s"self.${s}_s") = selfT.map(_.getOrElse(s, 0.0)).sum / n
      t.dump(Paths.get(a("spans")))
    }
    val notes = workload.notes ++ artifactTimes.sortBy(-_._2).map { case (n, t) =>
      f"artifact $n: $t%.3f s" }

    spark.stop()
    import Json._
    val out = obj(
      "workload" -> str(workloadName), "seed" -> num(seed), "seconds" -> num(seconds),
      "trace" -> num(if (trace) 1 else 0), "timed_s" -> num(timedS), "passes" -> num(pass),
      "attempted" -> num(checked.size), "failed" -> num(failed),
      "failures" -> arr(checked.filterNot(_.out.ok).take(5).map(r => str(r.out.detail))),
      "e2e" -> obj(e2e.toSeq.map { case (k, (v, u, n)) =>
        k -> obj("value" -> num(v), "unit" -> str(u), "n" -> num(n)) }: _*),
      "layers" -> obj(layers.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "entries" -> obj(plain.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
        n -> obj("first_s" -> num(firstPass.getOrElse(n, 0.0)),
          "warm_p50_s" -> num(median(rs.map(_.sec))), "n" -> num(rs.size)) }: _*),
      "jvm" -> obj("cpus" -> num(cpus), "xmx_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
        "java" -> str(System.getProperty("java.version")),
        "spark" -> str(org.apache.spark.SPARK_VERSION)),
      "notes" -> arr(notes.map(str)))
    println("PERFBENCH " + out)
  }

  /** olap-mix: the reference's ten OLAP reports (Q1-Q10). */
  val OlapEntries: Seq[String] = Seq("q01_top5_products", "q02_quarterly_growth",
    "q03_supplier_contribution", "q04_seasonal_sales", "q05_monthly_volatility",
    "q06_basket_affinity", "q07_rollup_sales", "q08_halfyear_sales", "q09_daily_spikes",
    "q10_quarterly_view")

  /** curation-mix: entries that between them run the minhash, simhash,
    * hyperplane-LSH, cosine, product-quantisation (L2) and top-k kernels and
    * the columnar-cosine rewrite, and read the dedup and PQ-index
    * artifacts. n02 and n04 keep first-touch fills outside the pre-build. */
  val CurationEntries: Seq[String] = Seq("d03_minhash_lsh", "d04_simhash",
    "d06_embedding_neardup_lsh", "d07_dedup_clusters", "n01_ann_brute_topk",
    "n02_ann_lsh_topk", "n04_ann_pq_topk", "n15_columnar_topk")

  /** The artifacts curation-mix's entries read; their dependencies are added. */
  val CurationArtifacts: Set[String] = Set("shingles", "ranked_postings", "verified_pairs",
    "minhash_signatures", "simhash_signatures", "dedup_labels", "ann_pq_raw", "ann_pq_fine")

  private var artifactTimes = Seq.empty[(String, Double)]

  /** curation-mix's prerequisite: the engine's artifact pre-build
    * ([[graft.Artifacts]]) restricted to [[CurationArtifacts]] and their
    * dependencies. Each artifact starts on a pool of `cpus` threads as soon
    * as its dependencies ([[graft.Artifacts.deps]]) are built. */
  private def prebuild(spark: SparkSession, dataDir: String, cpus: Int): Map[String, Double] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val deps = graft.Artifacts.deps
    def closure(n: String): Set[String] = deps.getOrElse(n, Nil).toSet.flatMap(closure) + n
    val wanted = CurationArtifacts.flatMap(closure)
    val builders = graft.Artifacts.all.filter(a => wanted(a._1))
    // initialise the operator modules on this thread: pool threads that
    // first-initialise mutually referencing modules can deadlock
    graft.operators.Dedup.toString; graft.operators.Similarity.toString
    graft.functions.TextAnalysis.toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val started = mutable.LinkedHashMap.empty[String, Future[Double]]
    val t0 = System.nanoTime()
    while (started.size < builders.size)
      for ((name, build) <- builders if !started.contains(name) &&
             deps.getOrElse(name, Nil).forall(started.contains))
        started(name) = Future.sequence(deps.getOrElse(name, Nil).map(started)).map { _ =>
          val b0 = System.nanoTime()
          build(spark, dataDir)
          (System.nanoTime() - b0) / 1e9
        }
    val times = started.toSeq.map { case (n, f) =>
      n -> scala.util.Try(Await.result(f, Duration.Inf)) }
    val wall = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    val failed = times.collect { case (n, scala.util.Failure(e)) => s"$n: $e" }
    if (failed.nonEmpty) sys.error(s"artifact pre-build failed: ${failed.mkString("; ")}")
    artifactTimes = times.map { case (n, t) => n -> t.get }
    val sum = artifactTimes.map(_._2).sum
    Map("artifacts.wall_s" -> wall, "artifacts.sum_s" -> sum,
      "artifacts.parallelism" -> (if (wall > 0) sum / wall else 0.0),
      "artifacts.pole_s" -> artifactTimes.map(_._2).max, "artifacts.failed" -> 0.0)
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
