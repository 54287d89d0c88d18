package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --root <checkout>`. Prints one JSON line with the run's
  * checks and metrics; `perfbench/run.py` is the entry point that builds
  * the classes and launches this. `--workload prepare` generates the
  * inputs instead. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val root = opts("root")
    val work = s"$root/.bench_build/work/$workload-${ProcessHandle.current.pid}"
    val t0 = Bench.nowS()
    val spark = session(work)
    val ctx = new Ctx(spark, work, opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", Bench.nowS() - t0)
    try {
      if (workload == "prepare") Data.generate(spark, root)
      else {
        val dir = Data.ready(root)
        val out = workload match {
          case "assembly_build" => AssemblyBuild.run(ctx, dir)
          case "serve_mix" => ServeMix.run(ctx, dir)
          case other => sys.error(s"unknown workload: $other")
        }
        System.err.println(f"[$workload] session ${ctx.sessionS}%.1f s, set-up ${out.setupS}%.1f s, " +
          f"p50 ${out.p50Ms}%.1f ms, p95 ${out.p95Ms}%.1f ms, ${out.perS}%.3f/s")
        println(json(ctx, out))
      }
    } finally {
      spark.stop()
      deleteTree(new java.io.File(work))
    }
  }

  /** A local session with every file it writes inside `work`, carrying the
    * program's own extensions and runtime settings ([[graft.GraftSession]]
    * applies them to the already-created session). */
  private def session(work: String): SparkSession = {
    SparkSession.builder()
      .master(s"local[${graft.GraftSession.cpus}]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val spark = graft.GraftSession.local("perfbench")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    spark.conf.set(graft.core.BlockScope.DIR_CONF, s"$work/checkpoints")
    spark
  }

  private def json(ctx: Ctx, o: Outcome): String = {
    val metrics: Seq[(String, Double, String)] =
      if (!ctx.trace) Seq(
        ("setup_s", o.setupS, "s"),
        ("op_p50_ms", o.p50Ms, "ms"),
        ("op_p95_ms", o.p95Ms, "ms"),
        ("ops_per_s", o.perS, "1/s"),
        ("cache_mb", o.cacheMb, "MB"))
      else o.layers
    val m = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": $m}"""
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
