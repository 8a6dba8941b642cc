package graftbench

import java.nio.file.{Files, Paths}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.etl.Reports

/** One benchmark run in its own JVM:
  * {{{
  *   graftbench.Main --workload <nightly_ref|nightly_scale|query_mix>
  *     --seed <n> --trace <0|1> --work <dir> --out <file>
  *     [--data <dir>] [--cpus <n>] [--init 1]
  * }}}
  * Relative paths resolve against the working directory, which is the
  * run's work dir. `--init 1` runs only a nightly workload's initial load.
  * A run times one night, or one pass over the query mix, after an untimed
  * warm-up night or pass in the same JVM.
  *
  * Writes one JSON document of raw measurements to `--out`; `run.py`
  * turns it into the benchmark's metrics and runs the DuckDB checks.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts.get("trace").contains("1")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = BenchSession.local("graft-perfbench", cpus, work.toString)
    // warm-up: session, file listing and codegen paths
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (traced) Some(new Trace) else None
    try {
      val body = workload match {
        case "nightly_ref" | "nightly_scale" =>
          val (sc, mode) =
            if (workload == "nightly_ref") (NightlyScale.ref, Reports.Faithful)
            else (NightlyScale.scale, Reports.Corrected)
          val n = new Nightly(spark, seed, sc, mode, trace)
          if (opts.get("init").contains("1")) { n.initialLoad(); Map.empty[String, Any] } else n.run()
        case "query_mix" =>
          new QueryMix(spark, opts("data"), work, trace).run()
        case other => sys.error(s"unknown workload $other")
      }
      val doc = Map(
        "workload" -> workload, "seed" -> seed, "traced" -> traced,
        "session_s" -> sessionS,
        "cores" -> BenchSession.coresOf(spark),
        "master" -> spark.sparkContext.master,
        // machine-speed yardsticks are per-layer metrics: traced runs only
        "calib_cpu_s" -> (if (traced) BenchSession.calibCpuS() else null),
        "calib_io_s" -> (if (traced) BenchSession.calibIoS(work) else null),
        "result" -> body,
        "trace" -> trace.map(_.toJson).orNull)
      Files.writeString(Paths.get(opts("out")), Serialization.write(doc)(DefaultFormats))
    } finally spark.stop()
  }
}
