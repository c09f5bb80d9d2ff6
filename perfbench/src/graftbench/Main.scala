package graftbench

import java.nio.file.{Files, Path}
import graft.Env
import graft.view.Json

/** One benchmark run: set up once, warm up, then run whole cycles of the
  * workload in a closed loop until `--seconds` have passed, and write
  * every op, check and (traced) span to `--out` as JSON.
  *
  * {{{
  *   graftbench.Main --workload crud_mix --seed 1 --seconds 5 --trace 0
  *                   --work <dir> --out <file>
  *   graftbench.Main --workload crud_mix --seed 1 --digest   # inputs only
  * }}}
  */
object Main {
  /** A case class as a JSON object. */
  private def fields(p: Product): Map[String, Any] =
    p.productElementNames.zip(p.productIterator).toMap

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")
    val digest = Gen.digest(workload, seed)
    if (args.contains("--digest")) { println(digest); return }

    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Path.of(opt("work"))
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = Env.session(s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = since(t0)
    try {
      val rec = new Recorder(if (trace) Some(new Tracer(spark, cores)) else None)
      val wl = Workloads.make(workload, Bench(spark, rec, new Gen(seed), work))
      val tp = System.nanoTime()
      wl.prepare()
      val prepareS = since(tp)
      val tw = System.nanoTime()
      wl.cycle(0)
      val warmupS = since(tw)

      rec.recording = true
      val start = rec.now()
      var cycles = 0
      while (rec.now() - start < seconds) { cycles += 1; wl.cycle(cycles) }
      val windowS = rec.now() - start
      wl.finish()

      val out = Map(
        "workload" -> workload, "seed" -> seed, "trace" -> trace, "digest" -> digest,
        "cores" -> cores, "cycles" -> cycles, "window_s" -> windowS,
        "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmupS),
        "ops" -> rec.ops.map(fields),
        "checks" -> rec.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "samples" -> wl.samples,
        "spans" -> rec.spans.map(fields))
      Files.writeString(Path.of(opt("out")), Json.write(out))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        // non-daemon threads (the HTTP server's) must not keep the JVM up
        sys.exit(1)
    }
    spark.stop()
  }
}
