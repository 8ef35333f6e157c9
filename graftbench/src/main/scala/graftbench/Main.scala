package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. The Python harness (`run.py`) starts one
  * fresh JVM per run with:
  *
  *   --workload <catalog|incremental|llm_pipeline> --seed <n>
  *   --warm-passes <n> --trace <0|1> --data <dir> --work <dir>
  *   --bench <dir> --out <file> [--mode run|gen|record]
  *
  * `run` writes the run record (set-up time, every op, counters and,
  * when traced, the spans) to `--out`; `gen` writes only the generated
  * inputs; `record` re-derives the recorded expectations. */
object Main {

  def main(args: Array[String]): Unit = {
    val mainAt = System.currentTimeMillis()
    val jvmAt = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a.getOrElse("mode", "run")
    val seed = a.getOrElse("seed", "1").toLong
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = a("work")
    val out = a("out")
    val trace = a.getOrElse("trace", "0") == "1"
    val data = a("data")
    val bench = a("bench")

    if (mode == "record") {
      val spark = session(nproc, work)
      val rec = a("workload") match {
        case "catalog" => Catalog.record(spark, data)
        case "llm_pipeline" => LlmPipeline.record(spark, data, work)
        case w => throw new IllegalArgumentException(s"nothing to record for $w")
      }
      write(out, Json.render(rec))
      spark.stop()
      return
    }

    val wl: Workload = a("workload") match {
      case "catalog" => new Catalog
      case "incremental" => new Incremental
      case "llm_pipeline" => new LlmPipeline
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, once: session start, input generation, warm touch
    val spark = session(nproc, work)
    val streamSpans = if (trace) Some(new StreamSpans) else None
    val ctx = new Ctx(spark, data, work, bench, seed,
      if (trace) Some(new Tracing(spark.sparkContext, streamSpans, spark)) else None,
      streamSpans)
    val inputs = wl.generate(ctx)
    if (mode == "gen") {
      write(out, inputs)
      spark.stop()
      return
    }
    wl.warmTouch(ctx)
    val setupS = (System.currentTimeMillis() - jvmAt) / 1e3

    val t0 = System.nanoTime()
    wl.run(ctx, a("warm-passes").toInt)
    val runS = (System.nanoTime() - t0) / 1e9
    val cached = ctx.heldMb.getOrElse(ctx.settledStorageMb())
    val spans = Trace.drain()
    val record = Map(
      "workload" -> wl.name, "seed" -> seed, "nproc" -> nproc,
      "jvm_start_s" -> (mainAt - jvmAt) / 1e3,
      "setup_s" -> setupS,
      "run_s" -> runS,
      "cached_mb" -> cached,
      "passes" -> ctx.passSeconds.map { case (p, s) =>
        Map("pass" -> p, "seconds" -> s, "traced" -> ctx.passTraced(p)) }.toSeq,
      "ops" -> ctx.ops.map(_.toJson),
      "counters" -> ctx.counters,
      "inputs_sha256" -> sha256(inputs),
      "spans" -> spans.map(_.toJson))
    write(out, Json.render(record))
    ctx.spark.stop()
  }

  def session(nproc: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$nproc]", Some(nproc))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    spark
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def write(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
}
