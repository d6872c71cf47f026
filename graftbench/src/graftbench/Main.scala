package graftbench

import graft.GraftSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Harness entry point (launched by graftbench/run.py):
  *
  *   graftbench.Main --work DIR --workload NAME --seed N --seconds S --trace 0|1
  *   graftbench.Main --work DIR --selftest
  *
  * Prints human-readable `[graftbench]` lines, then as its last stdout line
  * one JSON object {"correct", "attempted", "failed", "metrics"}: with
  * `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer ones
  * (see [[Metrics]]). A traced run also writes its spans and per-layer
  * table under DIR/../trace. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "lake_daily" -> LakeDaily.run, "corpus_curate" -> CorpusCurate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = opts.getOrElse("--work", sys.error("--work is required"))
    if (args.contains("--selftest")) sys.exit(SelfTest.run())
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val trace = opts("--trace") == "1"
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))

    val dir = s"$work/run-${ProcessHandle.current().pid()}"
    Run.deleteTree(dir)
    Files.createDirectories(Paths.get(dir))
    val spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.registerFunctions(spark)

    Run.phase("session started")
    val (outcome, ctx, quality) = try {
      val loadBefore = loadavg()
      val canaryBefore = canary(spark)
      val ctx = new Ctx(spark, seed, seconds, trace, dir)
      val out = body(ctx)
      Run.phase("workload done")
      val canaryAfter = canary(spark)
      val q = f"run quality: canary_before_s=$canaryBefore%.4f canary_after_s=$canaryAfter%.4f " +
        s"loadavg_before=[$loadBefore] loadavg_after=[${loadavg()}] cores=${ctx.cores}"
      if (trace) writeTrace(work, workload, seed, ctx, out)
      (out, ctx, q)
    } finally {
      spark.stop()
      Run.deleteTree(dir)
    }

    outcome.notes.foreach(Run.log)
    Run.log(quality)
    val want = if (trace) Metrics.perLayer else Metrics.endToEnd
    val missing = want.map(_._1).filterNot(outcome.metrics.contains)
    val extra = outcome.metrics.keySet -- want.map(_._1)
    require(missing.isEmpty && extra.isEmpty,
      s"metric set mismatch: missing ${missing.mkString(",")} extra ${extra.mkString(",")}")
    val finite = outcome.metrics.values.forall(v => !v.isNaN && !v.isInfinite)
    val failFrac = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    Run.log(f"attempted=${ctx.attempted} failed=${ctx.failed} failed_frac=$failFrac%.4f")
    ctx.failureNotes.foreach(n => Run.log(s"failure: $n"))
    want.foreach { case (name, unit) =>
      Run.log(f"metric $name%-34s ${outcome.metrics(name)}%16.6f $unit")
    }
    val correct = ctx.failed == 0 && ctx.attempted > 0 && finite
    val metrics = want.map { case (name, unit) =>
      val v = outcome.metrics(name)
      s""""$name": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$metrics}}""")
  }

  /** A pinned, cheap query timed before and after the workload: a slow
    * reading flags a run that shared the machine with other work. */
  def canary(spark: org.apache.spark.sql.SparkSession): Double = {
    def once() = spark.range(0L, 5000000L, 1L, 4).selectExpr("sum((id * 7) % 13) AS s").collect()
    once() // compiled before it is timed
    Stats.median((1 to 3).map(_ => Run.secondsOf(once())))
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }

  def writeTrace(work: String, workload: String, seed: Long, ctx: Ctx,
                 out: Outcome): Unit = {
    val dir = Paths.get(work).getParent.resolve("trace")
    Files.createDirectories(dir)
    val base = s"$workload-seed$seed"
    Files.write(dir.resolve(s"$base.spans.jsonl"),
      Layers.spanLines(ctx).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val table = out.notes ++ Metrics.perLayer.map { case (n, u) =>
      f"$n%-34s ${out.metrics.getOrElse(n, 0.0)}%16.6f $u"
    }
    Files.write(dir.resolve(s"$base.layers.txt"),
      table.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Run.log(s"trace written to ${dir.resolve(base)}.{spans.jsonl,layers.txt}")
  }
}
