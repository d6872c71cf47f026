package graftbench

import graft.operators.{GoldOps, PatternOps, SilverOps}
import graft.pipeline.{Lake, Pipeline}
import graft.queries.DeclaredCatalog
import graft.sources.{BarRow, BarsSource, Checkpoints, Storage, TableRef}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.time.LocalDate
import scala.collection.mutable

/** `lake_daily` — the reference's nightly cron over a date-partitioned
  * bronze history, with silver's full rewrite beside it.
  *
  * Set-up lands [[Tickers]] × [[HistoryDays]] seeded bars (with split
  * events) in bronze through `Storage.writeTable`, three times over, then
  * runs one untimed warm day. Each measured round is:
  *  1. day — the source serves the next trading day to `runIngest`,
  *     `runSilver` takes the append path, `runGold` refreshes gold;
  *  2. a batch of analyst reads;
  *  3. rebuild — delete silver, `runSilver` (full-rewrite path), `runGold`;
  *  4. a batch of analyst reads.
  * The rebuild rewrites from the same bronze what the append path just
  * wrote, so every round checks append ≡ rewrite over all silver and
  * gold tables. */
object LakeDaily {
  val Tickers = 100
  val HistoryDays = 35
  val FutureDays = 40
  val ReadsPerBatch = 20
  val WarmReads = 10
  val MinRounds = 1

  val SilverTables = Seq("daily_aggregates", "weekly_aggregates",
    "weekly_indicators", "monthly_aggregates", "monthly_indicators",
    "daily_indicators")
  val GoldTables = Seq("vwap_signals", "daily_high_volume_closes",
    "stairstepping_patterns", "falling_down_stairs_summary")

  /** The generated day stream, one day per `runIngest`. */
  final class Source(gen: LakeGen) extends BarsSource {
    override def fetchDay(date: LocalDate): Seq[BarRow] = gen.barsOn(date)
  }

  def land(spark: SparkSession, gen: LakeGen, lake: Lake): Unit = {
    import spark.implicits._
    val bars = gen.history.toDF()
      .select(col("ticker"), col("date").cast("date"), col("open"),
        col("high"), col("low"), col("close"), col("volume"),
        col("transactions"))
      .repartition(col("date"))
    Storage.writeTable(bars, lake.bronze("stocks"), partitionBy = Seq("date"))
    val splits = gen.splits.map(s => (s.ticker,
      java.sql.Date.valueOf(s.executionDate), s.splitFrom, s.splitTo))
      .toDF("ticker", "execution_date", "split_from", "split_to")
    Storage.writeTable(splits, lake.bronze("splits"))
  }

  /** Order-independent checksums (`Storage.tableChecksum`) of the silver
    * and gold tables of each lake over all their columns except
    * `calculated_at`, as "rows:sum1:sum2" keyed by (lake root, table), in
    * one Spark job. */
  def checksums(spark: SparkSession, lakes: Seq[Lake]): Map[(String, String), String] =
    lakes.flatMap { lake =>
      (SilverTables.map(lake.silver) ++ GoldTables.map(lake.gold)).map { t =>
        val df = Storage.readTable(spark, t)
        Storage.tableChecksum(df, df.columns.filterNot(_ == "calculated_at").sorted.toSeq)
          .select(lit(lake.root).as("lake"), lit(s"${t.layer}/${t.name}").as("t"),
            concat_ws(":", col("n_rows"), col("sum_h1"), col("sum_h2")).as("sum"))
      }
    }.reduce(_ union _).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val notes = mutable.ArrayBuffer.empty[String]

    // ---- set-up: generate and land the history three times; keep the last
    val landings = (1 to 3).map { k =>
      Run.deleteTree(s"${ctx.dir}/lake$k")
      Run.secondsOf {
        val g = new LakeGen(ctx.seed, Tickers, HistoryDays, FutureDays)
        land(spark, g, Lake(s"${ctx.dir}/lake$k"))
      }
    }
    Seq(1, 2).foreach(k => Run.deleteTree(s"${ctx.dir}/lake$k"))
    val gen = new LakeGen(ctx.seed, Tickers, HistoryDays, FutureDays)
    val lake = Lake(s"${ctx.dir}/lake3")
    val source = new Source(gen)
    notes += s"inputs: seed=${ctx.seed} checksum=${gen.checksum} tickers=$Tickers " +
      s"history_days=$HistoryDays bars=${gen.historyBars} splits=${gen.splits.length} " +
      s"future_days=$FutureDays reads_per_batch=$ReadsPerBatch"

    var ingested = 0 // days served after the history
    def asOf: LocalDate = gen.calendar(HistoryDays + ingested - 1)
    def bronzeBars: Long = (HistoryDays + ingested).toLong * Tickers

    def rebuild(): Unit = {
      SilverTables.foreach(t => Storage.deleteTable(spark, lake.silver(t)))
      ctx.tracer.span("silver_rewrite")(Pipeline.runSilver(spark, lake))
      ctx.tracer.span("gold_rewrite")(Pipeline.runGold(spark, lake))
    }

    def day(): Unit = {
      val today = gen.calendar(HistoryDays + ingested)
      val (fetched, hitLimit) = ctx.tracer.span("ingest")(
        Pipeline.runIngest(spark, source, lake, LakeGen.StartYear, today))
      require(fetched == 1 && !hitLimit, s"ingest of $today fetched $fetched days")
      ingested += 1
      ctx.tracer.span("silver")(Pipeline.runSilver(spark, lake))
      ctx.tracer.span("gold")(Pipeline.runGold(spark, lake))
    }

    val rewriteKey = "silver_last_full_rewrite"
    def rewriteMark = Checkpoints.load(lake.checkpointPath).get(rewriteKey)

    val rebuildRate = mutable.ArrayBuffer.empty[Double]
    val daySeconds = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var batches = 0
    var storedMb = 0.0
    // per traced day: bytes of the new bronze partition, files written
    val dayWrites = mutable.ArrayBuffer.empty[(Long, Int)]
    // the append path's silver and gold, copied aside after each day
    val appended = Lake(s"${ctx.dir}/appended")

    def timedDay(traced: Boolean): Unit = {
      val before = if (traced) Run.files(lake.root) else Set.empty[(String, Long)]
      val mark = rewriteMark
      ctx.op("day")(day()).foreach(daySeconds += _)
      if (traced) dayWrites += ((
        Run.du(s"${lake.bronze("stocks").path}/date=$asOf"),
        (Run.files(lake.root) -- before).size))
      ctx.check("day: silver took the append path")(rewriteMark == mark)
      Run.deleteTree(appended.root)
      Seq("silver", "gold").foreach(l => Run.copyTree(s"${lake.root}/$l", s"${appended.root}/$l"))
    }

    def timedRebuild(): Unit = {
      val bars = bronzeBars
      ctx.op("rebuild")(rebuild()).foreach(s => rebuildRate += bars / s)
      val sums = checksums(spark, Seq(lake, appended))
      ctx.check("rebuild: silver daily rows equal the bronze bars landed")(
        sums((lake.root, "silver/daily_aggregates")).split(":")(0) == bars.toString)
      val diff = (SilverTables.map("silver/" + _) ++ GoldTables.map("gold/" + _))
        .filter(t => sums((lake.root, t)) != sums((appended.root, t)))
      ctx.check(s"the append path's silver and gold equal a full rewrite of the same " +
        s"bronze (differ: ${diff.mkString(", ")})")(diff.isEmpty)
    }

    /** A batch of analyst reads. Each opens its table through
      * `Storage.readTable` on first use in the batch (so the open's
      * listing cost lands in that read), like a session refreshed daily. */
    def readBatch(n: Int, timed: Boolean): Unit = {
      val r = Gen.rng(ctx.seed, 5000L + batches)
      batches += 1
      val expectDays = gen.calendar.take(HistoryDays + ingested)
        .count(d => d.isAfter(asOf.minusDays(30)))
      val open = new Opened(spark, lake)
      Gen.mix(r, n, 10).foreach { kind =>
        val tk = gen.symbols(r.nextInt(Tickers))
        if (!timed) read(spark, open, kind, tk, asOf, expectDays)
        else {
          var ok = true
          ctx.op("read") {
            ok = read(spark, open, kind, tk, asOf, expectDays)
          }.foreach(s => readMs += s * 1e3)
          if (!ok) ctx.fail(s"read kind=$kind ticker=$tk returned a wrong result")
        }
      }
    }

    Run.phase("lake: inputs landed")
    // ---- warm round (untimed, part of set-up): with no silver yet, the
    // first day also runs silver's full-rewrite path
    val warm = Run.secondsOf {
      day()
      readBatch(WarmReads, timed = false)
    }
    val setup = Stats.median(landings) + warm
    notes += f"setup: landings ${landings.map(x => f"$x%.3f").mkString(",")} s, warm round $warm%.3f s"

    Run.phase("lake: warm round done")
    // ---- measured rounds
    var round = 0
    def enough = ctx.timedSeconds >= ctx.seconds && round >= MinRounds &&
      readMs.length >= Metrics.MinReads && (!ctx.trace || round >= 2)
    while (!enough && ingested < FutureDays && ctx.failed == 0) {
      val traced = ctx.trace && round % 2 == 1
      ctx.iteration(traced) {
        ctx.tracer.span("round") {
          timedDay(traced)
          if (round == 0) storedMb = Run.du(lake.root) / Run.MiB
          readBatch(ReadsPerBatch, timed = true)
          timedRebuild()
          readBatch(ReadsPerBatch, timed = true)
          ctx.sampleHeap()
        }
      }
      round += 1
    }
    Run.phase("lake: measured rounds done")
    notes += f"measured: rounds=$round rebuilds=${rebuildRate.length} days=${daySeconds.length} " +
      f"reads=${readMs.length} timed=${ctx.timedSeconds}%.3f s"

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!ctx.trace) {
      metrics ++= Metrics.endToEndValues(setup, rebuildRate.toSeq, daySeconds.toSeq,
        readMs.toSeq, storedMb, ctx.heapPeakMb)
      notes += f"rebuild_bars_per_s=${metrics("rebuild_rows_per_s")}%.1f bars/s " +
        f"daily_cycle_s=${metrics("increment_s")}%.3f s read samples=${readMs.length}"
    } else {
      val sum = Layers.fromTrace(ctx)
      metrics ++= sum.metrics
      notes ++= sum.table
      if (!sum.consistent) ctx.fail("attribution: charged + unattributed task time != listener total")
      val days = sum.counters("day")
      val newBytes = dayWrites.map(_._1).sum.toDouble
      val nDays = math.max(1, dayWrites.length)
      metrics("sources.read_amp") = if (newBytes > 0) days.inputBytes / newBytes else 0.0
      metrics("sources.write_amp") = if (newBytes > 0) days.outputBytes / newBytes else 0.0
      metrics("sources.files_written") = dayWrites.map(_._2).sum.toDouble / nDays
      metrics("sources.bytes_written_mb") = days.outputBytes / Run.MiB / nDays
      metrics("sources.read_tasks_per_lookup") = metrics("spark.tasks.read")
      metrics("sources.index_read_frac") = 0.0
      metrics ++= operators(ctx, lake)
      Metrics.textOperators.foreach(op => metrics(s"operators.${op}_s") = 0.0)
      metrics("operators.planted_recall") = 0.0
      metrics("trace.overhead_frac") = Overhead.of(ctx, Seq("day", "rebuild"))
    }
    Run.deleteTree(lake.root)
    Run.deleteTree(appended.root)
    Outcome(metrics.toMap, notes.toSeq)
  }

  /** Tables opened through `Storage.readTable` on first use. */
  final class Opened(spark: SparkSession, lake: Lake) {
    private val open = mutable.Map.empty[TableRef, DataFrame]
    def apply(t: TableRef): DataFrame = open.getOrElseUpdate(t, Storage.readTable(spark, t))
    def silverDaily: DataFrame = apply(lake.silver("daily_aggregates"))
    def vwap: DataFrame = apply(lake.gold("vwap_signals"))
    def hvc: DataFrame = apply(lake.gold("daily_high_volume_closes"))
    def patterns: DataFrame = apply(lake.gold("stairstepping_patterns"))
  }

  /** One analyst read; false when its result is not what the stored
    * tables must give. */
  def read(spark: SparkSession, open: Opened, kind: Int, ticker: String,
           asOf: LocalDate, expectDays: Int): Boolean = kind match {
    case k if k < 4 =>
      // a ticker's last 30 calendar days of silver bars
      val rows = open.silverDaily
        .filter(col("ticker") === ticker &&
          col("date") > lit(java.sql.Date.valueOf(asOf.minusDays(30))))
        .collect()
      rows.length == expectDays
    case k if k < 8 =>
      // a ticker's latest 20 gold VWAP rows
      val rows = open.vwap.filter(col("ticker") === ticker)
        .orderBy(col("date").desc).limit(20).collect()
      rows.length == 20 && rows.head.getAs[java.sql.Date]("date").toLocalDate == asOf
    case 8 =>
      // the declared catalog's recent_hvcs, verbatim
      open.hvc.withColumnRenamed("volume_ratio", "volume_avg_ratio")
        .createOrReplaceTempView("daily_high_volume_closes_stocks")
      val rows = spark.sql(DeclaredCatalog.sql("recent_hvcs")).collect()
      rows.length == 100 && rows.head.getAs[java.sql.Date]("date").toLocalDate == asOf
    case _ =>
      // the declared catalog's best_patterns_all_time, verbatim
      open.patterns
        .withColumnRenamed("start_date", "pattern_start_date")
        .withColumnRenamed("end_date", "pattern_end_date")
        .withColumnRenamed("gain_pct", "pattern_gain_pct")
        .createOrReplaceTempView("stairstepping_hvcs_stocks")
      val rows = spark.sql(DeclaredCatalog.sql("best_patterns_all_time")).collect()
      val gains = rows.map(_.getAs[Double]("gain_pct"))
      rows.length == 20 && gains.sameElements(gains.sortBy(-_))
  }

  /** Each lake operator alone on the stored inputs, forced by a noop write. */
  def operators(ctx: Ctx, lake: Lake): Map[String, Double] = {
    val spark = ctx.spark
    def t(name: String)(df: => DataFrame): (String, Double) =
      s"operators.${name}_s" -> Run.secondsOf(Run.force(df))
    val daily = () => Storage.readTable(spark, lake.silver("daily_aggregates"))
    Map(
      t("applySplits")(SilverOps.applySplits(
        Storage.readTable(spark, lake.bronze("stocks")),
        Storage.readTable(spark, lake.bronze("splits")))),
      t("rollup")(SilverOps.rollup(daily(), "week")),
      t("indicators")(SilverOps.indicators(daily())),
      t("vwapSignals")(GoldOps.vwapSignals(daily())),
      t("patterns")(PatternOps.stairPatterns(PatternOps.highVolumeCloses(
        Storage.readTable(spark, lake.silver("daily_indicators")), threshold = 1.5),
        ascending = true, minSteps = 2)))
  }
}
