package graftbench

import graft.operators.{DedupOps, TextOps}
import graft.pipeline.{CurationPipeline, CurationStats}
import graft.sources.{Storage, TableRef}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import scala.collection.mutable

/** `corpus_curate` — training-data curation and incremental near-dup
  * dedup; no lake operator runs.
  *
  * Set-up generates the corpus and the delta feed ([[CorpusGen]]) and
  * lands them as parquet three times over, then runs one untimed warm
  * curation. Each measured round is:
  *  1. curate — `CurationPipeline.runOnDocs` over the corpus;
  *  2. index build — `DedupOps.writeNearDupIndex` over the corpus;
  *  3. each delta batch in order — `incrementalNearDupsIndexedWithDelta`
  *     against the stored index, then the delta's index rows appended;
  *  4. a batch of consumer reads (index and curated-corpus lookups). */
object CorpusCurate {
  val BaseDocs = 250
  val Replicas = 3
  val Planted = 50
  /** Under and over the pushdown cap: a delta of n docs touches about
    * 4n distinct band buckets, against a cap of 20,000. */
  val DeltaSizes = Seq(600, 5600)
  val ReadsPerBatch = 40
  val MinRounds = 1

  final case class Tables(root: String) {
    val corpus = TableRef(root, "corpus", "docs")
    val curated = TableRef(root, "corpus", "curated")
    val bands = TableRef(root, "index", "bands")
    val sets = TableRef(root, "index", "sets")
    def delta(i: Int) = TableRef(root, "feed", s"delta$i")
  }

  def land(spark: SparkSession, gen: CorpusGen, t: Tables): Unit = {
    import spark.implicits._
    def df(docs: Seq[Doc]): DataFrame = docs.map(d =>
      (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Storage.writeTable(df(gen.docs), t.corpus)
    gen.deltas.zipWithIndex.foreach { case ((docs, _), i) =>
      Storage.writeTable(df(docs), t.delta(i))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val notes = mutable.ArrayBuffer.empty[String]

    // ---- set-up: generate and land the inputs three times; keep the last
    val landings = (1 to 3).map { k =>
      Run.deleteTree(s"${ctx.dir}/corpus$k")
      Run.secondsOf {
        land(spark, new CorpusGen(ctx.seed, BaseDocs, Replicas, Planted, DeltaSizes),
          Tables(s"${ctx.dir}/corpus$k"))
      }
    }
    Seq(1, 2).foreach(k => Run.deleteTree(s"${ctx.dir}/corpus$k"))
    val gen = new CorpusGen(ctx.seed, BaseDocs, Replicas, Planted, DeltaSizes)
    val t = Tables(s"${ctx.dir}/corpus3")
    val nDocs = gen.docs.length
    notes += s"inputs: seed=${ctx.seed} checksum=${gen.checksum} docs=$nDocs " +
      s"base_docs=$BaseDocs replicas=$Replicas planted_exact=$Planted " +
      s"planted_near=${gen.corpusPairs.length} delta_docs=${DeltaSizes.mkString("+")} " +
      s"delta_planted=${gen.deltas.map(_._2.length).mkString("+")}"

    def docs = Storage.readTable(spark, t.corpus)
    if (ctx.trace) {
      // the delta sizes are fixed so that the batches land on both sides
      // of the pushdown cap at any seed; a traced run confirms it
      val buckets = DeltaSizes.indices.map { i =>
        DedupOps.lshBands(DedupOps.minhashSignatures(Storage.readTable(spark, t.delta(i))),
          bands = 4, rowsPerBand = 2).select("bucket").distinct().count()
      }
      val cap = DedupOps.DefaultMaxPushdownKeys
      notes += s"delta distinct buckets: ${buckets.mkString(", ")} (pushdown cap $cap)"
      ctx.check(s"delta buckets ${buckets.mkString(",")} straddle the cap $cap")(
        buckets.exists(_ <= cap) && buckets.exists(_ > cap))
    }

    var firstStats: Option[CurationStats] = None
    val rebuildRate = mutable.ArrayBuffer.empty[Double]
    val deltaSeconds = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var batches = 0
    var storedMb = 0.0
    // per traced delta: feed bytes, index bytes before it, files written
    val deltaIo = mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var deltaFound = 0
    var deltaPlanted = 0

    def curate(): CurationStats =
      CurationPipeline.runOnDocs(spark, docs, t.curated.path)

    def buildIndex(): Unit = DedupOps.writeNearDupIndex(docs,
      Storage.writeTable(_, t.bands), Storage.writeTable(_, t.sets))

    /** One delta against the stored index; returns its pairs ≥ 0.5. */
    def delta(i: Int): Set[(Long, Long)] = {
      val (pairs, newBands, newSets) = DedupOps.incrementalNearDupsIndexedWithDelta(
        Storage.readTable(spark, t.delta(i)),
        Storage.readTable(spark, t.bands), Storage.readTable(spark, t.sets))
      try {
        val found = pairs.filter(col("jaccard") >= 0.5).select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        Storage.writeTable(newBands, t.bands, SaveMode.Append)
        Storage.writeTable(newSets, t.sets, SaveMode.Append)
        found
      } finally {
        pairs.unpersist(false); newBands.unpersist(false); newSets.unpersist(false)
      }
    }

    def checkStats(s: CurationStats): Unit = {
      ctx.check(s"curation stats monotone with written == afterNearDup: $s") {
        s.input >= s.afterQuality && s.afterQuality >= s.afterExact &&
          s.afterExact >= s.afterNearDup && s.written == s.afterNearDup &&
          s.afterExact < s.afterQuality // the planted exact copies are removed
      }
      firstStats match {
        case None => firstStats = Some(s)
        case Some(f) => ctx.check(s"curation stats identical every pass: $s vs $f")(s == f)
      }
    }

    def timedRound(traced: Boolean): Unit = {
      var stats: CurationStats = null
      val c = ctx.op("curate") { stats = curate() }
      if (stats != null) checkStats(stats)
      val ix = ctx.op("index_build")(buildIndex())
      for (a <- c; b <- ix) rebuildRate += nDocs / (a + b)
      val ds: Seq[Double] = gen.deltas.indices.flatMap { i =>
        val before = if (traced) Run.files(s"${t.root}/index") else Set.empty[(String, Long)]
        val indexBytes = Run.du(s"${t.root}/index")
        var found = Set.empty[(Long, Long)]
        val s = ctx.op("delta") { found = delta(i) }
        if (traced) deltaIo += ((Run.du(t.delta(i).path), indexBytes,
          (Run.files(s"${t.root}/index") -- before).size))
        val planted = gen.deltas(i)._2.map { case (d, o) => (math.min(d, o), math.max(d, o)) }
        val hit = planted.count(found.contains)
        deltaFound += hit
        deltaPlanted += planted.length
        ctx.check(s"delta $i finds its ${planted.length} planted near-dups (found $hit)")(
          s.isEmpty || hit == planted.length)
        s
      }
      if (ds.length == gen.deltas.length) deltaSeconds += ds.sum / ds.length
      if (storedMb == 0.0) storedMb = Run.du(t.root) / Run.MiB
      readBatch(ReadsPerBatch)
      ctx.sampleHeap()
    }

    /** A batch of consumer reads; each table is opened through
      * `Storage.readTable` on first use in the batch. */
    def readBatch(n: Int): Unit = {
      val r = Gen.rng(ctx.seed, 7000L + batches)
      batches += 1
      val open = mutable.Map.empty[TableRef, DataFrame]
      def table(ref: TableRef) = open.getOrElseUpdate(ref, Storage.readTable(spark, ref))
      Gen.mix(r, n, 2).foreach { kind =>
        val id = gen.docs(r.nextInt(nDocs)).docId
        var ok = true
        ctx.op("read") {
          ok = read(table(if (kind == 0) t.sets else t.curated), kind, id)
        }.foreach(s => readMs += s * 1e3)
        if (!ok) ctx.fail(s"read kind=$kind doc=$id returned a wrong result")
      }
    }

    // ---- warm pass (untimed, part of set-up): one curation, whose
    // near-dup stage also runs the shingling, signature and banding code
    // that the index build and the deltas use
    val warm = Run.secondsOf(checkStats(curate()))
    val setup = Stats.median(landings) + warm
    notes += f"setup: landings ${landings.map(x => f"$x%.3f").mkString(",")} s, warm round $warm%.3f s"

    Run.phase("corpus: warm round done")
    // ---- measured rounds
    var round = 0
    def enough = ctx.timedSeconds >= ctx.seconds && round >= MinRounds &&
      readMs.length >= Metrics.MinReads && (!ctx.trace || round >= 2)
    while (!enough && ctx.failed == 0) {
      val traced = ctx.trace && round % 2 == 1
      ctx.iteration(traced) {
        ctx.tracer.span("round")(timedRound(traced))
      }
      round += 1
    }
    Run.phase("corpus: measured rounds done")
    notes += f"measured: rounds=$round curations=${rebuildRate.length} " +
      f"delta_rounds=${deltaSeconds.length} reads=${readMs.length} timed=${ctx.timedSeconds}%.3f s " +
      s"stats=${firstStats.getOrElse("-")}"

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!ctx.trace) {
      metrics ++= Metrics.endToEndValues(setup, rebuildRate.toSeq, deltaSeconds.toSeq,
        readMs.toSeq, storedMb, ctx.heapPeakMb)
      val curateS = ctx.tracer.spans.filter(_.name == "curate").map(_.seconds)
      val indexS = ctx.tracer.spans.filter(_.name == "index_build").map(_.seconds)
      if (curateS.nonEmpty && indexS.nonEmpty)
        notes += f"curate_docs_per_s=${nDocs / Stats.median(curateS)}%.1f docs/s " +
          f"index_build_s=${Stats.median(indexS)}%.3f s delta_dedup_s=${metrics("increment_s")}%.3f s " +
          s"read samples=${readMs.length}"
    } else {
      val sum = Layers.fromTrace(ctx)
      metrics ++= sum.metrics
      notes ++= sum.table
      if (!sum.consistent) ctx.fail("attribution: charged + unattributed task time != listener total")
      val d = sum.counters("delta")
      val feed = deltaIo.map(_._1).sum.toDouble
      val index = deltaIo.map(_._2).sum.toDouble
      val n = math.max(1, deltaIo.length)
      metrics("sources.read_amp") = if (feed > 0) d.inputBytes / feed else 0.0
      metrics("sources.write_amp") = if (feed > 0) d.outputBytes / feed else 0.0
      metrics("sources.files_written") = deltaIo.map(_._3).sum.toDouble / n
      metrics("sources.bytes_written_mb") = d.outputBytes / Run.MiB / n
      metrics("sources.read_tasks_per_lookup") = metrics("spark.tasks.read")
      // task input bytes beyond the feed's own are the stored index's
      metrics("sources.index_read_frac") =
        if (index > 0) math.max(0.0, d.inputBytes - feed) / index else 0.0
      val (ops, corpusFound) = operators(ctx, docs, gen)
      metrics ++= ops
      Metrics.lakeOperators.foreach(op => metrics(s"operators.${op}_s") = 0.0)
      metrics("operators.planted_recall") =
        (corpusFound + deltaFound).toDouble / (gen.corpusPairs.length + deltaPlanted)
      if (corpusFound != gen.corpusPairs.length)
        ctx.fail(s"neardup found $corpusFound of ${gen.corpusPairs.length} planted corpus pairs")
      metrics("trace.overhead_frac") = Overhead.of(ctx, Seq("curate", "index_build", "delta"))
    }
    Run.deleteTree(t.root)
    Outcome(metrics.toMap, notes.toSeq)
  }

  /** One consumer read of `table` (kind 0: the stored index's sets,
    * kind 1: the curated corpus); false when its result is not what the
    * stored tables must give. */
  def read(table: DataFrame, kind: Int, docId: Long): Boolean = {
    val rows = table.filter(col("doc_id") === docId).collect()
    // every corpus doc has a shingle set; a curated row exists only if
    // the doc survived curation
    if (kind == 0) rows.length == 1 && rows.head.getAs[Long]("n") > 0
    else rows.length <= 1
  }

  /** Each text operator alone on the corpus, forced by a noop write (the
    * near-dup pairs are collected: they also give the corpus recall). */
  def operators(ctx: Ctx, docs: DataFrame, gen: CorpusGen): (Map[String, Double], Int) = {
    val gate = Run.secondsOf(Run.force {
      val mp = TextOps.piiStats(TextOps.qualityMetrics(docs))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("punct_ratio"), col("n_pii"))
      val w = TextOps.wordStats(docs).select(col("doc_id"), col("rep_ratio"))
      mp.join(w, Seq("doc_id"))
        .filter(col("n_words") >= 10 && col("mean_word_len") >= 2 &&
          col("mean_word_len") <= 12 && col("punct_ratio") <= 0.2 &&
          col("rep_ratio") <= 0.4 && col("n_pii") === 0)
    })
    val minhash = Run.secondsOf(Run.force(DedupOps.minhashSignatures(docs)))
    var found = Set.empty[(Long, Long)]
    val neardup = Run.secondsOf {
      val pairs = DedupOps.minhashNearDups(docs)
      found = pairs.filter(col("jaccard") >= 0.5).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs.unpersist(false)
    }
    val hit = gen.corpusPairs.count { case (a, b) => found.contains((math.min(a, b), math.max(a, b))) }
    (Map("operators.quality_gate_s" -> gate, "operators.minhash_s" -> minhash,
      "operators.neardup_s" -> neardup), hit)
  }
}
