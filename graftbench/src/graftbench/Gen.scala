package graftbench

import graft.functions.TradingCalendar
import graft.sources.BarRow

import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generators. Every input the benchmark feeds the engine
  * comes from here, as a pure function of (seed, sizes): the same seed
  * gives identical inputs, and [[LakeGen.checksum]] / [[CorpusGen.checksum]]
  * fingerprint them so a run can show which inputs it measured. */
object Gen {
  /** FNV-1a over a sequence of strings, as 16 hex digits. */
  def fingerprint(parts: Iterator[String]): String = {
    var h = 0xcbf29ce484222325L
    parts.foreach { s =>
      s.foreach { ch => h ^= ch.toLong; h *= 0x100000001b3L }
      h ^= 0x1fL; h *= 0x100000001b3L
    }
    f"$h%016x"
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 1) * 0xBF58476D1CE4E5B9L)

  def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** `n` operation kinds in 0 until `kinds`, each equally often (n is a
    * multiple of `kinds`), in seeded order: a batch's composition is fixed,
    * so a percentile over it does not move with how many slow kinds one
    * seed happens to draw. */
  def mix(r: SplittableRandom, n: Int, kinds: Int): IndexedSeq[Int] = {
    require(n % kinds == 0, s"$n operations do not split evenly into $kinds kinds")
    val a = Array.tabulate(n)(_ % kinds)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}

final case class SplitEvent(ticker: String, executionDate: LocalDate,
                            splitFrom: Double, splitTo: Double)

/** Daily bars for `tickers` symbols over the first `historyDays` trading
  * days of [[LakeGen.StartYear]] plus `futureDays` further days that the
  * source serves one at a time. Prices are a per-ticker random walk
  * stored unadjusted (bars before a split carry the pre-split price, as a
  * market-data API serves them); about one ticker in eight splits once
  * inside the history. Volume is log-normal with occasional 2-4× spikes,
  * so high-volume closes and stair-step patterns exist at every seed. */
final class LakeGen(val seed: Long, val tickers: Int, val historyDays: Int,
                    val futureDays: Int) {
  import LakeGen._

  val calendar: IndexedSeq[LocalDate] =
    TradingCalendar.tradingDays(LocalDate.of(StartYear, 1, 1),
      LocalDate.of(StartYear + 2, 12, 31)).take(historyDays + futureDays).toIndexedSeq
  require(calendar.length == historyDays + futureDays, "calendar too short")

  val symbols: IndexedSeq[String] = (0 until tickers).map(i => f"T$i%04d")

  val splits: Seq[SplitEvent] = symbols.zipWithIndex.flatMap { case (t, i) =>
    val r = Gen.rng(seed, 1000000L + i)
    if (r.nextInt(8) != 0) None
    else {
      val (from, to) = Ratios(r.nextInt(Ratios.length))
      Some(SplitEvent(t, calendar(5 + r.nextInt(historyDays - 10)), from, to))
    }
  }

  /** bars(dayIndex) — one row per ticker. */
  val bars: IndexedSeq[IndexedSeq[BarRow]] = {
    val perTicker = symbols.zipWithIndex.map { case (t, i) =>
      val r = Gen.rng(seed, i)
      val split = splits.find(_.ticker == t)
      var close = 10.0 + r.nextDouble() * 190.0
      val baseVol = 20000 + r.nextInt(500000)
      calendar.map { d =>
        val open = close * (1.0 + 0.005 * gauss(r))
        close = math.max(1.0, close * math.exp(0.02 * gauss(r)))
        val high = math.max(open, close) * (1.0 + 0.01 * math.abs(gauss(r)))
        val low = math.min(open, close) * (1.0 - 0.01 * math.abs(gauss(r)))
        val spike = if (r.nextInt(100) < 6) 2.0 + 2.0 * r.nextDouble() else 1.0
        val vol = baseVol * math.exp(0.3 * gauss(r)) * spike
        // before its execution date a split's bars are served unadjusted
        val k = split.filter(s => d.isBefore(s.executionDate))
          .map(s => s.splitTo / s.splitFrom).getOrElse(1.0)
        BarRow(t, d, Gen.cents(open * k), Gen.cents(high * k),
          Gen.cents(low * k), Gen.cents(close * k), math.round(vol / k),
          math.max(1L, math.round(vol / (50 + r.nextInt(100)))))
      }
    }
    calendar.indices.map(di => perTicker.map(_(di)))
  }

  def history: Seq[BarRow] = (0 until historyDays).flatMap(bars)
  def historyBars: Long = historyDays.toLong * tickers

  /** Bars for `date`, or none when the generator has no such day. */
  def barsOn(date: LocalDate): Seq[BarRow] = {
    val i = calendar.indexOf(date)
    if (i < 0) Nil else bars(i)
  }

  def checksum: String = Gen.fingerprint(
    bars.iterator.flatten.map(_.toString) ++ splits.iterator.map(_.toString))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller from two uniforms; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }
}

object LakeGen {
  val StartYear = 2020
  val Ratios: IndexedSeq[(Double, Double)] = IndexedSeq((1.0, 2.0), (1.0, 3.0), (2.0, 3.0))
}

final case class Doc(docId: Long, text: String, lang: String, source: String) {
  def nChars: Long = text.length.toLong
}

/** A corpus in the shape of the sf fixtures' `documents` table (the same
  * 30-word vocabulary, 10-100 words a document, the same language and
  * source mix), built by seeded replication: `baseDocs` base documents,
  * each copied `replicas` times with every token re-drawn with
  * probability [[CorpusGen.MutateP]]. Planted on top: `planted` exact
  * copies and `planted` near copies (the text plus one appended token, so
  * Jaccard over word 3-shingles is ≥ 0.97) of random corpus documents.
  *
  * Delta batches are fresh short documents (10 to [[CorpusGen.DeltaMaxWords]]
  * words: a batch's distinct band buckets, which decide the pushdown path,
  * depend on its document count, not on document length) plus
  * [[CorpusGen.PlantedPerDelta]] near copies of corpus documents each; the
  * (delta id, corpus id) pairs are what incremental dedup must find. */
final class CorpusGen(val seed: Long, val baseDocs: Int, val replicas: Int,
                      val planted: Int, val deltaSizes: Seq[Int]) {
  import CorpusGen._

  private def freshDoc(id: Long, r: SplittableRandom, minWords: Int,
                       maxWords: Int = 100): Doc = {
    val n = minWords + r.nextInt(maxWords + 1 - minWords)
    Doc(id, Seq.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" "),
      pickLang(r), s"src${r.nextInt(20)}")
  }

  private def pickLang(r: SplittableRandom): String = {
    val x = r.nextInt(100)
    if (x < 41) "en" else Langs(1 + (x - 41) / 15 min 4)
  }

  val base: IndexedSeq[Doc] = {
    val r = Gen.rng(seed, 1)
    (0 until baseDocs).map(i => freshDoc(i, r, 10))
  }

  private val replicated: IndexedSeq[Doc] = {
    val r = Gen.rng(seed, 2)
    for (k <- 0 until replicas; d <- base) yield {
      val toks = d.text.split(' ').map(w =>
        if (r.nextDouble() < MutateP) Vocab(r.nextInt(Vocab.length)) else w)
      Doc(k.toLong * baseDocs + d.docId, toks.mkString(" "), d.lang, d.source)
    }
  }

  private def nearCopy(of: Doc, id: Long, r: SplittableRandom): Doc =
    of.copy(docId = id, text = of.text + " " + Vocab(r.nextInt(Vocab.length)))

  /** Long enough that one appended token keeps Jaccard ≥ 0.97. */
  private def plantable(d: Doc): Boolean = d.text.count(_ == ' ') >= 40

  /** (near-copy id, original id) pairs planted in the corpus. */
  val (docs: IndexedSeq[Doc], corpusPairs: Seq[(Long, Long)]) = {
    val r = Gen.rng(seed, 3)
    val long = replicated.filter(plantable)
    val next = replicated.length.toLong
    val exact = (0 until planted).map { i =>
      replicated(r.nextInt(replicated.length)).copy(docId = next + i)
    }
    val near = (0 until planted).map { i =>
      val of = long(r.nextInt(long.length))
      (nearCopy(of, next + planted + i, r), of.docId)
    }
    (replicated ++ exact ++ near.map(_._1), near.map { case (d, o) => (d.docId, o) })
  }

  /** Delta batches and, per batch, its planted (delta id, corpus id) pairs. */
  val deltas: Seq[(IndexedSeq[Doc], Seq[(Long, Long)])] =
    deltaSizes.zipWithIndex.map { case (n, b) =>
      val r = Gen.rng(seed, 10 + b)
      val firstId = DeltaIdBase * (b + 1)
      val fresh = (0 until n - PlantedPerDelta).map(i =>
        freshDoc(firstId + i, r, 10, DeltaMaxWords))
      val long = docs.filter(plantable)
      val near = (0 until PlantedPerDelta).map { i =>
        val of = long(r.nextInt(long.length))
        (nearCopy(of, firstId + n - PlantedPerDelta + i, r), of.docId)
      }
      (fresh ++ near.map(_._1), near.map { case (d, o) => (d.docId, o) })
    }

  def checksum: String = Gen.fingerprint(
    (docs.iterator ++ deltas.iterator.flatMap(_._1)).map(_.toString))
}

object CorpusGen {
  /** The sf fixtures' `documents` vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "zh", "es", "fr", "de")
  val MutateP = 0.3
  val PlantedPerDelta = 20
  val DeltaMaxWords = 20
  val DeltaIdBase = 10000000L
}
