package graftbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The harness's own tests (`python3 graftbench/run.py --selftest`): seeded
  * generators, the percentile and sample-count rule, span self-time and
  * job attribution arithmetic, and the metric catalog against
  * BENCHMARK.json. No Spark session is started. Returns the exit code. */
object SelfTest {

  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") } catch {
      case e: Throwable => failures += 1; println(s"FAIL $name: $e")
    }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def run(): Int = {
    test("lake generator: same seed, same inputs; other seed, other inputs") {
      val a = new LakeGen(7, 20, 30, 5)
      eq(new LakeGen(7, 20, 30, 5).checksum, a.checksum, "same seed")
      assert(new LakeGen(8, 20, 30, 5).checksum != a.checksum, "other seed")
      eq(a.history.length, 20 * 30, "history bars")
      eq(a.calendar.length, 35, "calendar days")
      assert(a.calendar.forall(graft.functions.TradingCalendar.isTradingDay), "trading days")
      assert(a.splits.forall(s => a.calendar.take(30).contains(s.executionDate)),
        "splits fall inside the history")
    }

    test("corpus generator: same seed, same inputs; sizes and planted pairs") {
      val a = new CorpusGen(3, 100, 3, 10, Seq(40, 60))
      eq(new CorpusGen(3, 100, 3, 10, Seq(40, 60)).checksum, a.checksum, "same seed")
      assert(new CorpusGen(4, 100, 3, 10, Seq(40, 60)).checksum != a.checksum, "other seed")
      eq(a.docs.length, 100 * 3 + 2 * 10, "corpus docs")
      eq(a.docs.map(_.docId).distinct.length, a.docs.length, "unique corpus ids")
      eq(a.deltas.map(_._1.length), Seq(40, 60), "delta sizes")
      val all = a.docs ++ a.deltas.flatMap(_._1)
      eq(all.map(_.docId).distinct.length, all.length, "unique ids across deltas")
      val text = all.map(d => d.docId -> d.text).toMap
      def shingles(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
      def jaccard(x: Long, y: Long) = {
        val (p, q) = (shingles(text(x)), shingles(text(y)))
        (p intersect q).size.toDouble / (p union q).size
      }
      (a.corpusPairs ++ a.deltas.flatMap(_._2)).foreach { case (x, y) =>
        assert(jaccard(x, y) >= 0.97, s"planted pair ($x,$y) jaccard ${jaccard(x, y)}")
      }
    }

    test("read mix: fixed composition, seeded order") {
      val a = Gen.mix(Gen.rng(5, 1), 20, 10)
      eq(a.groupBy(identity).map { case (k, v) => k -> v.length }, (0 until 10).map(_ -> 2).toMap,
        "each kind twice")
      eq(Gen.mix(Gen.rng(5, 1), 20, 10), a, "same seed")
      assert(Gen.mix(Gen.rng(6, 1), 20, 10) != a, "other seed")
    }

    test("percentile rule: nearest rank, ten samples beyond") {
      eq(Stats.samplesFor(90.0), 100, "p90 sample count")
      eq(Stats.samplesFor(95.0), 200, "p95 sample count")
      eq(Stats.samplesFor(50.0), 20, "p50 sample count")
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs, 90.0), 90.0, "p90 of 1..100")
      eq(Stats.beyond(100, 90.0), 10, "beyond p90 of 100")
      eq(Stats.percentile(xs.reverse, 50.0), 50.0, "p50 of 1..100")
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "odd median")
      eq(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5, "even median")
      val refused = scala.util.Try(Stats.supportedPercentile(xs.take(99), 90.0))
      assert(refused.isFailure, "p90 of 99 samples must be refused")
    }

    test("span self time: duration minus the union of child intervals") {
      eq(Tracer.covered(0, 100, Seq((10L, 30L), (20L, 50L), (70L, 80L))), 50L, "overlap")
      eq(Tracer.covered(0, 100, Seq((90L, 120L), (-5L, 5L))), 15L, "clipped")
      eq(Tracer.covered(0, 100, Nil), 0L, "none")
      def s(id: Int, parent: Int, a: Long, b: Long) =
        Span(id, s"s$id", parent, 0, a, b, a * 1000000L, b * 1000000L)
      val spans = Seq(s(0, -1, 0, 1000), s(1, 0, 100, 400), s(2, 0, 300, 500),
        s(3, 1, 150, 200))
      eq(math.round(Tracer.selfSeconds(spans(0), spans) * 1000), 600L, "root self ms")
      eq(math.round(Tracer.selfSeconds(spans(1), spans) * 1000), 250L, "child self ms")
      val t = new Tracer
      t.span("a")(t.span("b")(()))
      val Seq(a, b) = t.spans
      eq((b.parent, b.root, a.root), (a.id, a.id, a.id), "nesting")
    }

    test("job attribution: innermost containing span, straddlers counted") {
      val l = new JobListener
      def job(id: Int, a: Long, b: Long): Unit = {
        l.onJobStart(SparkListenerJobStart(id, a, Seq.empty))
        l.onJobEnd(SparkListenerJobEnd(id, b, JobSucceeded))
      }
      job(1, 1200, 1300) // inside the child
      job(2, 1600, 1700) // inside the root only
      job(3, 1900, 2100) // starts in the root, ends after it
      job(4, 500, 600) // before any span
      val root = Span(0, "root", -1, 0, 1000, 2000, 0, 0)
      val child = Span(1, "child", 0, 0, 1100, 1500, 0, 0)
      val (charged, unattributed, straddled) = l.attribute(Seq(root, child))
      eq(charged.get(1).map(_.jobs), Some(1L), "child jobs")
      eq(charged.get(0).map(_.jobs), Some(1L), "root jobs")
      eq(unattributed.jobs, 2L, "unattributed jobs")
      eq(straddled.getOrElse(0, 0), 1, "root straddlers")
    }

    test("metric catalog matches BENCHMARK.json") {
      val json = new String(Files.readAllBytes(Paths.get("BENCHMARK.json")),
        StandardCharsets.UTF_8)
      val declared = """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
        .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq
      eq(declared, Metrics.endToEnd ++ Metrics.perLayer, "names and units")
      val workloads = """"name":\s*"([^"]+)",\s*"why"""".r
        .findAllMatchIn(json).map(_.group(1)).toSet
      eq(workloads, Main.Workloads.keySet, "workloads")
    }

    println(s"selftest: $passed passed, $failures failed")
    if (failures == 0) 0 else 1
  }
}
