package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What a workload needs from the harness: the session, its seed and
  * time budget, where it may write, and the run's tracer and listener. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val dir: String) {
  val tracer = new Tracer
  val listener = new JobListener
  val cores: Int = spark.sparkContext.defaultParallelism
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempts = 0L
  private var timedNs = 0L
  private var heapPeak = 0L

  def attempted: Long = attempts
  def failed: Long = failures.length.toLong
  def failureNotes: Seq[String] = failures.toSeq
  def timedSeconds: Double = timedNs / 1e9

  /** One operation of the workload: timed under a span, and counted as
    * attempted; an exception counts it failed. Returns the op's wall
    * seconds, or None when it failed. */
  def op(name: String)(f: => Unit): Option[Double] = {
    attempts += 1
    val t0 = System.nanoTime()
    val ok = try { tracer.span(name)(f); true } catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val dt = System.nanoTime() - t0
    timedNs += dt
    if (ok) Some(dt / 1e9) else None
  }

  /** An output check, run outside the timed windows. A check that fails
    * (or throws) fails the operation it checks: `attempted` is already
    * counted by that op, so only the failure is recorded. */
  def check(what: String)(ok: => Boolean): Boolean = {
    val pass = try tracer.span("check")(ok) catch {
      case e: Exception =>
        Console.err.println(s"check $what threw: $e"); false
    }
    if (!pass) fail(s"check failed: $what")
    pass
  }

  def fail(note: String): Unit = {
    failures += note
    println(s"[graftbench] FAILED $note")
  }

  /** Heap in use after a full collection; the maximum over the
    * measured rounds is reported as heap_peak_mb. Taken at the end of a
    * round, never inside a timed op, and after the round's reads, by
    * which time the engine's non-blocking cache releases have landed. */
  def sampleHeap(): Unit = {
    // a second collection after the context cleaner has released what
    // the first one made unreachable (broadcasts, shuffle state)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    heapPeak = math.max(heapPeak, rt.totalMemory() - rt.freeMemory())
  }

  def heapPeakMb: Double = heapPeak / Run.MiB

  /** Run `f` with the listener attached when this iteration is traced. */
  def iteration[A](traced: Boolean)(f: => A): A = {
    tracer.tracing = traced
    if (traced) listener.attach(spark.sparkContext)
    try f
    finally {
      if (traced) listener.detach(spark.sparkContext)
      tracer.tracing = false
    }
  }
}

/** A workload's result: its metrics by name, in the unit BENCHMARK.json
  * declares, plus human-readable lines printed before the result line. */
final case class Outcome(metrics: Map[String, Double], notes: Seq[String])

object Run {
  val MiB: Double = 1024.0 * 1024.0

  def log(s: String): Unit = println(s"[graftbench] $s")

  /** A progress line stamped with seconds since the JVM started. */
  def phase(s: String): Unit = log(f"${java.lang.management.ManagementFactory
    .getRuntimeMXBean.getUptime / 1e3}%7.1f s  $s")

  /** Bytes of the regular files under `dir`. */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** (path, mtime) of every data file under `dir`. */
  def files(dir: String): Set[(String, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try {
        val out = mutable.Set.empty[(String, Long)]
        s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
          .forEach(f => out += ((f.toString, Files.getLastModifiedTime(f).toMillis)))
        out.toSet
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Force a DataFrame's full computation without collecting it: a noop
    * write runs every stage, where `.count()` lets Catalyst prune work. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
