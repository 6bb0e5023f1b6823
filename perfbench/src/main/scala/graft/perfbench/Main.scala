package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main. `perfbench/run.py` builds this project, writes the
  * seeded inputs and starts one JVM per run:
  *
  * {{{
  * Main --workload <cdc_hourly|query_mix> --seed <n> --seconds <s>
  *      --trace <0|1> --inputs <dir> --scratch <dir> --out <result.json>
  *      [--cores <n>] [--fingerprints <file>] [--record <dir>]
  * }}}
  *
  * The run writes one JSON document to `--out`: the end-to-end metrics
  * (`e2e`), the workload's report under the metric names of its design
  * (`report`), the per-layer metrics (`layers`, traced runs) and the
  * spans (traced runs). Attempted and failed operations count every
  * stage call, query and output check.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: File, scratch: File, out: File, cores: Int,
                        fingerprints: Option[File], record: Option[File])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("inputs")), new File(need("scratch")),
      new File(need("out")), kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      kv.get("fingerprints").map(new File(_)), kv.get("record").map(new File(_)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${ProcessHandle.current.pid}"
    val tracer = new Tracer(a.trace, runId)
    val outcome = new Outcome
    val result: Map[String, Any] =
      try a.workload match {
        case "cdc_hourly" => Cdc.hourly(a, tracer, outcome)
        case "query_mix"  => QueryMix.run(a, tracer, outcome)
        case w            => sys.error(s"unknown workload $w")
      } catch {
        case e: Throwable =>
          // no result file: run.py reports the run as not completed
          e.printStackTrace()
          sys.exit(1)
      }
    Log("done")
    val doc = result ++ Map(
      "run_id" -> runId, "workload" -> a.workload, "seed" -> a.seed,
      "trace" -> a.trace, "cores" -> a.cores,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "correct" -> (outcome.failed == 0), "failures" -> outcome.failures.toSeq,
      "spans" -> tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "seconds" -> s.seconds, "run_id" -> s.runId)))
    Files.write(a.out.toPath, Json(doc).getBytes(StandardCharsets.UTF_8))
    System.out.flush()
    // Spark leaves non-daemon threads behind after stop(); the result is
    // written, so end the JVM here.
    sys.exit(0)
  }
}

/** Attempted / failed operation counts with the failure messages. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run one operation; a throw counts as a failure and is rethrown so
    * the workload stops (later steps would run on a broken state). */
  def op[T](what: String)(body: => T): T = {
    attempted += 1
    try body
    catch { case e: Throwable => fail(what, e.toString); throw e }
  }

  /** Record one output check. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable => fail(what, e.toString); return }
    if (!passed) fail(what, "output differs from the reference")
  }

  def fail(what: String, why: String): Unit = {
    failed += 1
    failures += s"$what: ${why.linesIterator.nextOption().getOrElse("").take(300)}"
    System.err.println(s"[perfbench] FAILED $what: $why")
  }
}

/** Progress lines on stderr (the run log), with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")
}

/** JVM-wide counters read around each step. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val mem = ManagementFactory.getMemoryMXBean

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = jit.getTotalCompilationTime

  /** Heap in use after a full collection, MiB: the live set. Called
    * only between timed steps. The second collection frees what the
    * first one's reference processing released (Spark's context cleaner
    * drops broadcasts and shuffles of collected plans asynchronously). */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile of `xs` that has at least `beyond` samples
    * above it: the sorted value at index n-1-beyond, with its
    * percentile rank. None when there are too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val i = s.size - 1 - beyond
      Some((s(i), 100.0 * (i + 1) / s.size))
    }
}

/** Minimal JSON encoder for the result document. */
object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => apply(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case o: Option[_]          => o.map(apply).getOrElse("null")
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case x                     => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
