package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.session.Sessions

/** query_mix: twelve analytics queries from the declared suite, run
  * read-only over the fixed tables, each written to the noop sink as
  * `graft.Bench` does. The seed orders the queries within each pass.
  */
object QueryMix {

  /** One query per family, few enough that a cold JVM's warm-up pass
    * plus the timed passes fit one run. None writes outside the session
    * scratch, so `cdc_pipeline_*` and `stream_upsert_filesink` are out. */
  val Queries: Seq[String] = Seq(
    "graph_pagerank", "embed_pca2", "dedup_semantic", "text_hybrid_rrf", "q_rfm",
    "stream_semi_join")

  val MinPasses = 3

  def session(cores: Int): SparkSession = Sessions.localBench(cores, cores, "perfbench-query-mix")

  def runQuery(spark: SparkSession, dir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  def run(a: Main.Args, tracer: Tracer, o: Outcome): Map[String, Any] = {
    val dir = a.inputs.getAbsolutePath
    val rng = new scala.util.Random(a.seed)
    var spark: SparkSession = null
    try {
      // Set-up: session build plus the warm-up pass, which pays the shared
      // memoized builds and code generation. It collects each result for
      // the fingerprint check, so no extra pass is needed for it.
      Log("setup")
      val t0 = System.nanoTime()
      spark = o.op("session")(session(a.cores))
      tracer.bind(spark)
      val meter = if (a.trace) Some(Meter.install(spark, tracer)) else None
      val prints = rng.shuffle(Queries).map { q =>
        q -> tracer.timed(s"warmup.$q")(o.op(q)(Fingerprint.of(SparkEntry.queries(q)(spark, dir))))._1
      }.toMap
      val setupS = (System.nanoTime() - t0) / 1e9
      a.record match {
        case Some(out) => Fingerprint.record(spark, dir, out, prints)
        case None =>
          val want = Fingerprint.committed(a.fingerprints.getOrElse(sys.error("missing --fingerprints")))
          Queries.foreach(q => o.check(s"$q result fingerprint")(want.get(q).contains(prints(q))))
      }
      val memo = SparkEntry.sharedBuildSeconds(spark)
      val heapMb = mutable.ArrayBuffer(Jvm.liveHeapMb())
      Log("timed passes")
      // Timed passes, closed loop, until the run's seconds are spent and
      // at least MinPasses ran: the first passes after a cold warm-up are
      // still JIT-bound, so a pass count that varied with speed would
      // change what the median reads.
      val timedStartMs = System.currentTimeMillis()
      val passes = mutable.ArrayBuffer.empty[(Double, Double, Double)] // wall, gc, jit
      val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      while (passes.size < MinPasses || System.nanoTime() < deadline) {
        val (g0, j0) = (Jvm.gcMs, Jvm.jitMs)
        val wall = rng.shuffle(Queries).map { q =>
          val s = tracer.timed(s"query.$q")(o.op(q)(runQuery(spark, dir, q)))._2
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
          s
        }.sum
        passes += ((wall, (Jvm.gcMs - g0) / 1e3, (Jvm.jitMs - j0) / 1e3))
      }
      heapMb += Jvm.liveHeapMb()
      Log("metrics")
      val mix = passes.map(_._1).toSeq
      val e2e = Map(
        "setup_s" -> setupS,
        "step_p50_s" -> Stats.median(mix),
        "work_per_s" -> Queries.size * mix.size / mix.sum,
        "heap_peak_mb" -> heapMb.max)
      val report = Map(
        "setup_s" -> setupS,
        "mix_s" -> Stats.median(mix), "passes" -> mix.size, "pass_s" -> mix,
        "heap_peak_mb" -> heapMb.max,
        "ops_failed_ratio" -> o.failed.toDouble / o.attempted,
        "ops_attempted" -> o.attempted, "ops_failed" -> o.failed,
        "query_p50_s" -> perQuery.map { case (q, ts) => q -> Stats.median(ts.toSeq) })
      val layers = meter.map(m => Layers.queryMix(spark, m, tracer, timedStartMs,
        passes.toSeq, memo, a.cores)).getOrElse(Map.empty)
      Map("e2e" -> e2e, "report" -> report, "layers" -> layers)
    } finally {
      if (spark != null) {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
        spark.stop()
      }
      Sessions.cleanupScratch()
    }
  }
}

/** Order-independent fingerprint of a query result: row count plus the
  * wrapping sum of a 64-bit hash per row. A row hashes its columns in
  * name order; doubles and decimals are rounded to 6 places, the
  * rounding the oracle comparison applies, and timestamps compare as
  * microseconds.
  */
object Fingerprint {
  val FileName = "fingerprints.json"

  final case class Print(rows: Long, hash: String)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal =>
      b.setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => (t.getTime * 1000 + (t.getNanos / 1000) % 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000 + t.getNano / 1000).toString
    case t: java.time.LocalDateTime => canon(t.toInstant(java.time.ZoneOffset.UTC))
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def of(df: DataFrame): Print = {
    val cols = df.columns.zipWithIndex.sortBy(_._1)
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val s = cols.map { case (c, i) => c + "=" + canon(r.get(i)) }.mkString("|")
      val h = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
      val l = scala.util.hashing.MurmurHash3.stringHash(s, 0x1dea)
      sum += (h.toLong << 32) | (l.toLong & 0xffffffffL)
      n += 1
    }
    Print(n, f"$sum%016x")
  }

  def committed(file: File): Map[String, Print] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    JsonMethods.parse(new String(Files.readAllBytes(file.toPath), StandardCharsets.UTF_8))
      .extract[Map[String, Print]]
  }

  /** Maintainer mode: write the fingerprints, plus each result and its
    * oracle SQL in the layout `tools/compare.py` reads, so the prints
    * can be checked against DuckDB before they are committed. */
  def record(spark: SparkSession, dir: String, out: File, prints: Map[String, Print]): Unit = {
    out.mkdirs()
    Files.write(new File(out, FileName).toPath, Json(prints.map { case (q, p) =>
      q -> Map("rows" -> p.rows, "hash" -> p.hash) }).getBytes(StandardCharsets.UTF_8))
    Files.write(new File(out, "oracle_sql.json").toPath,
      Json(prints.keys.map(q => q -> SparkEntry.oracleSql(q)).toMap).getBytes(StandardCharsets.UTF_8))
    prints.keys.foreach { q =>
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, q).getAbsolutePath)
    }
  }
}
