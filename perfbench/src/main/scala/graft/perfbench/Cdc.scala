package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Cli, DailyLoad, HistoryLoad, RawLoad}

/** The CDC workload. It drives the operator entry points
  * (`RawLoad.run`, `DailyLoad.run`, `HistoryLoad.run`) with `Cli`'s env
  * contract, in one process and one session, closed loop: each landing
  * starts when the previous step has returned.
  */
object Cdc {

  final case class Batch(name: String, day: Int, hour: Int, events: Long)

  final case class Manifest(day1: LocalDate, batches: Seq[Batch]) {
    def date(b: Batch): LocalDate = day1.plusDays(b.day - 1L)
  }

  def manifest(inputs: File): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(Files.readAllBytes(new File(inputs, "manifest.json").toPath)))
    Manifest(LocalDate.parse((j \ "day1").extract[String]),
      (j \ "batches").extract[Seq[Batch]])
  }

  /** One timed tick. Visible and replicated times are sums of the
    * stage-call durations from the landing on, so the benchmark's own
    * bookkeeping between calls (lake accounting) is not counted. */
  final case class Step(name: String, visibleS: Double, replicatedS: Option[Double],
                        stageS: Double, events: Long, landedBytes: Long,
                        gcS: Double, jitS: Double)

  /** Data files under a directory, hidden and marker files excluded. */
  def dirFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else scala.util.Using.resource(Files.walk(dir.toPath)) { paths =>
      paths.iterator().asScala.map(_.toFile).toSeq
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    }

  /** One replicated table: its lake paths, the env for the entry points,
    * and the calls into them. */
  final class Pipeline(spark: SparkSession, tracer: Tracer, root: File, table: String,
                       inputs: File, cores: Int) {
    val source = new File(root, "source")
    val data = new File(root, "raw")
    source.mkdirs()
    val env: Map[String, String] = Map(
      "table_name" -> table, "db" -> "default", "app_cores" -> cores.toString,
      "source_dir" -> source.getAbsolutePath,
      "settings" -> (s"""{"primary_keys":["ID"],"data_dir":"${data.getAbsolutePath}",""" +
        s""""ckpt_dir":"${new File(root, "ckpt").getAbsolutePath}","mode":"merge"}"""))
    val replay = new Replay(spark, "ID")

    /** Copy a batch next to the source dir, then rename it in: the
      * stream sees whole files only, and the landing instant is the
      * rename. Returns the bytes landed. */
    def land(b: Batch): Long = {
      val files = new File(inputs, b.name).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val staged = files.map { f =>
        val tmp = new File(source, s".${b.name}-${f.getName}")
        Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
        tmp
      }
      staged.foreach(t => Files.move(t.toPath, new File(source, t.getName.drop(1)).toPath,
        StandardCopyOption.ATOMIC_MOVE))
      replay.land(files.toSeq)
      files.map(_.length).sum
    }

    private def rawCall(): Double = tracer.timed("cli.raw")(RawLoad.run(spark, env))._2

    def daily(ds: LocalDate): Double = {
      val s = tracer.timed("cli.daily")(DailyLoad.run(spark, env.updated("ds", ds.toString)))._2
      accountTable("daily")
      replay.dailyMerge(ds)
      s
    }

    /** `HistoryLoad.main` builds its session with auto-broadcast off;
      * the shared session gets the same setting for the call. */
    def history(ds: LocalDate): Double = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      val s = try tracer.timed("cli.history")(HistoryLoad.run(spark, env.updated("ds", ds.toString)))._2
              finally spark.conf.set(key, prev)
      accountTable("history")
      replay.historyMerge(ds)
      s
    }

    def dailyTable = s"default.${table}_daily"
    def historyTable = s"default.${table}_history"

    def location(t: String): Option[File] =
      if (!spark.catalog.tableExists(t)) None
      else spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
        .find(_.getString(0) == "Location").map(r => new File(new java.net.URI(r.getString(1))))

    // bytes and files written by each layer, read from the lake
    // directories right after the stage call that wrote them
    val written = mutable.Map("raw" -> 0L, "daily" -> 0L, "history" -> 0L)
    var filesWritten = 0L
    private var rawSeen = Set.empty[String]

    /** Raw appends: the files that are new since the last call. */
    def accountRaw(): Unit = {
      val fresh = dirFiles(data).filterNot(f => rawSeen(f.getPath))
      rawSeen ++= fresh.map(_.getPath)
      written("raw") += fresh.map(_.length).sum
      filesWritten += fresh.size
    }

    /** `_daily` / `_history` are rewritten whole by every merge. */
    def accountTable(layer: String): Unit =
      location(if (layer == "daily") dailyTable else historyTable).foreach { loc =>
        val fs = dirFiles(loc)
        written(layer) += fs.map(_.length).sum
        filesWritten += fs.size
      }

    def resetAccounts(): Unit = { written.keys.foreach(written(_) = 0L); filesWritten = 0L }

    def raw(): Double = { val s = rawCall(); accountRaw(); s }

    /** Output checks: both tables against the replayed contract. */
    def check(o: Outcome): Unit = Seq(dailyTable -> (() => replay.daily),
      historyTable -> (() => replay.history)).foreach { case (t, want) =>
      Log(s"check $t")
      o.check(s"$t equals the replayed merge contract")(Replay.matches(spark, t, want()))
    }
  }

  /** Session from the operator's env contract. The warehouse, local and
    * temp dirs come from system properties set by run.py. */
  def session(cores: Int): SparkSession =
    Cli.session(Map("app_cores" -> cores.toString), "perfbench-cdc")

  /** cdc_hourly. Set-up brings a fresh table to the state an hourly
    * schedule is in late in the day: the day-0 snapshot is ingested and
    * backfilled into `_history`, and the early hours of day 1 land as one
    * catch-up batch merged into `_daily`. Each timed tick then lands one
    * hour and runs raw → daily; the hour-00 tick of day 2 also runs
    * history, which merges the finished day 1 into `_history` and
    * truncates `_daily`. The schedule is fixed, so every run times the
    * same ticks over the same state sizes.
    */
  def hourly(a: Main.Args, tracer: Tracer, o: Outcome): Map[String, Any] = {
    val m = manifest(a.inputs)
    val snapshot +: catchup +: ticks = m.batches
    Log("setup")
    val t0 = System.nanoTime()
    val spark = o.op("session")(session(a.cores))
    tracer.bind(spark)
    val meter = if (a.trace) Some(Meter.install(spark, tracer)) else None
    val p = new Pipeline(spark, tracer, a.scratch, "perf", a.inputs, a.cores)
    tracer.timed("setup") {
      p.land(snapshot)
      o.op("raw")(p.raw())
      o.op("history")(p.history(m.day1))
      p.land(catchup)
      o.op("raw")(p.raw())
      o.op("daily")(p.daily(m.date(catchup)))
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    p.resetAccounts()
    val heapMb = mutable.ArrayBuffer(Jvm.liveHeapMb())

    Log("timed ticks")
    val timedStartMs = System.currentTimeMillis()
    val steps = ticks.map { b =>
      val ds = m.date(b)
      val landed = p.land(b)
      val (g0, j0) = (Jvm.gcMs, Jvm.jitMs)
      val rawS = o.op("raw")(p.raw())
      val dailyS = o.op("daily")(p.daily(ds))
      val histS = if (b.hour == 0) Some(o.op("history")(p.history(ds))) else None
      Step(b.name, rawS + dailyS, histS.map(rawS + dailyS + _), rawS + dailyS + histS.getOrElse(0.0),
        b.events, landed, (Jvm.gcMs - g0) / 1e3, (Jvm.jitMs - j0) / 1e3)
    }
    heapMb += Jvm.liveHeapMb()
    p.check(o)

    Log("metrics")
    val vis = steps.map(_.visibleS)
    val reps = steps.flatMap(_.replicatedS)
    val events = steps.map(_.events).sum
    val stageS = steps.map(_.stageS).sum
    val tail = Stats.tail(vis)
    val e2e = Map(
      "setup_s" -> setupS,
      "step_p50_s" -> Stats.median(vis),
      "work_per_s" -> events / stageS,
      "heap_peak_mb" -> heapMb.max)
    val report = Map(
      "setup_s" -> setupS,
      "visible_p50_s" -> Stats.median(vis), "visible_n" -> vis.size,
      "visible_tail_s" -> tail.map(_._1), "visible_tail_pct" -> tail.map(_._2),
      "replicated_s" -> Stats.median(reps), "replicated_n" -> reps.size,
      "events_per_s" -> events / stageS, "events" -> events,
      "write_amp" -> p.written.values.sum.toDouble / steps.map(_.landedBytes).sum,
      "heap_peak_mb" -> heapMb.max,
      "ops_failed_ratio" -> o.failed.toDouble / o.attempted,
      "ops_attempted" -> o.attempted, "ops_failed" -> o.failed,
      "steps" -> steps.map(s => Map("name" -> s.name, "visible_s" -> s.visibleS,
        "replicated_s" -> s.replicatedS, "stage_s" -> s.stageS, "events" -> s.events)))
    val layers = meter.map(Layers.cdc(spark, _, tracer, timedStartMs, steps, p, a.cores))
      .getOrElse(Map.empty)
    val sites = meter.map(Layers.cdcSites(spark, _, tracer, timedStartMs)).getOrElse(Map.empty)
    spark.stop()
    Map("e2e" -> e2e, "report" -> report, "layers" -> layers, "job_sites" -> sites)
  }
}
