package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, from the spans and the listener
  * records of the timed part. Jobs are attributed to a module by their
  * call site (`op at File.scala:line`), AQE and broadcast jobs by the
  * call site of the SQL execution they belong to.
  */
object Layers {

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Jobs, stages and triggers of one span. */
  final class SpanWork(val span: Span, m: Meter, allJobs: Seq[JobRec], triggers: Seq[TriggerRec]) {
    val jobs: Seq[JobRec] = allJobs.filter(_.span == span.id)
    val stages: Seq[StageRec] = jobs.flatMap(_.stages).distinct.flatMap(m.stage)
    val trig: Seq[TriggerRec] = triggers.filter(t => t.startMs >= span.startMs && t.startMs <= span.endMs)
    def tasks: Double = stages.map(_.tasks).sum.toDouble
    def runMs: Double = stages.map(_.runMs).sum.toDouble
    /** Wall seconds of the jobs whose call site starts with one of `sites`. */
    def jobSeconds(sites: String*): Double =
      jobs.filter(j => sites.exists(m.site(j).startsWith)).map(j => (j.endMs - j.startMs) / 1e3).sum
  }

  private def collect(spark: SparkSession, m: Meter, tracer: Tracer, fromMs: Long,
                      prefix: String): Seq[SpanWork] = {
    Meter.drain(spark)
    val jobs = m.jobsSnapshot
    val trig = m.triggersSnapshot
    tracer.spans.filter(s => s.startMs >= fromMs && s.name.startsWith(prefix))
      .map(new SpanWork(_, m, jobs, trig))
  }

  /** Jobs per call by call site, for each kind of stage call: the
    * breakdown behind `jobs.spark_jobs.*`. */
  def cdcSites(spark: SparkSession, m: Meter, tracer: Tracer, fromMs: Long): Map[String, Map[String, Double]] =
    collect(spark, m, tracer, fromMs, "cli.").groupBy(_.span.name).map { case (kind, ws) =>
      kind -> ws.flatMap(_.jobs.map(m.site)).groupBy(identity)
        .map { case (site, js) => site -> js.size.toDouble / ws.size }
    }

  def cdc(spark: SparkSession, m: Meter, tracer: Tracer, fromMs: Long,
          steps: Seq[Cdc.Step], p: Cdc.Pipeline, cores: Int): Map[String, Double] = {
    val work = collect(spark, m, tracer, fromMs, "cli.")
    def of(kind: String) = work.filter(_.span.name == s"cli.$kind")
    val (raw, daily, history) = (of("raw"), of("daily"), of("history"))
    val merges = daily ++ history
    val n = steps.size.toDouble
    def perStep(sites: String*) = work.map(_.jobSeconds(sites: _*)).sum / n
    def phase(ph: String) = med(raw.map(_.trig.map(_.phases.getOrElse(ph, 0L)).sum.toDouble))
    // max/median task time of the most skewed shuffle-reading stage
    def skew(w: SpanWork): Double = {
      val ratios = w.stages.filter(s => s.shuffleRead > 0 && s.taskRunMs.size >= 4).map { s =>
        s.taskRunMs.max.toDouble / math.max(1.0, Stats.median(s.taskRunMs.map(_.toDouble)))
      }
      if (ratios.isEmpty) 0.0 else ratios.max
    }
    Map(
      "cli.raw_s" -> med(raw.map(_.span.seconds)),
      "cli.daily_s" -> med(daily.map(_.span.seconds)),
      "cli.history_s" -> med(history.map(_.span.seconds)),
      "jobs.spark_jobs.raw" -> med(raw.map(_.jobs.size.toDouble)),
      "jobs.spark_jobs.daily" -> med(daily.map(_.jobs.size.toDouble)),
      "jobs.spark_jobs.history" -> med(history.map(_.jobs.size.toDouble)),
      "jobs.tasks.daily" -> med(daily.map(_.tasks)),
      "jobs.tasks.history" -> med(history.map(_.tasks)),
      "jobs.busy_ratio.daily" ->
        daily.map(_.runMs).sum / math.max(1.0, daily.map(_.span.seconds * 1000 * cores).sum),
      "jobs.probe_s" -> perStep("isEmpty at Jobs.scala", "count at Jobs.scala"),
      "raw.batches" -> raw.map(_.trig.size).sum.toDouble,
      "raw.input_rows" -> raw.map(_.trig.map(_.inputRows).sum).sum.toDouble,
      "raw.trigger_ms.latestOffset" -> phase("latestOffset"),
      "raw.trigger_ms.addBatch" -> phase("addBatch"),
      "raw.trigger_ms.walCommit" -> phase("walCommit"),
      "raw.trigger_ms.queryPlanning" -> phase("queryPlanning"),
      "cdcops.infer_s" -> perStep("json at CdcOps.scala"),
      "cdcops.shuffle_bytes.daily" -> med(daily.map(_.stages.map(_.shuffleWrite).sum.toDouble)),
      "cdcops.shuffle_bytes.history" -> med(history.map(_.stages.map(_.shuffleWrite).sum.toDouble)),
      "cdcops.skew" -> med(merges.map(skew)),
      "lake.checkpoint_s" -> perStep("localCheckpoint at Lake.scala"),
      "lake.write_s" -> perStep("saveAsTable at Lake.scala", "save at Lake.scala"),
      "lake.bytes_written.raw" -> p.written("raw").toDouble,
      "lake.bytes_written.daily" -> p.written("daily").toDouble,
      "lake.bytes_written.history" -> p.written("history").toDouble,
      "lake.files_written" -> p.filesWritten.toDouble,
      "lake.spill_bytes" -> work.flatMap(_.stages).map(_.spill).sum.toDouble,
      "jvm.gc_s" -> med(steps.map(_.gcS)),
      "jvm.jit_s" -> med(steps.map(_.jitS)))
  }

  def queryMix(spark: SparkSession, m: Meter, tracer: Tracer, fromMs: Long,
               passes: Seq[(Double, Double, Double)], memo: Map[String, Double],
               cores: Int): Map[String, Double] = {
    val work = collect(spark, m, tracer, fromMs, "query.").groupBy(_.span.name)
    val perQuery = QueryMix.Queries.flatMap { q =>
      val ws = work.getOrElse(s"query.$q", Nil)
      Seq(
        s"query.${q}_s" -> med(ws.map(_.span.seconds)),
        s"query.$q.spark_jobs" -> med(ws.map(_.jobs.size.toDouble)),
        s"query.$q.tasks" -> med(ws.map(_.tasks)),
        s"query.$q.busy_ratio" ->
          ws.map(_.runMs).sum / math.max(1.0, ws.map(_.span.seconds * 1000 * cores).sum))
    }
    val streams = QueryMix.Queries.filter(_.startsWith("stream_")).flatMap { q =>
      val ws = work.getOrElse(s"query.$q", Nil)
      Seq(
        s"stream.$q.trigger_ms" ->
          med(ws.map(_.trig.map(_.phases.getOrElse("triggerExecution", 0L)).sum.toDouble)),
        s"stream.$q.state_commit_ms" -> med(ws.map(_.trig.map(_.stateCommitMs).sum.toDouble)))
    }
    val memoTags = memo.map { case (tag, s) => s"memo.${tag}_s" -> s }
    (perQuery ++ streams ++ memoTags ++ Seq(
      "memo.shared_build_s" -> memo.values.sum,
      "jvm.gc_s" -> med(passes.map(_._2)),
      "jvm.jit_s" -> med(passes.map(_._3)))).toMap
  }
}
