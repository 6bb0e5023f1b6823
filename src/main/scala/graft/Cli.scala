package graft

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.jobs.Jobs
import graft.model.TableSpec
import graft.sources.RawSource

/** Env-var-driven pipeline entry points, mirroring the reference's
  * launcher scripts (`raw_load.py:1-28`, `daily_load.py:1-37`,
  * `history_load.py:1-50`): each reads the execution date, table
  * identity and a per-table settings object from the environment,
  * builds a session from the per-stage resource config, and runs one
  * pipeline stage.
  *
  * Contract (reference names kept):
  *  - `table_name`, `db` — table identity (`daily_load.py:14-15`)
  *  - `ds` — execution date `YYYY-MM-DD` (`daily_load.py:11-12`)
  *  - `settings` — JSON object (the portable equivalent of the
  *    reference's Python-dict literal, `ast.literal_eval` at
  *    `daily_load.py:17`) with keys `primary_keys` (array),
  *    `data_dir`, `ckpt_dir`, `kafka_topic`, `mode`, and optional
  *    `order_columns` and `format` ("parquet" default; "orc" = the
  *    reference's lake format, `raw_data_handler.py:86`)
  *  - `shuffle_partitions`, `master`, `app_cores` — session shaping
  *    (the reference's `spark_app_*_config` resource dicts,
  *    `raw_load.py:14-20`; instance/memory counts come from
  *    spark-submit in a real deployment, not code)
  *  - `kafka_config` — path to a YAML file with `brokers`, `user`,
  *    `password` (`raw_data_handler.py:24-34`); when absent, RawLoad
  *    falls back to the file source at `source_dir` (this sandbox has
  *    no broker — same situation as the reference's gitignored
  *    `configs/` dir)
  *
  * All three accept the env as a plain `Map` so tests can drive the
  * exact `main` code path without mutating the process environment.
  */
object Cli {

  /** Flat YAML `key: value` config, read like the reference's
    * `yaml.safe_load` of `configs/kafka_config.yml`
    * (`raw_data_handler.py:24-28`).
    */
  def loadYamlConfig(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path)
    try {
      val loaded = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](src.mkString)
      import scala.jdk.CollectionConverters._
      loaded.asScala.map { case (k, v) => k -> String.valueOf(v) }.toMap
    } finally src.close()
  }

  /** Parse the `settings` JSON into a [[TableSpec]]. */
  def parseSpec(env: Map[String, String]): TableSpec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.parse(required(env, "settings"))
    def str(k: String): Option[String] =
      (json \ k) match { case JString(s) => Some(s); case _ => None }
    def strs(k: String): Seq[String] =
      (json \ k) match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _          => Nil
      }
    val pks = strs("primary_keys")
    require(pks.nonEmpty, "settings.primary_keys must be a non-empty array")
    TableSpec(
      name = required(env, "table_name"),
      db = required(env, "db"),
      primaryKeys = pks,
      dataDir = str("data_dir").getOrElse(
        sys.error("settings.data_dir missing")),
      checkpointDir = str("ckpt_dir").getOrElse(
        sys.error("settings.ckpt_dir missing")),
      kafkaTopic = str("kafka_topic").getOrElse(""),
      mode = str("mode").getOrElse("merge"),
      orderColumns = strs("order_columns") match {
        case Nil  => Seq("timestamp")
        case cols => cols
      },
      format = str("format").getOrElse("parquet"))
  }

  def parseDs(env: Map[String, String]): LocalDate =
    LocalDate.parse(required(env, "ds"))

  def required(env: Map[String, String], key: String): String =
    env.getOrElse(key, sys.error(s"required env var '$key' is not set"))

  /** Session from the per-stage resource env (`daily_load.py:20-29`).
    * `extraConfs` carries stage-specific knobs (e.g. the history job's
    * auto-broadcast disable, `history_load.py:40`).
    */
  def session(env: Map[String, String], appName: String,
              extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(env.getOrElse("master", s"local[${env.getOrElse("app_cores", "*")}]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", env.getOrElse("shuffle_partitions", "32"))
      .config("spark.ui.enabled", "false")
    extraConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = graft.session.Sessions.tuned(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Raw-layer streaming ingest (`raw_load.py`): Kafka (SASL creds from
  * the YAML config, `raw_data_handler.py:24-34`) or, when no broker is
  * configured, a file-source stand-in — one AvailableNow drain into the
  * date-partitioned lake.
  */
object RawLoad {
  def main(args: Array[String]): Unit =
    run(Cli.session(sys.env, s"cdc_${Cli.required(sys.env, "table_name")}_raw"), sys.env)

  def run(spark: SparkSession, env: Map[String, String]): Unit = {
    val spec = Cli.parseSpec(env)
    val stream = env.get("kafka_config") match {
      case Some(path) =>
        val kc = Cli.loadYamlConfig(path)
        RawSource.kafkaStream(spark, spec, kc("brokers"),
          kc.get("user"), kc.get("password"))
          .selectExpr("CAST(timestamp AS TIMESTAMP) AS timestamp", "CAST(value AS STRING) AS value")
      case None =>
        RawSource.fileStream(spark, Cli.required(env, "source_dir"))
    }
    Jobs.rawIngest(stream, spec)
    println("Ingestion finished.")
  }
}

/** Daily merge (`daily_load.py`): one day's raw events merged into
  * `<db>.<table>_daily`.
  */
object DailyLoad {
  def main(args: Array[String]): Unit =
    run(Cli.session(sys.env, s"cdc_${Cli.required(sys.env, "table_name")}_daily"), sys.env)

  def run(spark: SparkSession, env: Map[String, String]): Unit = {
    Jobs.dailyMerge(spark, Cli.parseSpec(env), Cli.parseDs(env))
    println("Daily merge finished.")
  }
}

/** History merge (`history_load.py`): ds−1 merged into
  * `<db>.<table>_history` (or appended, increment mode). `--mode
  * airflow` takes `ds` from the env; `--mode manual` takes it from the
  * first positional arg (the reference prompts on stdin,
  * `history_load.py:18-22` — an arg is the non-interactive form).
  * Disables auto-broadcast as the reference does (`history_load.py:40`);
  * the merge itself plans no join, only one exchange on the key.
  */
object HistoryLoad {
  def main(args: Array[String]): Unit = {
    val mode = args.sliding(2).collectFirst { case Array("--mode", m) => m }
    val positional = args.indices
      .filterNot(i => args(i) == "--mode" || (i > 0 && args(i - 1) == "--mode"))
      .map(args)
    val env = (mode, positional) match {
      case (Some("manual"), ds +: _) => sys.env.toMap.updated("ds", ds)
      case _                         => sys.env.toMap
    }
    run(Cli.session(env, s"cdc_${Cli.required(env, "table_name")}_history",
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")), env)
  }

  def run(spark: SparkSession, env: Map[String, String]): Unit = {
    Jobs.historyMerge(spark, Cli.parseSpec(env), Cli.parseDs(env))
    println("History merge finished.")
  }
}
