package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference model of the documented merge contract, written in plain
  * Spark SQL over the landed envelopes. It calls nothing in `graft`, so
  * a change to `CdcOps`, `Jobs` or `Lake` that alters results shows as
  * a mismatch against it.
  *
  * The contract, per stage call:
  *  - daily(ds): the day's events (UTC date of `timestamp`), payload
  *    names with `/` replaced by `_`, merged into `_daily`;
  *  - history(ds): when `_history` exists, the events of ds-1 with
  *    lowercased names, full-row distinct, merged into `_history`;
  *    otherwise every landed event folded last-writer-wins per key,
  *    deletes dropped. After either write `_daily` is truncated.
  *  - merge(existing, events): inserts (`c`, `r`) plus the newest update
  *    per key, appended to the existing rows whose key has no delete or
  *    update in the batch; missing columns are null; full-row distinct.
  *
  * The pipeline logs each call here as it makes it; the log is replayed
  * only when a check asks for the state, so the timed loop does no
  * replay work. States are lazy plans over temp views, None while the
  * table does not exist. The contract's collision rename for a payload
  * column named `timestamp` is not modelled: the generator never emits
  * one.
  */
final class Replay(spark: SparkSession, pk: String) {
  private val log = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  private var applied = 0
  private var landed: Seq[String] = Nil // as of the op being replayed
  private var seen: Seq[java.io.File] = Nil // as of the last call logged
  private var n = 0
  private var dailyState: Option[State] = None
  private var historyState: Option[State] = None

  /** A table's columns and its contents, built only when a check reads
    * it: a `_daily` chain that history truncates is never planned. */
  private final class State(val cols: Seq[String], build: => DataFrame) {
    lazy val df: DataFrame = build
  }

  /** Envelope parquet files of one landing. */
  def land(files: Seq[java.io.File]): Unit = {
    seen ++= files
    val ids = files.map(id)
    log += (() => landed ++= ids)
  }

  /** Files are named by their last two path elements (landing/file),
    * the same for a local path and the URI `input_file_name` gives. */
  private def id(f: java.io.File): String = s"${f.getParentFile.getName}/${f.getName}"

  def dailyMerge(ds: LocalDate): Unit = log += (() => applyDaily(ds))
  def historyMerge(ds: LocalDate): Unit = log += (() => applyHistory(ds))

  private def sync(): Unit = {
    learn()
    while (applied < log.size) { log(applied)(); applied += 1 }
  }
  def daily: Option[DataFrame] = { sync(); dailyState.map(_.df) }
  def history: Option[DataFrame] = { sync(); historyState.map(_.df) }

  private def view(df: DataFrame): String = {
    n += 1
    val name = s"replay_$n"
    df.createOrReplaceTempView(name)
    name
  }

  private def q(c: String) = "`" + c.replace("`", "``") + "`"

  // payload keys of each landed file, by UTC date of its events, and a
  // view over every landed envelope tagged with its file
  private val keysOf = scala.collection.mutable.Map.empty[String, Map[LocalDate, Seq[String]]]
  private var envelopes = ""

  /** One scan per check for the files landed since the last one. */
  private def learn(): Unit = {
    val fresh = seen.map(id).filterNot(keysOf.contains)
    if (fresh.nonEmpty) {
      envelopes = view(spark.read.parquet(seen.map(_.getAbsolutePath): _*).selectExpr(
        "regexp_extract(input_file_name(), '[^/]+/[^/]+$', 0) AS f", "timestamp", "value"))
      val rows = spark.sql(
        s"""SELECT f, to_date(timestamp) AS d, collect_set(k) AS ks FROM (
           |  SELECT f, timestamp, explode(json_object_keys(value)) AS k FROM $envelopes
           |  WHERE f IN (${fresh.map(f => s"'$f'").mkString(", ")}))
           |GROUP BY 1, 2""".stripMargin).collect()
      val byFile = rows.groupBy(_.getString(0))
      fresh.foreach { f =>
        keysOf(f) = byFile.getOrElse(f, Array.empty).map { r =>
          r.getDate(1).toLocalDate -> r.getSeq[String](2)
        }.toMap
      }
    }
  }

  /** Parsed events of the envelopes landed so far on day `ds` (all days
    * when None), with the payload keys found in them as string columns. */
  private def events(ds: Option[LocalDate], lower: Boolean): Option[(String, Seq[String])] = {
    val files = landed.filter(f => ds.forall(keysOf(f).contains))
    val keys = files.flatMap(f => ds.map(d => keysOf(f)(d)).getOrElse(keysOf(f).values.flatten))
      .distinct.sorted
    if (keys.isEmpty) return None
    val where = ds.map(d => s"to_date(timestamp) = DATE'$d'").getOrElse("true")
    val inFiles = files.map(f => s"'$f'").mkString(", ")
    val struct = keys.map(k => s"${q(k)}: STRING").mkString("STRUCT<", ", ", ">")
    def clean(k: String) = { val s = k.replace("/", "_"); if (lower) s.toLowerCase else s }
    val cols = keys.map(k => s"p.${q(k)} AS ${q(clean(k))}")
    val parsed = spark.sql(
      s"""SELECT timestamp, ${cols.mkString(", ")} FROM (
         |  SELECT timestamp, from_json(value, '$struct') AS p FROM $envelopes
         |  WHERE f IN ($inFiles) AND $where)""".stripMargin)
    Some((view(parsed), "timestamp" +: keys.map(clean)))
  }

  private val meta = Set("__op", "__deleted")

  private def merge(existing: Option[State], ev: String, evCols: Seq[String]): State = {
    val payload = evCols.filterNot(meta)
    val exCols = existing.map(_.cols).getOrElse(Nil)
    val out = exCols ++ payload.filterNot(c => exCols.exists(_.equalsIgnoreCase(c)))
    def aligned(have: Seq[String]) = out.map { c =>
      if (have.exists(_.equalsIgnoreCase(c))) q(c) else s"CAST(NULL AS STRING) AS ${q(c)}"
    }.mkString(", ")
    val p = q(pk)
    def kept = existing.map { st =>
      s"SELECT ${aligned(exCols)} FROM ${view(st.df)} e LEFT ANTI JOIN tomb t ON e.$p = t.$p UNION ALL "
    }.getOrElse("")
    new State(out, spark.sql(
      s"""WITH ins AS (SELECT ${payload.map(q).mkString(", ")} FROM $ev WHERE __op IN ('c', 'r')),
         |upd AS (SELECT ${payload.map(q).mkString(", ")} FROM (
         |  SELECT *, row_number() OVER (PARTITION BY $p ORDER BY timestamp DESC) AS rn
         |  FROM $ev WHERE __op = 'u') WHERE rn = 1),
         |tomb AS (SELECT $p FROM $ev WHERE __op = 'd' UNION ALL SELECT $p FROM upd)
         |SELECT DISTINCT * FROM (
         |  $kept
         |  SELECT ${aligned(payload)} FROM ins UNION ALL
         |  SELECT ${aligned(payload)} FROM upd)""".stripMargin))
  }

  private def applyDaily(ds: LocalDate): Unit =
    events(Some(ds), lower = false).foreach { case (ev, cols) =>
      dailyState = Some(merge(dailyState, ev, cols))
    }

  private def applyHistory(ds: LocalDate): Unit = {
    val wrote = historyState match {
      case Some(_) =>
        events(Some(ds.minusDays(1)), lower = true).exists { case (ev, cols) =>
          val distinct = view(spark.sql(s"SELECT DISTINCT * FROM $ev"))
          historyState = Some(merge(historyState, distinct, cols))
          true
        }
      case None =>
        events(None, lower = true).exists { case (ev, cols) =>
          val payload = cols.filterNot(meta)
          val p = q(pk)
          historyState = Some(new State(payload, spark.sql(
            s"""SELECT ${payload.map(q).mkString(", ")} FROM (
               |  SELECT *, row_number() OVER (PARTITION BY $p ORDER BY timestamp DESC) AS rn
               |  FROM (SELECT DISTINCT * FROM $ev))
               |WHERE rn = 1 AND __op <> 'd'""".stripMargin)))
          true
        }
    }
    if (wrote) dailyState = dailyState.map { st =>
      new State(st.cols, spark.sql(st.cols.map { c =>
        s"CAST(NULL AS ${if (c == "timestamp") "TIMESTAMP" else "STRING"}) AS ${q(c)}"
      }.mkString("SELECT ", ", ", " WHERE false")))
    }
  }
}

object Replay {

  /** Row count and the sum of a 64-bit hash per row: equal for equal
    * multisets of rows. Each column is hashed with its null flag, so a
    * null moving between columns changes the hash. */
  private def digest(spark: SparkSession, df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    df.createOrReplaceTempView("digest_input")
    val h = cols.map(c => s"`$c`, `$c` IS NULL").mkString(", ")
    val r = spark.sql(
      s"SELECT count(*), sum(CAST(xxhash64($h) AS DECIMAL(38, 0))) FROM digest_input").collect().head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Rows of `table` equal the replayed state as multisets over the same
    * column names and types; None (table absent) matches only None. */
  def matches(spark: SparkSession, table: String, expected: Option[DataFrame]): Boolean =
    (spark.catalog.tableExists(table), expected) match {
      case (false, None) => true
      case (true, Some(want)) =>
        val got = spark.table(table)
        val cols = got.columns.sorted.toSeq
        cols == want.columns.sorted.toSeq &&
          cols.forall(c => got.schema(c).dataType == want.schema(c).dataType) &&
          digest(spark, got, cols) == digest(spark, want, cols)
      case _ => false
    }
}
