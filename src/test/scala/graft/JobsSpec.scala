package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.TestListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs
import graft.model.TableSpec
import graft.sources.{Lake, RawSource}

/** End-to-end file-based pipeline (SURVEY §7.2): streaming raw ingest
  * (file source in Kafka's place) → daily merge → history merge, in a
  * temp lake under target/tmp.
  */
class JobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = new java.io.File(s"target/tmp/jobs-$name-${System.nanoTime()}")
    d.mkdirs(); d.getAbsolutePath
  }

  private def ts(day: Int, i: Int) = Timestamp.valueOf(f"2024-01-$day%02d 00:00:$i%02d")

  private def envelope(t: Timestamp, op: String, id: String, product: String): (Timestamp, String) =
    (t, s"""{"ID":"$id","PRODUCT":${if (product == null) "null" else s""""$product""""},"__op":"$op","__deleted":"false"}""")

  test("writeClustered produces disjoint per-file key ranges and preserves rows") {
    val dir = tmp("clustered")
    val df = spark.range(0, 1000).select(
      (col("id") * 7919 % 1000).as("k"), col("id").as("payload"))
    Lake.writeClustered(df, dir, Seq("k"), nFiles = 4)

    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.agg(sum("payload")).as[Long].head() == (0L until 1000).sum)

    // range-partitioned files: per-file [min,max] on k must not overlap
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length <= 4 && files.length >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("k"), max("k")).as[(Long, Long)].head()
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
  }

  test("writeZOrdered interleaves correctly and keeps BOTH columns' file ranges tight") {
    // reference Morton implementation, driver-side
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val probe = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L), (65536L, 1L))
      .toDF("x", "y")
    val got = probe.select(col("x"), col("y"), Lake.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z == morton(x & 0xFFFF, y & 0xFFFF, 16)) }

    // a 2-d grid written z-ordered: every file's span on EACH key must be
    // a fraction of the full domain (a lexicographic sort would leave one
    // key's span at ~full range in every file)
    val dir = tmp("zorder")
    val n = 64
    val grid = spark.range(0, n.toLong * n).select(
      (col("id") % n).as("a"), floor(col("id") / n).cast("long").as("b"))
    Lake.writeZOrdered(grid, dir, "a", "b", nFiles = 16)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 8)
    val spans = files.map { f =>
      val (alo, ahi, blo, bhi) = spark.read.parquet(f.getAbsolutePath)
        .agg(min("a"), max("a"), min("b"), max("b")).as[(Long, Long, Long, Long)].head()
      (ahi - alo, bhi - blo)
    }
    val (avgA, avgB) = (spans.map(_._1).sum.toDouble / spans.length,
      spans.map(_._2).sum.toDouble / spans.length)
    assert(avgA < n * 0.6, s"mean a-span $avgA not tight")
    assert(avgB < n * 0.6, s"mean b-span $avgB not tight")
  }

  test("bucketed co-located join plans with zero exchanges") {
    val a = spark.range(0, 500).select(col("id").as("k"), (col("id") * 2).as("va"))
    val b = spark.range(0, 500).select(col("id").as("k"), (col("id") * 3).as("vb"))
    a.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_a")
    b.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_b")
    val j = spark.table("bkt_a").hint("merge")
      .join(spark.table("bkt_b").hint("merge"), "k")
    assert(j.count() == 500)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
  }

  test("kafkaOptions carries the reference's exact source options, with " +
      "the SASL block only when both credentials are present") {
    val spec = TableSpec("t", "graft_db", Seq("ID"), "/d", "/c", "cdc.topic")
    val plain = RawSource.kafkaOptions(spec, "broker:9092")
    assert(plain == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "cdc.topic",
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false"))
    val sasl = RawSource.kafkaOptions(spec, "broker:9092",
      Some("svc"), Some("pw"))
    assert(sasl("kafka.security.protocol") == "SASL_PLAINTEXT")
    assert(sasl("kafka.sasl.mechanism") == "SCRAM-SHA-256")
    assert(sasl("kafka.sasl.jaas.config") ==
      "org.apache.kafka.common.security.scram.ScramLoginModule required " +
        """username="svc" password="pw";""")
    // half-provided credentials are a MISCONFIGURATION (password env
    // var unset) — fail fast, never silently connect without SASL
    intercept[IllegalArgumentException] {
      RawSource.kafkaOptions(spec, "broker:9092", Some("svc"), None)
    }
  }

  test("raw ingest streams envelopes into a date-partitioned lake exactly once") {
    val root = tmp("raw")
    val spec = TableSpec("t", "graft_db", Seq("ID"),
      s"$root/lake", s"$root/ckpt", "topic")
    val in = s"$root/in"
    Seq(envelope(ts(1, 1), "c", "1", "LOAN"), envelope(ts(2, 2), "c", "2", "CARD"))
      .toDF("timestamp", "value").write.parquet(in)

    Jobs.rawIngest(RawSource.fileStream(spark, in), spec)
    val lake = spark.read.parquet(spec.dataDir)
    assert(lake.count() == 2)
    assert(lake.columns.toSet == Set("timestamp", "value", "op_year", "op_month", "op_day"))
    assert(Lake.readDay(spark, spec.dataDir, 2024, 1, 2).count() == 1)

    // re-run with the same checkpoint: no new data, no duplicates
    Jobs.rawIngest(RawSource.fileStream(spark, in), spec)
    assert(spark.read.parquet(spec.dataDir).count() == 2)
  }

  test("daily merge then history merge reproduce the expected replica state") {
    val root = tmp("merge")
    val spec = TableSpec("acct", "graft_db", Seq("ID"),
      s"$root/lake", s"$root/ckpt", "topic")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.dailyTable}")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.historyTable}")

    // day 1: snapshot + insert; day 2: update (out-of-order pair), delete, re-insert
    val day1 = Seq(
      envelope(ts(1, 1), "r", "1", "LOAN"),
      envelope(ts(1, 2), "c", "2", "CARD"))
    val day2 = Seq(
      envelope(ts(2, 4), "u", "1", "DEPOSIT"),
      envelope(ts(2, 3), "u", "1", "SAVINGS"),
      envelope(ts(2, 5), "d", "2", null),
      envelope(ts(2, 6), "c", "2", "CARD2"))
    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(day1.toDF("timestamp", "value")), spec.dataDir)
    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(day2.toDF("timestamp", "value")), spec.dataDir)

    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
    assert(spark.table(spec.dailyTable).count() == 2)

    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2))
    val daily = spark.table(spec.dailyTable)
      .select($"ID", $"PRODUCT").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(daily == Map("1" -> "DEPOSIT", "2" -> "CARD2"))

    // history backfill (table absent → full-raw scan), then daily truncated
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3))
    val hist = spark.table(spec.historyTable)
      .select(col("id"), col("product")).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hist == Map("1" -> "DEPOSIT", "2" -> "CARD2"))
    assert(spark.table(spec.dailyTable).count() == 0)
  }

  /** Spark jobs submitted while `body` runs, told apart from any other
    * thread's by a job group. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "counted")
    try { body; TestListenerDrain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(counter) }
    n.get
  }

  /** A merge-pipeline spec with its tables dropped and `days` of
    * envelopes landed in its raw lake. */
  private def landed(name: String, days: Seq[(Timestamp, String)]*): TableSpec = {
    val root = tmp(name)
    val spec = TableSpec(name, "graft_db", Seq("ID"), s"$root/lake", s"$root/ckpt", "topic")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.dailyTable}")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.historyTable}")
    days.foreach(d => Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(d.toDF("timestamp", "value")), spec.dataDir))
    spec
  }

  test("daily merge equals the merge contract across two days") {
    def env(t: Timestamp, op: String, id: String, region: String, product: String,
            risk: Option[String] = None) = {
      def str(v: String) = if (v == null) "null" else s""""$v""""
      (t, s"""{"ID":${str(id)},"REGION":${str(region)},"PRODUCT":${str(product)},""" +
        risk.fold("")(r => s""""RISK/SCORE":"$r",""") +
        s""""__op":${str(op)},"__deleted":"false"}""")
    }
    val day1 = Seq(
      env(ts(1, 1), "r", "1", "eu", "LOAN"), env(ts(1, 2), "c", "2", "eu", "CARD"),
      env(ts(1, 3), "c", "2", "us", "CARD"), env(ts(1, 4), "c", null, "eu", "ORPHAN"),
      env(ts(1, 5), "c", "3", null, "HALF"), env(ts(1, 6), "c", "4", "eu", "FX"),
      env(ts(1, 6), "c", "4", "eu", "FX")) // exact duplicate
    val day2 = Seq(
      env(ts(2, 1), "u", "1", "eu", "SAVINGS", Some("0.1")),
      env(ts(2, 3), "u", "1", "eu", "DEPOSIT", Some("0.2")), // newest update wins,
      env(ts(2, 10), "c", "1", "eu", "LOAN2"),               // even under a later insert
      env(ts(2, 2), "d", "2", "eu", null),
      env(ts(2, 4), "c", "2", "eu", "CARD2"),                // re-insert after delete
      env(ts(2, 5), "d", null, "eu", null),                  // null keys never tombstone
      env(ts(2, 6), "u", "3", null, "HALF2"),
      env(ts(2, 7), "x", "4", "eu", "UNKNOWN"),              // unknown and null ops drop
      env(ts(2, 8), null, "4", "eu", "NULLOP"),
      env(ts(2, 9), "u", "5", "eu", "NEW", Some("0.3")),
      env(ts(2, 9), "u", "5", "eu", "NEW", Some("0.3")))
    val spec = landed("contract", day1, day2).copy(primaryKeys = Seq("ID", "REGION"))
    val days = Seq(LocalDate.of(2024, 1, 1), LocalDate.of(2024, 1, 2))
    val want = days.foldLeft(Option.empty[DataFrame]) { (state, d) =>
      val ev = Jobs.readDayEvents(spark, spec, d).get
      val existing = state.getOrElse(graft.ops.CdcOps.emptyLike(ev.drop(graft.ops.CdcOps.metaColumns: _*)))
      Some(MergePropertySpec.contract(existing, ev, spec.primaryKeys, spec.orderColumns)
        .localCheckpoint(true))
    }.get
    days.foreach(Jobs.dailyMerge(spark, spec, _))
    val got = spark.table(spec.dailyTable)
    assert(MergePropertySpec.same(got, want),
      s"got:\n${got.collect().mkString("\n")}\nwant:\n${want.collect().mkString("\n")}")
    assert(got.columns.contains("RISK_SCORE"))
  }

  test("a merge runs at most four Spark jobs") {
    val spec = landed("jobcount",
      Seq(envelope(ts(1, 1), "r", "1", "LOAN"), envelope(ts(1, 2), "c", "2", "CARD")),
      Seq(envelope(ts(2, 1), "u", "1", "DEPOSIT"), envelope(ts(2, 2), "d", "2", null),
        envelope(ts(2, 3), "c", "3", "BOND")),
      Seq(envelope(ts(3, 1), "u", "3", "FX")))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
    val daily = jobsDuring(Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2)))
    val history = jobsDuring(Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 4)))
    assert(daily <= 4, s"daily merge ran $daily Spark jobs")
    assert(history <= 4, s"history merge ran $history Spark jobs")
  }

  test("a merge of an absent day writes nothing and does not throw") {
    val spec = landed("emptyday",
      Seq(envelope(ts(1, 1), "c", "1", "LOAN")), Seq(envelope(ts(3, 1), "c", "2", "CARD")))
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 2))
    assert(!Lake.tableExists(spark, spec.dailyTable))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // backfill of the whole log
    Jobs.dailyMerge(spark, spec, LocalDate.of(2024, 1, 1))
    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 3)) // ds-1 = Jan 2, absent
    assert(spark.table(spec.historyTable).count() == 2)
    assert(spark.table(spec.dailyTable).count() == 1) // no merge, so no truncate
  }

  test("history increment mode appends deduplicated rows") {
    val root = tmp("incr")
    val spec = TableSpec("facts", "graft_db", Seq("ID"),
      s"$root/lake", s"$root/ckpt", "topic", mode = "increment")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    spark.sql(s"DROP TABLE IF EXISTS ${spec.historyTable}")

    val rows = Seq(
      envelope(ts(1, 1), "c", "1", "A"),
      envelope(ts(1, 1), "c", "1", "A"), // exact duplicate
      envelope(ts(1, 2), "c", "2", "B"))
    Lake.appendPartitioned(
      graft.ops.CdcOps.withDatePartitions(rows.toDF("timestamp", "value")), spec.dataDir)

    Jobs.historyMerge(spark, spec, LocalDate.of(2024, 1, 2)) // reads ds-1 = Jan 1
    assert(spark.table(spec.historyTable).count() == 2)
  }
}
