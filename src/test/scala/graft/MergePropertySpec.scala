package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CdcOps

/** Property check of [[CdcOps.mergeBatch]] against the merge contract as
  * the reference states it ([[MergePropertySpec.contract]]): random
  * multi-batch streams with composite and null keys, exact duplicate
  * events, deletes followed by re-inserts, unknown and null op codes,
  * and a drift column that appears mid-stream. Timestamps are distinct,
  * since an LWW tie may pick either row in both versions.
  */
class MergePropertySpec extends AnyFunSuite {
  import MergePropertySpec._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pks = Seq("k1", "k2")

  /** One change event before timestamps are assigned. */
  case class Ev(op: Option[String], k1: Option[Int], k2: Option[String], v: Option[String])

  private val genKey: Gen[(Option[Int], Option[String])] = for {
    k1 <- Gen.frequency(9 -> Gen.choose(1, 4).map(Some(_)), 1 -> Gen.const(None))
    k2 <- Gen.frequency(9 -> Gen.oneOf("a", "b").map(Some(_)), 1 -> Gen.const(None))
  } yield (k1, k2)

  private val genOp: Gen[Option[String]] = Gen.frequency(
    3 -> Gen.const(Some("c")), 1 -> Gen.const(Some("r")), 5 -> Gen.const(Some("u")),
    2 -> Gen.const(Some("d")), 1 -> Gen.const(Some("x")), 1 -> Gen.const(None))

  private val genEv: Gen[Ev] = for {
    op <- genOp
    k <- genKey
    v <- Gen.option(Gen.oneOf("p", "q", "s", "t"))
  } yield Ev(op, k._1, k._2, v)

  /** A few events, grouped by shared timestamp: one event, an exact
    * duplicate pair, or a delete followed by a re-insert of its key. */
  private val genItem: Gen[Seq[Seq[Ev]]] = Gen.frequency(
    8 -> genEv.map(e => Seq(Seq(e))),
    1 -> genEv.map(e => Seq(Seq(e, e))),
    1 -> genEv.map(e => Seq(Seq(e.copy(op = Some("d"), v = None)), Seq(e.copy(op = Some("c"))))))

  /** Batches of timestamped events: timestamps rise through the stream
    * and only exact duplicates share one; rows are shuffled within each
    * batch. */
  private val genStream: Gen[Seq[Seq[(Int, Ev)]]] = for {
    sizes <- Gen.listOfN(3, Gen.choose(4, 10))
    items <- Gen.listOfN(sizes.sum, genItem)
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield {
    var t = 0
    val timed = items.map(_.flatMap { group => t += 1; group.map(t -> _) })
    val rnd = new scala.util.Random(seed)
    val bounds = sizes.scanLeft(0)(_ + _)
    bounds.zip(bounds.tail).map { case (a, b) => rnd.shuffle(timed.slice(a, b).flatten) }
  }

  /** Batch `i` as parsed events; from the second batch on the payload
    * carries a drift column. */
  private def frame(i: Int, batch: Seq[(Int, Ev)]): DataFrame = {
    val df = batch.map { case (t, e) =>
      (new Timestamp(t * 1000L), e.op.orNull, "false", e.k1, e.k2.orNull, e.v.orNull)
    }.toDF("timestamp", "__op", "__deleted", "k1", "k2", "v")
    if (i == 0) df else df.withColumn("extra", concat(lit("e"), col("v")))
  }

  test("mergeBatch equals the anti-join + union + distinct contract on random streams") {
    val prop = Prop.forAllNoShrink(genStream) { stream =>
      val batches = stream.zipWithIndex.map { case (b, i) => frame(i, b) }
      val empty = CdcOps.emptyLike(batches.head.drop(CdcOps.metaColumns: _*))
      batches.foldLeft((empty, empty, true)) { case ((got, want, ok), ev) =>
        val g = CdcOps.mergeBatch(got, ev, pks).localCheckpoint(true)
        val w = contract(want, ev, pks, Seq("timestamp")).localCheckpoint(true)
        (g, w, ok && same(g, w))
      }._3
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("mergeBatch plans one exchange, one sort and one window") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val ev = frame(1, Seq(1 -> Ev(Some("c"), Some(1), Some("a"), Some("p"))))
    val existing = spark.range(0, 100).select(
      (col("id") % 5).cast("int").as("k1"), lit("a").as("k2"),
      current_timestamp().as("timestamp"), col("id").cast("string").as("v"))
    val plan: SparkPlan = CdcOps.mergeBatch(existing, ev, pks).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def count(pf: PartialFunction[SparkPlan, Unit]) = plan.collect(pf).size
    assert(count { case _: ShuffleExchangeExec => } == 1, plan.toString)
    assert(count { case _: SortExec => } == 1, plan.toString)
    assert(count { case _: WindowExec => } == 1, plan.toString)
  }
}

object MergePropertySpec {

  /** The merge contract the way the reference states it: route by op
    * code, keep the newest update per key, anti-join the deleted and
    * updated keys out of the existing rows, union by name with missing
    * columns null, full-row distinct. */
  def contract(existing: DataFrame, events: DataFrame, pks: Seq[String],
               order: Seq[String]): DataFrame = {
    val op = col(CdcOps.OpColumn)
    val inserts = events.filter(op.isin("c", "r")).drop(CdcOps.metaColumns: _*)
    val newest = Window.partitionBy(pks.map(col): _*).orderBy(order.map(col(_).desc): _*)
    val updates = events.filter(op === "u")
      .withColumn("__rn", row_number().over(newest)).filter(col("__rn") === 1)
      .drop("__rn" +: CdcOps.metaColumns: _*)
    val tombstones = events.filter(op === "d").select(pks.map(col): _*)
      .unionByName(updates.select(pks.map(col): _*))
    existing.join(tombstones, pks, "left_anti")
      .unionByName(inserts, allowMissingColumns = true)
      .unionByName(updates, allowMissingColumns = true)
      .distinct()
  }

  /** Same column names, types and order, and the same multiset of rows
    * (printed on a mismatch). */
  def same(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val ok = a.schema.map(f => (f.name, f.dataType)) == b.schema.map(f => (f.name, f.dataType)) &&
      rows(a) == rows(b)
    if (!ok) println(s"got ${a.schema.simpleString}:\n${rows(a).mkString("\n")}\n" +
      s"want ${b.schema.simpleString}:\n${rows(b).mkString("\n")}")
    ok
  }
}
