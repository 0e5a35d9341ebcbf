package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TagString, WriteRequest}
import graft.engine.LynxEngine
import graft.plans.ParamLiteral

/** The literal-parameterizing physical rule of [[GraftExtensions]]:
  * it must change neither results nor EXPLAIN text. Results are
  * compared between a session with the rule and one without.
  */
class ParamLiteralSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("dt", DateType),
    StructField("ts", TimestampType)))

  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    // an RDD, not a local relation: the optimizer would evaluate a
    // filter over local rows itself, and no FilterExec would remain
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    plan.collect { case f: FilterExec => f.condition }
      .flatMap(_.collect { case p: ParamLiteral => p })

  private def unparameterized(plan: SparkPlan): SparkPlan =
    plan.transformAllExpressions {
      case p: ParamLiteral => Literal(p.value, p.dataType)
    }

  test("EXPLAIN text is the same with and without the rule") {
    val rows = Seq(Row(1, 2L, 0.5, java.sql.Date.valueOf("2024-01-02"),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
    val pred = "i < 7 AND l + 3 > CAST('-9223372036854775000' AS BIGINT) " +
      "AND d <> CAST('NaN' AS DOUBLE) AND dt >= DATE '1500-03-01' " +
      "AND ts < TIMESTAMP '2030-01-01 00:00:00'"
    val df = frame(SparkFixture.graft, rows).filter(pred)
    val plan = df.queryExecution.executedPlan
    assert(params(plan).size == 6, plan.treeString)
    assert(plan.treeString == unparameterized(plan).treeString)
    val cond = plan.collectFirst { case f: FilterExec => f.condition }.get
    assert(cond.sql == unparameterized(plan)
      .collectFirst { case f: FilterExec => f.condition }.get.sql)
    assert(df.collect().length == 1)

    // end to end: EXPLAIN through the engine on both sessions
    def explain(spark: SparkSession): String = {
      val e = new LynxEngine(spark,
        Files.createTempDirectory("param-explain").toFile, 1024 * 1024)
      e.write(WriteRequest("ns", "cpu", "5", Map("host" -> TagString("a")),
        2000000L))
      e.query("ns", "EXPLAIN EXTENDED SELECT value FROM cpu WHERE " +
        "CAST(value AS BIGINT) < 7 AND timestamp >= " +
        "TIMESTAMP '1970-01-01 00:00:01'").get.rows.head.getString(0)
        .replaceAll("#\\d+", "#")
    }
    val withRule = explain(SparkFixture.graft)
    assert(withRule.contains("Filter"), withRule)
    assert(withRule == explain(SparkFixture.spark))
  }

  test("exchange reuse stays exact: filters differing only in a literal " +
    "are not reused for each other, equal ones are") {
    val rows = (0 until 20).map(i => Row(i, i.toLong, i * 0.5,
      java.sql.Date.valueOf("2024-01-02"),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
    // without AQE, exchange reuse compares the plans the rule rewrote
    val s = SparkFixture.graft.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def counts(lo: Long, hi: Long) = {
      val df = frame(s, rows)
      val u = df.filter(s"l < $lo").groupBy("i").count().selectExpr("count(*)")
        .union(df.filter(s"l < $hi").groupBy("i").count()
          .selectExpr("count(*)"))
      (u.collect().map(_.getLong(0)).toSeq,
        u.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    }
    assert(counts(3L, 12L) == ((Seq(3L, 12L), false)))
    // the check above is not vacuous: equal filters do reuse
    val (same, reused) = counts(5L, 5L)
    assert(same == Seq(5L, 5L) && reused)
  }

  // edge values of every column type; NULL is one of them
  private val ints = Gen.oneOf[Any](Int.MinValue, -1, 0, 1, 7, Int.MaxValue,
    null)
  private val longs = Gen.oneOf[Any](Long.MinValue, -1L, 0L, 3L,
    Long.MaxValue, null)
  private val doubles = Gen.oneOf[Any](Double.NaN, -0.0, 0.0, 1.5,
    Double.MinValue, Double.PositiveInfinity, null)
  private val days = Seq("0001-01-01", "1000-02-28", "1582-10-04",
    "1582-10-15", "1969-12-31", "1970-01-01", "2024-02-29")
  private val times = Seq("0001-01-01 00:00:00", "1500-06-01 12:00:00",
    "1582-10-04 23:59:59", "1969-12-31 23:59:59.999999",
    "1970-01-01 00:00:00", "2038-01-19 03:14:08")
  private val rowGen: Gen[Row] = for {
    i <- ints; l <- longs; d <- doubles
    dt <- Gen.option(Gen.oneOf(days)); ts <- Gen.option(Gen.oneOf(times))
  } yield Row(i, l, d, dt.map(java.sql.Date.valueOf).orNull,
    ts.map(java.sql.Timestamp.valueOf).orNull)

  // a typed literal as SQL; CAST of a string folds to a literal
  private def lit(t: String, v: Any): String = t match {
    case "i" => s"CAST('$v' AS INT)"
    case "l" => s"CAST('$v' AS BIGINT)"
    case "d" => s"CAST('$v' AS DOUBLE)"
    case "dt" => s"DATE '$v'"
    case _ => s"TIMESTAMP '$v'"
  }
  private val litGen: Map[String, Gen[Any]] = Map(
    "i" -> Gen.oneOf[Any](Int.MinValue, -2, 0, 1, 7, Int.MaxValue),
    "l" -> Gen.oneOf[Any](Long.MinValue, -2L, 0L, 3L, Long.MaxValue),
    "d" -> Gen.oneOf[Any]("NaN", "-0.0", "0.0", "1.5", "-Infinity",
      "1.7976931348623157E308"),
    "dt" -> Gen.oneOf[Any](days), "ts" -> Gen.oneOf[Any](times))
  private val cmp = Gen.oneOf("=", "<>", "<", "<=", ">", ">=", "<=>")
  private val arith = Gen.oneOf("+", "-", "*", "%")

  private val atom: Gen[String] = for {
    c <- Gen.oneOf("i", "l", "d", "dt", "ts")
    op <- cmp
    v <- litGen(c)
    w <- litGen(c)
    a <- arith
    shape <- Gen.choose(0, 2)
  } yield shape match {
    case 0 => s"$c $op ${lit(c, v)}"
    case 1 => s"${lit(c, v)} $op $c"
    // arithmetic only on the numeric columns
    case _ if c == "dt" || c == "ts" => s"$c $op ${lit(c, v)}"
    case _ => s"($c $a ${lit(c, v)}) $op ${lit(c, w)}"
  }
  private val predicate: Gen[String] = for {
    a <- atom; b <- atom; join <- Gen.oneOf("AND", "OR")
    two <- Gen.oneOf(true, false)
  } yield if (two) s"$a $join $b" else a

  test("property: generated filters give the same rows with and " +
    "without the rule, ANSI on and off, errors included") {
    var parameterized = 0
    val cases = 80
    (1 to cases).foreach { k =>
      val p = Gen.Parameters.default
      val rows = Gen.listOfN(12, rowGen).pureApply(p, Seed(k.toLong))
      val pred = predicate.pureApply(p, Seed(1000L + k))
      val ansi = k % 2 == 0
      // (sorted rows, ParamLiterals in the plan's filters)
      def run(base: SparkSession) = Try {
        val s = base.newSession()
        s.conf.set("spark.sql.ansi.enabled", ansi.toString)
        val df = frame(s, rows).filter(pred)
        (df.collect().map(_.toString).sorted.toSeq,
          params(df.queryExecution.executedPlan).size)
      }
      val got = run(SparkFixture.graft)
      val want = run(SparkFixture.spark)
      if (got.toOption.exists(_._2 > 0)) parameterized += 1
      (got.map(_._1).toEither, want.map(_._1).toEither) match {
        case (Right(g), Right(w)) =>
          assert(g == w, s"case $k (ansi=$ansi): $pred")
        case (Left(g), Left(w)) =>
          assert(g.getClass == w.getClass, s"case $k (ansi=$ansi): $pred")
        case _ =>
          fail(s"case $k (ansi=$ansi): $pred: with rule $got, without $want")
      }
    }
    // the rule must actually have rewritten most generated filters
    assert(parameterized > cases / 2, s"$parameterized of $cases")
  }
}
