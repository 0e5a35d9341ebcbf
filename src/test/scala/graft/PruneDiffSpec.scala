package graft

import java.nio.file.Files
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType,
  TimestampType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TagString, TagValue, WriteRequest}
import graft.engine.LynxEngine
import graft.tier.ParquetTier

/** Differential check of tier file skipping: generated queries over a
  * tiered engine (several sealed files per day with local host values,
  * a RAM tail, bloom/zone indexes) must answer exactly what the same
  * SQL answers over a plain DataFrame of every generated row. The
  * predicates mix timestamp bounds (both orientations, TIMESTAMP and
  * string literals, under CAST), string `=`/IN/OR-of-equalities,
  * string ranges and `try_cast` ranges; the shapes wrap them in CTEs,
  * derived tables, pass-through and renaming projections, LIMIT,
  * windows, joins, self-joins, UNIONs and subqueries.
  */
class PruneDiffSpec extends AnyFunSuite {
  import PruneDiffSpec._

  private val DayUs = 86400L * 1000000L
  private val Base = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  private val Days = 5
  private val Hosts = (0 until 8).map("h" + _)
  private val Regions = Seq("ap", "eu", "us")
  private val Values = (0 until 60).map(_.toString) ++
    Seq("-3", "12.5", "0.25", "NaN", "x", "7e1", "")

  private def genTable(name: String, sparse: String, n: Int,
      seals: Int): Gen[Table] = for {
    offsets <- Gen.listOfN(n, Gen.choose(0L, Days * DayUs - 1))
    picks <- Gen.listOfN(n, for {
      v <- Gen.oneOf(Values)
      r <- Gen.oneOf(Regions)
      h <- Gen.choose(0, 2)
      s <- Gen.choose(0, 9)
    } yield (v, r, h, s))
  } yield {
    val ts = offsets.distinct.map(Base + _)
    // each sealed batch spans every day but holds mostly its own hosts,
    // so blooms and zones exclude whole files within a day
    val batch = math.max(1, ts.size / (seals + 1))
    Table(name, sparse, ts.zip(picks).zipWithIndex.map {
      case ((t, (v, r, h, s)), i) =>
        val host = Hosts(((i / batch) * 2 + h) % Hosts.size)
        val tags = Map("host" -> host, "region" -> r) ++
          (if (i == 0 || s < 2) Map(sparse -> s"${sparse.take(1)}$s")
          else Map.empty)
        (t, v, tags)
    })
  }

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  private def lit(us: Long) = fmt.format(Instant.ofEpochSecond(us / 1000000L))

  private def genTime(c: Cols, t: Table): Gen[String] = for {
    us <- Gen.oneOf(Gen.oneOf(t.rows.map(_._1)),
      Gen.choose(Base - DayUs, Base + (Days + 1) * DayUs))
    op <- Gen.oneOf(">=", ">", "<=", "<", "=")
    form <- Gen.choose(0, 6)
  } yield {
    val x = c(c.ts)
    val s = lit(us)
    form match {
      case 0 => s"$x $op TIMESTAMP '$s'"
      case 1 => s"TIMESTAMP '$s' $op $x"
      case 2 => s"$x $op '$s'"
      case 3 => s"'${s.take(10)}' $op $x"
      case 4 => s"CAST($x AS DATE) $op '${s.take(10)}'"
      case 5 => s"$x $op CAST('$s' AS TIMESTAMP)"
      case _ => s"CAST($x AS STRING) $op '$s'"
    }
  }

  private def genString(c: Cols): Gen[String] = for {
    col <- Gen.oneOf(c.host, c.host, c.region, c.sparse, c.value)
    v <- Gen.oneOf(Hosts ++ Regions ++ Seq("z1", "r3", "17", "h9", "e"))
    w <- Gen.oneOf(Hosts ++ Regions)
    other <- Gen.oneOf(c.host, c.region)
    op <- Gen.oneOf(">=", ">", "<=", "<")
    form <- Gen.choose(0, 8)
  } yield {
    val x = c(col)
    form match {
      case 0 | 1 => s"$x = '$v'"
      case 2 => s"'$v' = $x"
      case 3 => s"$x IN ('$v', '$w')"
      case 4 => s"($x = '$v' OR $x = '$w' OR '$w' = $x)"
      case 5 => s"($x = '$v' OR ${c(other)} = '$w')"
      case 6 => s"$x $op '$v'"
      case 7 => s"'$v' $op $x"
      case _ => s"$x BETWEEN '$w' AND '$v'"
    }
  }

  private def genNumeric(c: Cols): Gen[String] = for {
    typ <- Gen.oneOf("BIGINT", "INT", "DOUBLE", "SMALLINT")
    op <- Gen.oneOf(">=", ">", "<=", "<", "=")
    n <- Gen.oneOf(Gen.choose(-5, 70).map(_.toString),
      Gen.oneOf("12.5", "0.25", "1e1", "40.0"))
    flip <- Gen.prob(0.3)
  } yield {
    val x = s"try_cast(${c(c.value)} AS $typ)"
    if (flip) s"$n $op $x" else s"$x $op $n"
  }

  private def genAtom(c: Cols, t: Table): Gen[String] =
    Gen.frequency(
      4 -> genTime(c, t), 4 -> genString(c), 3 -> genNumeric(c),
      1 -> Gen.oneOf(s"${c(c.sparse)} IS NULL", s"${c(c.sparse)} IS NOT NULL"),
      1 -> genString(c).map(a => s"NOT ($a)"),
      1 -> Gen.zip(genTime(c, t), genString(c))
        .map { case (a, b) => s"($a OR $b)" })

  private def genPred(c: Cols, t: Table): Gen[String] = for {
    k <- Gen.choose(1, 3)
    atoms <- Gen.listOfN(k, genAtom(c, t))
  } yield atoms.mkString(" AND ")

  private def agg(c: Cols) =
    s"count(*) AS n, min(${c(c.value)}) AS mn, max(${c(c.host)}) AS mx, " +
      s"max(${c(c.ts)}) AS mt"

  private def genQuery(cpu: Table, mem: Table): Gen[String] = {
    val plain = Cols()
    val m = Cols(q = "m.", sparse = "rack")
    def p(c: Cols = plain) = genPred(c, cpu)
    val cols = "timestamp, value, host, region, zone"
    Gen.choose(0, 17).flatMap {
      case 0 => p().map(w => s"SELECT ${agg(plain)} FROM cpu WHERE $w")
      case 1 => p().map(w => s"SELECT * FROM cpu WHERE $w")
      case 2 => p(Cols("c.")).map(w =>
        s"SELECT ${agg(Cols("c."))} FROM cpu c WHERE $w")
      case 3 => Gen.zip(p(), p()).map { case (a, b) =>
        s"WITH t AS (SELECT * FROM cpu WHERE $a) " +
          s"SELECT ${agg(plain)} FROM t WHERE $b" }
      case 4 => Gen.zip(p(), p(), p()).map { case (a, b, w) =>
        s"WITH a AS (SELECT * FROM cpu WHERE $a), b AS (SELECT $cols " +
          s"FROM a WHERE $b) SELECT ${agg(plain)} FROM b WHERE $w" }
      case 5 => Gen.zip(p(), p(Cols("d."))).map { case (a, b) =>
        s"SELECT ${agg(plain)} FROM (SELECT * FROM cpu WHERE $a) d " +
          s"WHERE $b" }
      case 6 => p(Cols("d.")).map(w =>
        s"SELECT ${agg(plain)} FROM (SELECT $cols FROM cpu) d WHERE $w")
      case 7 =>
        val r = Cols(ts = "ts", value = "v", host = "h", sparse = "z")
        p(r).map(w => s"SELECT ${agg(r)} FROM (SELECT timestamp AS ts, " +
          s"value AS v, host AS h, region, zone AS z FROM cpu) d WHERE $w")
      // renames that reuse a raw name for another column
      case 8 => p().map(w => s"SELECT ${agg(plain)} FROM (SELECT value " +
        s"AS host, host AS value, timestamp, region, zone FROM cpu) d " +
        s"WHERE $w")
      case 9 => p().map(w => s"SELECT ${agg(plain)} FROM (SELECT " +
        s"upper(host) AS host, value, timestamp + INTERVAL 1 DAY AS " +
        s"timestamp, region, zone FROM cpu) d WHERE $w")
      case 10 => Gen.zip(p(), Gen.choose(1, 120)).map { case (w, k) =>
        s"SELECT ${agg(plain)} FROM (SELECT * FROM cpu ORDER BY " +
          s"timestamp LIMIT $k) d WHERE $w" }
      case 11 => Gen.zip(p(), Gen.choose(1, 120)).map { case (w, k) =>
        s"SELECT ${agg(plain)}, max(rn) AS r FROM (SELECT *, row_number() " +
          s"OVER (ORDER BY timestamp) AS rn FROM cpu) d WHERE $w " +
          s"AND rn <= $k" }
      case 12 => Gen.zip(p(Cols("c.")), genPred(m, mem)).map { case (a, b) =>
        s"SELECT ${agg(Cols("c."))}, max(m.value) AS mv FROM cpu c " +
          s"JOIN mem m ON c.host = m.host WHERE $a AND $b" }
      case 13 => Gen.zip(p(Cols("c.")), genPred(m, mem)).map { case (a, b) =>
        s"SELECT ${agg(Cols("c."))}, count(m.value) AS mv FROM cpu c " +
          s"LEFT JOIN mem m ON c.host = m.host AND $b WHERE $a" }
      case 14 => Gen.zip(p(Cols("a.")), p(Cols("b."))).map { case (x, y) =>
        s"SELECT count(*) AS n, max(a.value) AS mx FROM cpu a JOIN cpu b " +
          s"ON a.host = b.host AND a.region = b.region WHERE $x AND $y" }
      case 15 => Gen.zip(p(), genPred(Cols(sparse = "rack"), mem)).map {
        case (a, b) => s"SELECT ${agg(plain)} FROM cpu WHERE $a AND host " +
          s"IN (SELECT host FROM mem WHERE $b)" }
      case 16 => Gen.zip(p(), p(), genPred(Cols(sparse = "rack"), mem)).map {
        case (a, b, w) => s"SELECT count(*) AS n, max(value) AS mx FROM " +
          s"(SELECT timestamp, value, host FROM cpu WHERE $a UNION ALL " +
          s"SELECT timestamp, value, host FROM cpu WHERE $b UNION ALL " +
          s"SELECT timestamp, value, host FROM mem WHERE $w) u" }
      case _ => Gen.zip(p(), Gen.oneOf(Hosts)).map { case (w, h) =>
        s"SELECT * FROM (SELECT host, count(*) AS n FROM cpu WHERE $w " +
          s"GROUP BY host) d WHERE host >= '$h'" }
    }
  }

  private def frame(s: SparkSession, t: Table) = {
    val tags = t.rows.flatMap(_._3.keys).distinct.sorted
    val schema = StructType(StructField("timestamp", TimestampType) +:
      StructField("value", StringType) +:
      tags.map(StructField(_, StringType)))
    s.createDataFrame(t.rows.map { case (us, v, m) =>
      Row.fromSeq(java.sql.Timestamp.from(Instant.ofEpochSecond(
        us / 1000000L, us % 1000000L * 1000L)) +: v +:
        tags.map(m.getOrElse(_, null)))
    }.asJava, schema)
  }

  /** The rows as sorted strings, or the failure's class. */
  private def outcome(run: => (Seq[String], Seq[Row]))
      : Either[String, (Seq[String], Seq[String])] =
    Try(run).toEither.left.map(_.getClass.getName).map {
      case (names, rows) =>
        (names, rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted)
    }

  test("property: tier file skipping never changes a query's result " +
    "(generated queries vs the same SQL over a plain DataFrame)") {
    var queries, failures = 0
    var total, read = 0L
    for (seed <- 1 to 3) {
      val (cpu, mem) = Gen.zip(genTable("cpu", "zone", 240, 3),
        genTable("mem", "rack", 60, 1))
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val tier = new ParquetTier(Files.createTempDirectory("prune-diff").toFile)
      val e = new LynxEngine(SparkFixture.spark,
        Files.createTempDirectory("prune-diff-wal").toFile, 1024 * 1024,
        Some(tier))
      for (t <- Seq(cpu, mem)) {
        val batch = t.rows.size / (if (t.name == "cpu") 4 else 2)
        t.rows.grouped(batch).zipWithIndex.foreach { case (rows, i) =>
          e.writeBatch(rows.map { case (us, v, m) =>
            WriteRequest("ns", t.name, v, m.map { case (k, x) =>
              k -> (TagString(x): TagValue) }, us)
          })
          // the last batch stays in RAM
          if (i < t.rows.size / batch - 1) e.seal("ns", t.name)
        }
      }
      val bs = e.valueBlooms.get
      Seq(("cpu", "host"), ("cpu", "value"), ("mem", "host"))
        .foreach { case (t, c) => bs.index("ns", t, c) }
      val oracle = SparkFixture.spark.newSession()
      frame(oracle, cpu).createOrReplaceTempView("cpu")
      frame(oracle, mem).createOrReplaceTempView("mem")
      val (total0, read0) = (e.pruneFilesTotal.get, e.pruneFilesRead.get)
      for (i <- 1 to 110) {
        val sql = genQuery(cpu, mem).pureApply(Gen.Parameters.default,
          Seed(seed * 1000L + i))
        val want = outcome {
          val df = oracle.sql(sql)
          (df.columns.toSeq, df.collect().toSeq)
        }
        val got = outcome {
          val r = e.query("ns", sql).get
          (r.schema.fieldNames.toSeq, r.rows)
        }
        assert(got == want, s"seed $seed query $i: $sql")
        queries += 1
        if (want.isLeft) failures += 1
      }
      total += e.pruneFilesTotal.get - total0
      read += e.pruneFilesRead.get - read0
    }
    // the cases are valid SQL, and skipping happens: fewer files are
    // read than are pinned
    assert(queries >= 300 && failures <= queries / 20,
      s"$failures of $queries queries failed")
    assert(read < total * 3 / 4, s"read $read of $total pinned files")
  }
}

object PruneDiffSpec {
  /** One table: its rows as (micros, value, tags), sealed in `seals`
    * batches, the rest left in RAM.
    */
  final case class Table(name: String, sparse: String,
      rows: Seq[(Long, String, Map[String, String])])

  /** Column names a predicate writes: qualifier prefix and the name
    * each raw column has where the predicate sits.
    */
  final case class Cols(q: String = "", ts: String = "timestamp",
      value: String = "value", host: String = "host",
      region: String = "region", sparse: String = "zone") {
    def apply(c: String): String = q + c
  }
}
