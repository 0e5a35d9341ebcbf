package enginebench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the value with exactly ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.pct == 90.0 && t.n == 100)
  }

  test("eleven samples support a tail at the minimum; ten support none") {
    val eleven = (1 to 11).map(_.toDouble)
    assert(Stats.tail(eleven).map(_.value).contains(1.0))
    assert(Stats.tail(eleven.take(10)).isEmpty)
  }

  test("the tail percentile rises with the sample count") {
    val pcts = Seq(20, 200, 2000).map(n => Stats.tail((1 to n).map(_.toDouble)).get.pct)
    assert(pcts == Seq(50.0, 95.0, 99.5))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}

class OpenLoopSpec extends AnyFunSuite {
  private val ms = 1000000L

  test("requests are due on a fixed schedule, whatever came before") {
    val ol = new OpenLoop(1000L, 10 * ms)
    assert(ol.due(0) == 1000L)
    assert(ol.due(7) == 1000L + 70 * ms)
  }

  test("a stall is charged to every request it delayed") {
    val ol = new OpenLoop(0L, 10 * ms)
    // request 0 stalls for 50 ms; 1..4 were due meanwhile and go late
    assert(ol.account(0, 0L, 50 * ms) == ((50.0, 0.0)))
    assert(ol.account(1, 50 * ms, 51 * ms) == ((41.0, 40.0)))
    assert(ol.account(4, 53 * ms, 54 * ms) == ((14.0, 13.0)))
    // back on schedule: latency is service time again, no lag
    assert(ol.account(6, 60 * ms, 61 * ms) == ((1.0, 0.0)))
  }

  test("await returns at once when late and waits until due otherwise") {
    val ol = new OpenLoop(0L, 10 * ms)
    var now = 25 * ms
    ol.await(1, () => now) // due at 10 ms, already late
    var calls = 0
    now = 0L
    ol.await(3, () => { calls += 1; if (calls > 2) 30 * ms else now })
    assert(calls == 3)
  }
}

class GenSpec extends AnyFunSuite {
  test("the same seed gives byte-identical request bodies") {
    for (c <- 0 until 2; k <- Seq(0L, 1L, 99L)) {
      val a = Gen.body("ingest", "cpu", Gen.ingestPoints(42L, c, 2, k))
      val b = Gen.body("ingest", "cpu", Gen.ingestPoints(42L, c, 2, k))
      assert(a.sameElements(b))
    }
    val t1 = Gen.table(42L, 11, 500, Gen.Base, 7, rotate = false)
    val t2 = Gen.table(42L, 11, 500, Gen.Base, 7, rotate = false)
    assert(Workloads.bodies("s", "cpu", t1, 100).map(_.toSeq) ==
      Workloads.bodies("s", "cpu", t2, 100).map(_.toSeq))
  }

  test("another seed gives other bodies") {
    val a = Gen.body("ingest", "cpu", Gen.ingestPoints(1L, 0, 2, 0))
    val b = Gen.body("ingest", "cpu", Gen.ingestPoints(2L, 0, 2, 0))
    assert(!a.sameElements(b))
  }

  test("ingest timestamps are unique across clients and requests") {
    val ts = for (c <- 0 until 2; k <- 0L until 50L; p <- Gen.ingestPoints(7L, c, 2, k)) yield p.ts
    assert(ts.distinct.size == ts.size)
  }

  test("rotated tables hold one host block per day") {
    val t = Gen.table(3L, 21, 2000, Gen.Base, 10, rotate = true)
    t.groupBy(p => (p.ts - Gen.Base) / Gen.DayUs).foreach { case (day, ps) =>
      assert(ps.map(_.host / (Gen.Hosts / 5)).distinct.toSeq == Seq((day % 5).toInt))
    }
  }

  test("a single point is sent as the reference's single-object body") {
    val one = new String(Gen.body("n", "t", Seq(Pt(5L, 7, 3, -1))), UTF_8)
    assert(one == """{"namespace":"n","measurement":"t","value":"7",""" +
      """"metadata":{"host":"host-003","region":"region-3"},"timestamp":5}""")
  }
}

class AnswersSpec extends AnyFunSuite {
  private val pts = Array(
    Pt(Gen.Base, 10, 0, -1), Pt(Gen.Base + 1, 20, 1, 2),
    Pt(Gen.Base + 2, 30, 8, -1), Pt(Gen.Base + 3, 40, 9, 4))
  private def b(s: String) = s.getBytes(UTF_8)

  test("aggregates over a tiny dataset") {
    assert(Answers.agg(pts, _.value > 15) == ((3L, 90L)))
    assert(Answers.groupAgg(pts, _ => true, p => Gen.regionName(Gen.regionOf(p.host))) ==
      Map("region-0" -> ((2L, 40L)), "region-1" -> ((2L, 60L))))
  }

  test("replies are checked against the expected answer") {
    assert(Answers.checkAgg(b("""[{"n":3,"s":90}]"""), (3L, 90L)).isEmpty)
    assert(Answers.checkAgg(b("""[{"n":3,"s":91}]"""), (3L, 90L)).nonEmpty)
    // an empty match: sum is NULL, so JSON omits it
    assert(Answers.checkAgg(b("""[{"n":0}]"""), (0L, 0L)).isEmpty)
    val groups = Map("region-0" -> ((2L, 40L)), "region-1" -> ((2L, 60L)))
    assert(Answers.checkGroups(b("""[{"region":"region-1","n":2,"s":60},""" +
      """{"region":"region-0","n":2,"s":40}]"""), "region", groups, withSum = true).isEmpty)
    assert(Answers.checkGroups(b("""[{"region":"region-0","n":2,"s":40}]"""),
      "region", groups, withSum = true).nonEmpty)
  }

  test("wide rows: count, value sum and the sparse tag's NULLs") {
    val reply = """[{"timestamp":"t","value":"10","host":"host-000"},""" +
      """{"timestamp":"t","value":"20","host":"host-001","rack":"rack-2"}]"""
    assert(Answers.checkRows(b(reply), pts.take(2)).isEmpty)
    assert(Answers.checkRows(b(reply), pts.take(1)).nonEmpty)
    val rackless = reply.replace(""","rack":"rack-2"""", "")
    assert(Answers.checkRows(b(rackless), pts.take(2)).nonEmpty)
  }

  test("query texts are seeded, and distinct except the dashboard's") {
    val cpu = Gen.table(5L, 11, 1000, Gen.Base, 7, rotate = false)
    val alerts = Gen.alerts(5L, Gen.Base)
    def sqls(seed: Long) = {
      val mix = Queries.scanBuffer(seed, "scan", cpu, alerts, 50)
      (0L until 40L).map(k => mix.next(0, k).sql)
    }
    assert(sqls(5L) == sqls(5L))
    assert(sqls(5L) != sqls(6L))
    assert(sqls(5L).distinct.size == 40)
    val mixed = Queries.mixed(5L, "m", "o", alerts, cpu, () => (0L, () => 0L))
    val dash = (0L until 30L).map(k => mixed.next(1, k)).filter(_.cls == "q_dashboard").map(_.sql)
    assert(dash.size == 10 && dash.distinct.size == 1)
  }

  test("q_fresh accepts counts between acknowledged and sent rows") {
    val mix = Queries.mixed(1L, "m", "o", Gen.alerts(1L, Gen.Base),
      Gen.table(1L, 32, 100, Gen.Base, 7, rotate = false), () => (100L, () => 300L))
    val q = (0L until 3L).map(mix.next(0, _)).find(_.cls == "q_fresh").get
    assert(q.check(b("""[{"n":100}]""")).isEmpty)
    assert(q.check(b("""[{"n":300}]""")).isEmpty)
    assert(q.check(b("""[{"n":99}]""")).nonEmpty)
    assert(q.check(b("""[{"n":301}]""")).nonEmpty)
  }
}

class SpansSpec extends AnyFunSuite {
  test("self time subtracts the union of the children") {
    val root = Span(1, 0, 1, "root", 0L, 100L)
    val kids = Seq(Span(2, 1, 1, "a", 10L, 40L), Span(3, 1, 1, "b", 30L, 50L),
      Span(4, 1, 1, "c", 90L, 120L))
    // covered: [10, 50] and [90, 100] = 50 ns of 100
    assert(Spans.selfMs(root, kids) == 50 / 1e6)
    assert(Spans.selfMs(root, Nil) == 100 / 1e6)
  }
}

class OpSamplesSpec extends AnyFunSuite {
  private def run(workload: String): Run = {
    val r = new Run(workload, 1L, 1.0, Sizes.Smoke)
    r.writeLat.add("warm", 9.0)
    r.writeLat.add("batch", 1.0)
    r.writeLat.add("single", 2.0)
    r.writeLat.add("preload", 7.0)
    r.queryLat.add("q_host_eq", 3.0)
    r
  }

  test("the timed op is the write on ingest, less the warm-up") {
    val r = run("ingest")
    r.queryLat.add("recount", 8.0)
    assert(Workloads.opSamples(r).sorted == Seq(1.0, 2.0))
  }

  test("the timed op is the query on every other workload") {
    for (w <- Seq("scan_buffer", "tiered", "mixed"))
      assert(Workloads.opSamples(run(w)) == Seq(3.0))
  }
}
