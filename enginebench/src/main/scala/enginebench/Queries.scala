package enginebench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import Gen._

/** One generated query: its class, target namespace, SQL, and a check
  * of the JSON reply body against the answer computed from the rows
  * the generator knows were acknowledged (None = correct).
  */
final case class Query(cls: String, ns: String, sql: String,
    check: Array[Byte] => Option[String])

object Answers {
  private val mapper = new ObjectMapper

  def parse(body: Array[Byte]): Seq[JsonNode] =
    mapper.readTree(body).elements().asScala.toSeq

  private def long(o: JsonNode, f: String): Long =
    if (o.hasNonNull(f)) o.get(f).asLong() else 0L

  /** (count, sum of value) over the points passing `p`. */
  def agg(pts: Array[Pt], p: Pt => Boolean): (Long, Long) = {
    var n = 0L; var s = 0L; var i = 0
    while (i < pts.length) {
      val x = pts(i)
      if (p(x)) { n += 1; s += x.value }
      i += 1
    }
    (n, s)
  }

  /** Per-key (count, sum) over the points passing `p`. */
  def groupAgg(pts: Array[Pt], p: Pt => Boolean,
      key: Pt => String): Map[String, (Long, Long)] =
    pts.iterator.filter(p).toSeq.groupBy(key).map { case (k, xs) =>
      k -> (xs.size.toLong, xs.map(_.value.toLong).sum)
    }

  /** Reply `[{"n":…,"s":…}]` must equal `want`. */
  def checkAgg(body: Array[Byte], want: (Long, Long)): Option[String] = {
    val rows = parse(body)
    val got = rows.headOption.map(r => (long(r, "n"), long(r, "s")))
    if (rows.size == 1 && got.contains(want)) None
    else Some(s"want n,s=$want got ${new String(body, "UTF-8").take(200)}")
  }

  /** Reply `[{"<keyCol>":…,"n":…,"s"?:…}…]` must equal `want`. */
  def checkGroups(body: Array[Byte], keyCol: String,
      want: Map[String, (Long, Long)], withSum: Boolean): Option[String] = {
    val got = parse(body).map(r => r.get(keyCol).asText() ->
      (long(r, "n"), if (withSum) long(r, "s") else 0L)).toMap
    val w = if (withSum) want else want.map { case (k, (n, _)) => k -> (n, 0L) }
    if (got == w) None else Some(s"want $w got $got")
  }

  /** Wide rows: the row count, the value sum and the rows carrying the
    * sparse `rack` tag (JSON omits NULL fields) must match.
    */
  def checkRows(body: Array[Byte], want: Array[Pt]): Option[String] = {
    val rows = parse(body)
    val n = rows.size
    val s = rows.map(_.get("value").asText().toLong).sum
    val racks = rows.count(_.hasNonNull("rack"))
    val wantS = want.map(_.value.toLong).sum
    val wantRacks = want.count(_.rack >= 0)
    if (n == want.length && s == wantS && racks == wantRacks) None
    else Some(s"want rows=${want.length} sum=$wantS racks=$wantRacks " +
      s"got rows=$n sum=$s racks=$racks")
  }
}

/** The query classes of each workload. `next(client, k)` is a pure
  * function of the seed, the client (below 16) and its k-th request;
  * a sequence literal makes every SQL text distinct except
  * `q_dashboard`'s.
  */
object Queries {
  import Answers._

  /** An always-true predicate that makes the SQL text unique. */
  def guard(seq: Long): String = s"CAST(value AS BIGINT) < ${MaxValue + seq}"

  private def aggSql(table: String, where: String) =
    s"SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM $table WHERE $where"

  final class Mix(val classes: IndexedSeq[String], seed: Long,
      make: (String, java.util.SplittableRandom, Long) => Query) {
    def next(client: Int, k: Long): Query = {
      val cls = classes(((k + client) % classes.size).toInt)
      make(cls, rng(seed, 5000000L + client * 100000007L + k),
        k * 16 + client + 1)
    }
  }

  /** scan_buffer: `cpu` over 7 days plus the 100-row `alerts`. */
  def scanBuffer(seed: Long, ns: String, cpu: Array[Pt], alerts: Array[Pt],
      wideRows: Int): Mix = {
    val zipf = new Zipf(seed)
    val span = cpu.last.ts - cpu.head.ts
    val wideUs = span / cpu.length * wideRows
    new Mix(Vector("q_full_agg", "q_window_tag", "q_small_table", "q_wide_rows"),
      seed, (cls, r, seq) => cls match {
        case "q_full_agg" =>
          val lo = r.nextInt(MaxValue / 2)
          Query(cls, ns, s"SELECT region, count(*) AS n, sum(CAST(value AS BIGINT)) AS s " +
            s"FROM cpu WHERE CAST(value AS BIGINT) >= $lo AND ${guard(seq)} GROUP BY region",
            b => checkGroups(b, "region", groupAgg(cpu, _.value >= lo,
              p => regionName(regionOf(p.host))), withSum = true))
        case "q_window_tag" =>
          val h = zipf.next(r)
          val t0 = cpu.head.ts + (r.nextDouble() * (span - 2 * DayUs)).toLong
          val t1 = t0 + 2 * DayUs
          Query(cls, ns, aggSql("cpu", s"host = '${hostName(h)}' AND " +
            s"timestamp >= ${tsLit(t0)} AND timestamp < ${tsLit(t1)} AND ${guard(seq)}"),
            b => checkAgg(b, agg(cpu, p => p.host == h && p.ts >= t0 && p.ts < t1)))
        case "q_small_table" =>
          Query(cls, ns, s"SELECT severity, count(*) AS n FROM alerts " +
            s"WHERE ${guard(seq)} GROUP BY severity",
            b => checkGroups(b, "severity",
              groupAgg(alerts, _ => true, p => Severities(p.value)), withSum = false))
        case _ =>
          val t0 = cpu.head.ts + (r.nextDouble() * (span - wideUs)).toLong
          val t1 = t0 + wideUs
          Query(cls, ns, s"SELECT * FROM cpu WHERE timestamp >= ${tsLit(t0)} " +
            s"AND timestamp < ${tsLit(t1)} AND ${guard(seq)}",
            b => checkRows(b, cpu.filter(p => p.ts >= t0 && p.ts < t1)))
      })
  }

  /** tiered: sealed days plus a RAM tail on the last day. */
  def tiered(seed: Long, ns: String, all: Array[Pt], days: Int,
      lastDay: Long): Mix = {
    val zipf = new Zipf(seed)
    new Mix(Vector("q_day_range", "q_host_eq", "q_tier_full", "q_recent"),
      seed, (cls, r, seq) => cls match {
        case "q_day_range" =>
          val d0 = Base + r.nextInt(days - 2) * DayUs
          val d1 = d0 + 2 * DayUs
          Query(cls, ns, aggSql("cpu", s"timestamp >= ${tsLit(d0)} AND " +
            s"timestamp < ${tsLit(d1)} AND ${guard(seq)}"),
            b => checkAgg(b, agg(all, p => p.ts >= d0 && p.ts < d1)))
        case "q_host_eq" =>
          val h = zipf.next(r)
          Query(cls, ns, aggSql("cpu", s"host = '${hostName(h)}' AND ${guard(seq)}"),
            b => checkAgg(b, agg(all, _.host == h)))
        case "q_tier_full" =>
          val lo = r.nextInt(MaxValue / 2)
          Query(cls, ns, s"SELECT region, count(*) AS n, sum(CAST(value AS BIGINT)) AS s " +
            s"FROM cpu WHERE CAST(value AS BIGINT) >= $lo AND ${guard(seq)} GROUP BY region",
            b => checkGroups(b, "region", groupAgg(all, _.value >= lo,
              p => regionName(regionOf(p.host))), withSum = true))
        case _ =>
          val t0 = lastDay + r.nextInt(3600) * 1000000L
          Query(cls, ns, aggSql("cpu", s"timestamp >= ${tsLit(t0)} AND ${guard(seq)}"),
            b => checkAgg(b, agg(all, _.ts >= t0)))
      })
  }

  /** mixed: `q_fresh` counts the written table and must lie between
    * the rows acknowledged before it was sent and the rows sent before
    * its reply; `q_dashboard` repeats one SQL text over static
    * `alerts`; `q_other_ns` aggregates the other namespace's preloaded
    * window, which the writer never touches.
    */
  def mixed(seed: Long, ns: String, otherNs: String,
      alerts: Array[Pt], other: Array[Pt],
      fresh: () => (Long, () => Long)): Mix = {
    val preEnd = other.last.ts + 1
    new Mix(Vector("q_fresh", "q_dashboard", "q_other_ns"), seed,
      (cls, r, seq) => cls match {
        case "q_fresh" =>
          Query(cls, ns, s"SELECT count(*) AS n FROM cpu WHERE ${guard(seq)}", {
            val (lo, hiAtReply) = fresh()
            b => {
              val hi = hiAtReply()
              val n = parse(b).headOption.map(_.get("n").asLong()).getOrElse(-1L)
              if (n >= lo && n <= hi) None else Some(s"count $n outside [$lo, $hi]")
            }
          })
        case "q_dashboard" =>
          Query(cls, ns, "SELECT severity, count(*) AS n FROM alerts GROUP BY severity",
            b => checkGroups(b, "severity",
              groupAgg(alerts, _ => true, p => Severities(p.value)), withSum = false))
        case _ =>
          val lo = r.nextInt(MaxValue / 2)
          Query(cls, otherNs, s"SELECT region, count(*) AS n, sum(CAST(value AS BIGINT)) AS s " +
            s"FROM cpu WHERE timestamp < ${tsLit(preEnd)} AND CAST(value AS BIGINT) >= $lo " +
            s"AND ${guard(seq)} GROUP BY region",
            b => checkGroups(b, "region", groupAgg(other, p => p.value >= lo,
              p => regionName(regionOf(p.host))), withSum = true))
      })
  }
}
