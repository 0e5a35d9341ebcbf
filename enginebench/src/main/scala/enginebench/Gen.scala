package enginebench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One generated point of table `cpu` (or `alerts`). Region is a
  * property of the host; `rack` is -1 on the 90% of rows without the
  * sparse tag, so the dynamic schema yields NULLs there.
  */
final case class Pt(ts: Long, value: Int, host: Int, rack: Int)

/** Seeded traffic generator. Every body is a pure function of the seed
  * and its position, so the same seed gives byte-identical requests.
  */
object Gen {
  val Hosts = 200
  val Regions = 8
  val Racks = 10
  val MaxValue = 10000
  /** 2024-01-01T00:00:00Z in microseconds. */
  val Base = 1704067200000000L
  val DayUs = 86400000000L

  def hostName(h: Int): String = f"host-$h%03d"
  def regionOf(h: Int): Int = h % Regions
  def regionName(r: Int): String = s"region-$r"
  def rackName(k: Int): String = s"rack-$k"
  val Severities = Seq("info", "warn", "error", "critical")

  /** SplitMix64 finaliser: decorrelates (seed, stream) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(seed, stream))

  /** A point at `ts` whose host is drawn from `hostOf`. */
  def point(r: SplittableRandom, ts: Long, host: Int): Pt =
    Pt(ts, r.nextInt(MaxValue), host,
      if (r.nextInt(10) == 0) r.nextInt(Racks) else -1)

  /** `n` points spread evenly over `days` days from `start`; hosts
    * either uniform, or rotating through days (`rotate`: day d holds
    * only the hosts of block d % 5, as real fleets rotate), so a host
    * has day files that pruning can skip.
    */
  def table(seed: Long, stream: Long, n: Int, start: Long, days: Int,
      rotate: Boolean): Array[Pt] = {
    val r = rng(seed, stream)
    val step = days * DayUs / n
    Array.tabulate(n) { i =>
      val ts = start + i * step
      val host =
        if (!rotate) r.nextInt(Hosts)
        else {
          val block = (((ts - Base) / DayUs) % 5).toInt
          block * (Hosts / 5) + r.nextInt(Hosts / 5)
        }
      point(r, ts, host)
    }
  }

  /** The 100-row `alerts` table: value = severity index. */
  def alerts(seed: Long, start: Long): Array[Pt] = {
    val r = rng(seed, 77)
    Array.tabulate(100)(i => Pt(start + i * 1000000L,
      r.nextInt(Severities.size), r.nextInt(Hosts), -1))
  }

  private def appendRow(sb: java.lang.StringBuilder, ns: String,
      table: String, p: Pt, alert: Boolean): Unit = {
    sb.append("{\"namespace\":\"").append(ns)
      .append("\",\"measurement\":\"").append(table)
      .append("\",\"value\":\"").append(p.value)
      .append("\",\"metadata\":{\"host\":\"").append(hostName(p.host))
    if (alert)
      sb.append("\",\"severity\":\"").append(Severities(p.value))
    else sb.append("\",\"region\":\"").append(regionName(regionOf(p.host)))
    if (p.rack >= 0) sb.append("\",\"rack\":\"").append(rackName(p.rack))
    sb.append("\"},\"timestamp\":").append(p.ts).append('}')
  }

  /** JSON write body: an array for several points, the reference's
    * single-object shape for one.
    */
  def body(ns: String, table: String, pts: Seq[Pt],
      alert: Boolean = false): Array[Byte] = {
    val sb = new java.lang.StringBuilder(pts.size * 160)
    if (pts.size == 1) appendRow(sb, ns, table, pts.head, alert)
    else {
      sb.append('[')
      var first = true
      pts.foreach { p =>
        if (!first) sb.append(',')
        first = false
        appendRow(sb, ns, table, p, alert)
      }
      sb.append(']')
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Ingest client `c` of `clients`, request `k`: 90% carry 100 rows,
    * 10% one row. Timestamps are one second apart and unique across
    * clients, so exactly-once is checkable with count(DISTINCT).
    */
  def ingestPoints(seed: Long, c: Int, clients: Int, k: Long): Seq[Pt] = {
    val r = rng(seed, 1000L + c * 1000003L + k)
    val n = if (r.nextInt(10) == 0) 1 else 100
    val slot = k * clients + c
    (0 until n).map(j =>
      point(r, Base + (slot * 100 + j) * 1000000L, r.nextInt(Hosts)))
  }

  private val sqlTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  /** A Spark SQL timestamp literal for UTC microseconds. */
  def tsLit(micros: Long): String = {
    val t = LocalDateTime.ofInstant(Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L),
      ZoneOffset.UTC)
    s"TIMESTAMP '${t.format(sqlTs)}'"
  }

  /** Zipf(s = 1.1) over the hosts, ranks mapped through a seeded
    * permutation: query literals hit a few hosts often.
    */
  final class Zipf(seed: Long) {
    private val perm = {
      val r = rng(seed, 91)
      val a = Array.range(0, Hosts)
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private val cdf = {
      val w = Array.tabulate(Hosts)(i => 1.0 / math.pow(i + 1, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def next(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var i = 0
      while (i < Hosts - 1 && cdf(i) < u) i += 1
      perm(i)
    }
  }
}
