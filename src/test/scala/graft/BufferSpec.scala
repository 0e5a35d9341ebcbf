package graft

import scala.collection.immutable.TreeMap

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.buffer.{BufferScan, Measurements, MeasurementsView, MemBuffer,
  PartitionKey}
import graft.core.{TagNumber, TagString, TagValue, WriteRequest}
import graft.engine.LynxEngine

/** Mirrors the reference's buffer tests (reference buffer.rs:156-212,
  * lynx.rs:182-311): namespace/table/partition counts after mixed
  * inserts, daily partition split, snapshot isolation. Plus the column
  * chunk layout: snapshots share chunk arrays, and the Spark scan over
  * a snapshot equals the rows computed from the inputs.
  */
class BufferSpec extends AnyFunSuite {

  private def w(ns: String, table: String, value: String, ts: Long) =
    WriteRequest(ns, table, value, Map.empty, ts)

  test("partition key is the UTC day of the microsecond timestamp") {
    assert(PartitionKey.fromMicros(1L) == "1970-01-01")
    // 2023-11-14T00:00:00Z = 1699920000 s
    assert(PartitionKey.fromMicros(1699920000L * 1000000L) == "2023-11-14")
    // one microsecond before midnight is still the previous day
    assert(PartitionKey.fromMicros(1699920000L * 1000000L - 1L) ==
      "2023-11-13")
    assert(PartitionKey.fromMicros(-1L) == "1969-12-31")
  }

  test("writes on the same UTC day share a partition (lynx.rs:216-227)") {
    val b = new MemBuffer
    b.insert(w("events", "clicks", "event1", 1))
    b.insert(w("events", "clicks", "event2", 2))
    assert(b.partitions("events", "clicks") == 1)
    val parts = b.tables("events").get("clicks")
    assert(parts("1970-01-01").values == Vector("event1", "event2"))
    assert(parts("1970-01-01").timestamps == Vector(1L, 2L))
  }

  test("writes a day apart split partitions (lynx.rs:265-311)") {
    val b = new MemBuffer
    val dayUs = 86400L * 1000000L
    b.insert(w("events", "clicks", "event1", 1))
    b.insert(w("events", "clicks", "event2", dayUs + 1))
    assert(b.partitions("events", "clicks") == 2)
    val parts = b.tables("events").get("clicks")
    assert(parts("1970-01-01").values == Vector("event1"))
    assert(parts("1970-01-02").values == Vector("event2"))
  }

  test("namespace/table counts across namespaces (buffer.rs:156-212)") {
    val b = new MemBuffer
    b.insert(w("ns1", "t1", "a", 1))
    b.insert(w("ns1", "t2", "b", 1))
    b.insert(w("ns2", "t1", "c", 1))
    assert(b.namespaceCount == 2)
    assert(b.tableCount("ns1") == 2)
    assert(b.tableCount("ns2") == 1)
    assert(b.containsNamespace("ns1"))
    assert(!b.containsNamespace("nope"))
    assert(b.tables("nope").isEmpty)
  }

  test("snapshot is isolated from later appends (buffer.rs:110-115)") {
    val b = new MemBuffer
    b.insert(w("ns", "t", "a", 1))
    val snap = b.tables("ns").get
    b.insert(w("ns", "t", "b", 2))
    assert(snap("t")("1970-01-01").values == Vector("a"))
    assert(b.tables("ns").get("t")("1970-01-01").values ==
      Vector("a", "b"))
  }

  test("metadata rides along and drainTable empties the table") {
    val b = new MemBuffer
    b.insert(WriteRequest("ns", "t", "v",
      Map("host" -> TagString("h1"), "n" -> TagNumber(-1L)), 5))
    val drained = b.drainTable("ns", "t").get
    assert(drained("1970-01-01").metadata.head("host") == TagString("h1"))
    // u64 semantics: raw bits -1 renders as 18446744073709551615
    assert(drained("1970-01-01").metadata.head("n").render ==
      "18446744073709551615")
    assert(b.partitions("ns", "t") == 0)
  }

  private val DayUs = 86400L * 1000000L

  test("a snapshot references the buffer's chunk arrays (no copy) and " +
    "keeps the length it was taken at") {
    val b = new MemBuffer
    b.insert(w("ns", "t", "a", 1))
    val s1 = b.tables("ns").get("t")("1970-01-01")
    b.insertAll(Seq(w("ns", "t", "b", 2), w("ns", "t", "c", 3)))
    val s2 = b.tables("ns").get("t")("1970-01-01")
    val (c1, c2) = (s1.slices.head, s2.slices.head)
    // same chunk, same arrays: the appends went past s1's length
    assert(c1.micros eq c2.micros)
    assert(c1.values eq c2.values)
    assert((c1.len, c2.len) == (1, 3))
    assert(s1.values == Vector("a") && s2.values == Vector("a", "b", "c"))
    // a drain hands over the very same chunks
    val drained = b.drainTable("ns", "t").get("1970-01-01")
    assert(drained.slices.head.micros eq c1.micros)
  }

  test("appends past a chunk's capacity open a new chunk and never move " +
    "earlier rows") {
    val b = new MemBuffer
    val n = Measurements.MaxChunk * 2 + 10
    b.insertAll((0 until n).map(i => w("ns", "t", s"v$i", i.toLong)))
    val v = b.tables("ns").get("t")("1970-01-01")
    val first = v.slices.head.micros
    assert(v.slices.size > 2)
    assert(v.slices.forall(_.micros.length <= Measurements.MaxChunk))
    b.insertAll((n until n + Measurements.MaxChunk).map(i =>
      w("ns", "t", s"v$i", i.toLong)))
    val v2 = b.tables("ns").get("t")("1970-01-01")
    assert(v2.slices.head.micros eq first)
    assert(v.size == n && v2.size == n + Measurements.MaxChunk)
    assert(v2.values == (0 until n + Measurements.MaxChunk).map(i => s"v$i"))
  }

  test("a snapshot never shows a tag key first written after it, even " +
    "when the key's column lands in a chunk the snapshot references") {
    val b = new MemBuffer
    def tags(ks: String*) = ks.map(k => k -> (TagString(k): TagValue)).toMap
    b.insert(WriteRequest("ns", "t", "a", tags("k1", "k2", "k3"), 1))
    b.insert(WriteRequest("ns", "t", "b", tags("k1", "k2", "k4"), DayUs + 1))
    val before = b.tables("ns").get("t")
    // same chunk of day 2: first k3 there, then a key new to the table
    b.insert(WriteRequest("ns", "t", "c", tags("k3"), DayUs + 2))
    b.insert(WriteRequest("ns", "t", "d", Map("late" -> TagNumber(7)), DayUs + 3))
    def cols(p: TreeMap[String, MeasurementsView]) =
      BufferScan.schema(p).fieldNames.toSeq.drop(2)
    val day2 = TreeMap("1970-01-02" -> before("1970-01-02"))
    assert(cols(day2) == Seq("k1", "k2", "k4"))
    assert(cols(before) == Seq("k1", "k2", "k3", "k4"))
    assert(before("1970-01-02").metadata == Vector(tags("k1", "k2", "k4")))
    assert(cols(b.tables("ns").get("t")) == Seq("k1", "k2", "k3", "k4", "late"))
  }

  /** Rows of a generated case: several days from `base` (negative
    * micros when it is before the epoch), sub-millisecond timestamps,
    * a dense tag, a sparse one, one that only appears in the last
    * quarter, and u64 numbers.
    */
  private final case class Case(seed: Long, n: Int, base: Long, days: Int,
      cut: Int) {
    lazy val rows: Vector[WriteRequest] = {
      val r = new scala.util.Random(seed)
      def tag(): TagValue = r.nextInt(4) match {
        case 0 => TagString(Seq("h1", "h2", "\u00e9\u2713", "", "x y")(r.nextInt(5)))
        case 1 => TagNumber(r.nextLong()) // negative bits render as u64
        case 2 => TagNumber(r.nextInt(20).toLong)
        case _ => TagString(r.nextInt(20).toString)
      }
      Vector.tabulate(n) { i =>
        val tags = Map.newBuilder[String, TagValue]
        if (r.nextInt(10) > 0) tags += "host" -> tag()
        if (r.nextInt(100) == 0) tags += "sparse" -> tag()
        if (i >= n - n / 4 && r.nextBoolean()) tags += "late" -> tag()
        WriteRequest("ns", "t", if (r.nextInt(50) == 0) "" else s"v${r.nextInt(1000)}",
          tags.result(), base + (r.nextDouble() * days * DayUs).toLong)
      }
    }
  }

  private val genCase: Gen[Case] = for {
    n <- Gen.frequency(3 -> Gen.choose(0, 600),
      2 -> Gen.choose(Measurements.MaxChunk + 1, Measurements.MaxChunk * 2 + 500))
    base <- Gen.oneOf(-3L * DayUs, 0L, 1699920000L * 1000000L)
    days <- Gen.choose(1, 4)
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    cut <- Gen.choose(0, n)
  } yield Case(seed, n, base, days, cut)

  /** The frame computed from the inputs: columns `timestamp`, `value`,
    * then the sorted tag keys; rows in day order, insertion order
    * within a day; a missing tag is NULL; timestamps as micros.
    */
  private def expected(ws: Seq[WriteRequest]): (Seq[String], Seq[Seq[Any]]) = {
    val keys = ws.flatMap(_.metadata.keys).distinct.sorted
    val rows = ws.zipWithIndex
      .sortBy { case (x, i) => (PartitionKey.fromMicros(x.timestamp), i) }
      .map { case (x, _) =>
        Seq[Any](x.timestamp, x.value) ++
          keys.map(k => x.metadata.get(k).map(_.render).orNull)
      }
    (Seq("timestamp", "value") ++ keys, rows)
  }

  private def scanned(parts: TreeMap[String, MeasurementsView])
      : (Seq[String], Seq[Seq[Any]]) = {
    val df = LynxEngine.toDataFrame(SparkFixture.spark, parts)
    val cols = df.columns.toSeq
    val rows = df.selectExpr(("unix_micros(timestamp)" +:
      cols.tail.map(c => s"`$c`")): _*).collect()
      .map(r => (0 until r.length).map(r.get)).toSeq
    (cols, rows)
  }

  test("property: the scan of a snapshot equals the rows computed from " +
    "the inputs, and appends after it (to the same chunk) never show") {
    (1 to 12).foreach { i =>
      val c = genCase.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val b = new MemBuffer
      val (head, tail) = c.rows.splitAt(c.cut)
      // batches of mixed sizes, some single inserts
      def load(ws: Seq[WriteRequest]): Unit =
        ws.grouped(1 + (c.seed & 0xff).toInt).zipWithIndex.foreach {
          case (g, j) => if (j % 3 == 0) g.foreach(b.insert) else b.insertAll(g)
        }
      load(head)
      val before = b.tables("ns").flatMap(_.get("t"))
      load(tail)
      val after = b.tables("ns").flatMap(_.get("t"))
      val ctx = s"case $i (n=${c.n}, cut=${c.cut}, base=${c.base})"
      assert(before.isEmpty == head.isEmpty, ctx)
      before.foreach(p => assert(scanned(p) == expected(head), ctx))
      after.foreach { p =>
        assert(scanned(p) == expected(c.rows), ctx)
        // the typed row view agrees with the inputs too
        val byDay = c.rows.zipWithIndex
          .sortBy { case (x, j) => (PartitionKey.fromMicros(x.timestamp), j) }
          .map(_._1)
        assert(p.valuesIterator.flatMap(_.metadata).toVector ==
          byDay.map(_.metadata), ctx)
        assert(p.valuesIterator.flatMap(_.timestamps).toVector ==
          byDay.map(_.timestamp), ctx)
      }
      assert(after.isEmpty == c.rows.isEmpty, ctx)
    }
  }
}
