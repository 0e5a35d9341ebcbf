package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TagNumber, TagString, WriteRequest}
import graft.engine.{LynxEngine, Sinks}
import graft.tier.ParquetTier

/** End-to-end query tests mirroring the reference's `query_results`
  * golden-output test (reference lynx.rs:313-387) plus the gatekeeper
  * suite (lynx.rs:389-401), and the tier/pruning extension.
  */
class EngineSpec extends AnyFunSuite {

  private def newEngine(tier: Option[ParquetTier] = None): LynxEngine = {
    val dir = Files.createTempDirectory("engine-spec").toFile
    new LynxEngine(SparkFixture.spark, dir, 1024 * 1024, tier)
  }

  test("golden query result matches the reference (lynx.rs:313-346)") {
    val e = newEngine()
    e.write(WriteRequest("events", "clicks", "search_button", Map.empty, 1))
    val r1 = e.query("events", "SELECT * FROM clicks").get
    assert(Sinks.toTable(r1) == Seq(
      "+----------------------------+---------------+",
      "| timestamp                  | value         |",
      "+----------------------------+---------------+",
      "| 1970-01-01T00:00:00.000001 | search_button |",
      "+----------------------------+---------------+").mkString("\n"))

    // second write visible on re-query (lynx.rs:347-375)
    e.write(WriteRequest("events", "clicks", "search_button", Map.empty, 100))
    val r2 = e.query("events", "SELECT * FROM clicks").get
    assert(Sinks.toTable(r2) == Seq(
      "+----------------------------+---------------+",
      "| timestamp                  | value         |",
      "+----------------------------+---------------+",
      "| 1970-01-01T00:00:00.000001 | search_button |",
      "| 1970-01-01T00:00:00.000100 | search_button |",
      "+----------------------------+---------------+").mkString("\n"))
  }

  test("unknown namespace or table → None → 404 (lynx.rs:377-387)") {
    val e = newEngine()
    assert(e.query("not_exist", "SELECT * FROM not_exist_table").isEmpty)
    e.write(WriteRequest("events", "clicks", "x", Map.empty, 1))
    assert(e.query("events", "SELECT * FROM no_such_table").isEmpty)
  }

  test("tags widen the schema; missing tags are NULL; numbers stringify " +
    "(lynx.rs:93-134)") {
    val e = newEngine()
    e.write(WriteRequest("ns", "cpu", "1",
      Map("host" -> TagString("h1")), 1))
    e.write(WriteRequest("ns", "cpu", "2",
      Map("region" -> TagString("eu"), "n" -> TagNumber(-1L)), 2))
    val r = e.query("ns",
      "SELECT value, host, region, n FROM cpu ORDER BY timestamp").get
    assert(r.schema.fieldNames.toSeq == Seq("value", "host", "region", "n"))
    val rows = r.rows.map(row => (0 until 4).map(row.get))
    assert(rows(0) == Seq("1", "h1", null, null))
    // u64 render of raw bits -1 (reference wal.rs:164-171 Display)
    assert(rows(1) == Seq("2", null, "eu", "18446744073709551615"))
  }

  test("native graft functions are always callable through the " +
    "engine SQL surface (the query session registers them)") {
    val e = newEngine()
    e.write(WriteRequest("ns", "m", "abc", Map.empty, 1))
    val r = e.query("ns", "SELECT graft_nfc(value) AS v FROM m").get
    assert(r.rows.head.getString(0) == "abc")
    // the native HLL aggregate rides the same registration: 3 rows,
    // 2 distinct values — estimate must be the m=64 raw fold over 2
    // occupied registers and must not need a distinct upstream
    e.write(WriteRequest("ns", "m", "abc", Map.empty, 2))
    e.write(WriteRequest("ns", "m", "xyz", Map.empty, 3))
    val h = e.query("ns", "SELECT graft_hll(value) AS est FROM m").get
    val est = h.rows.head.getDouble(0)
    assert(est > 0.0 && est < 200.0, s"degenerate estimate $est")
    val h1 = e.query("ns",
      "SELECT graft_hll(value) AS est FROM (SELECT DISTINCT value FROM m)")
      .get.rows.head.getDouble(0)
    assert(h1 == est, "register max must be idempotent under duplicates")
    // the native MinHash signature aggregate rides the same
    // registration; 16 minima, each < 2^31-1, idempotent under dups
    val mh = e.query("ns",
      """SELECT graft_minhash(CAST(conv(substring(md5(value), 1, 15),
        |16, 10) AS BIGINT)) AS sig FROM m""".stripMargin).get
    val sig = mh.rows.head.getSeq[Long](0)
    assert(sig.length == 16 && sig.forall(m => m >= 0 && m < 2147483647L),
      s"malformed signature $sig")
  }

  test("numeric analytics via CAST on the string value column") {
    val e = newEngine()
    (1 to 10).foreach(i =>
      e.write(WriteRequest("m", "cpu", i.toString,
        Map("host" -> TagString(if (i % 2 == 0) "a" else "b")), i.toLong)))
    val r = e.query("m",
      """SELECT host, sum(CAST(value AS BIGINT)) AS s FROM cpu
        |GROUP BY host ORDER BY host""".stripMargin).get
    assert(r.rows.map(r0 => (r0.getString(0), r0.getLong(1))) ==
      Seq(("a", 30L), ("b", 25L)))
  }

  test("multi-table join within one namespace (improvement, SURVEY §3.4)") {
    val e = newEngine()
    e.write(WriteRequest("ns", "cpu", "9", Map("host" -> TagString("h1")), 1))
    e.write(WriteRequest("ns", "meta", "zone-a",
      Map("host" -> TagString("h1")), 1))
    val r = e.query("ns",
      """SELECT c.value AS v, m.value AS zone
        |FROM cpu c JOIN meta m ON c.host = m.host""".stripMargin).get
    assert(r.rows.map(r0 => (r0.getString(0), r0.getString(1))) ==
      Seq(("9", "zone-a")))
  }

  test("CTEs pass the gatekeeper (improvement over lynx.rs:161-167)") {
    val e = newEngine()
    e.write(WriteRequest("ns", "cpu", "5", Map.empty, 1))
    val r = e.query("ns",
      "WITH t AS (SELECT CAST(value AS INT) v FROM cpu) SELECT v + 1 AS v2 FROM t")
    assert(r.get.rows.head.getInt(0) == 6)
  }

  test("gatekeeper rejects non-SELECT and FROM-less SQL (lynx.rs:389-401)") {
    def tables(sql: String) =
      LynxEngine.referencedTables(LynxEngine.parse(SparkFixture.spark, sql))
    assert(tables("SELECT * FROM foo") == Seq("foo"))
    assert(tables("SELECT name, age FROM people") == Seq("people"))
    intercept[IllegalArgumentException] {
      tables("SELECT *")
    }
    intercept[IllegalArgumentException] {
      tables("INSERT INTO my_table (id) VALUES (1)")
    }
    intercept[IllegalArgumentException] {
      tables("DROP TABLE foo")
    }
    // CTAS/CACHE AS SELECT contain an UnresolvedRelation but are DDL
    intercept[IllegalArgumentException] {
      tables("CREATE TABLE p AS SELECT * FROM foo")
    }
    intercept[IllegalArgumentException] {
      tables("CACHE TABLE p AS SELECT * FROM foo")
    }
    // relations inside subquery expressions are collected
    assert(tables("SELECT * FROM a WHERE x IN (SELECT y FROM b)").toSet ==
      Set("a", "b"))
  }

  test("WAL replay restores queryability across restarts (wal.rs:465-547)") {
    val dir = Files.createTempDirectory("engine-replay").toFile
    val e1 = new LynxEngine(SparkFixture.spark, dir, 256)
    (0 until 8).foreach(i =>
      e1.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    e1.wal.close()
    val e2 = new LynxEngine(SparkFixture.spark, dir, 256)
    assert(e2.replayedSegments.nonEmpty)
    val r = e2.query("ns",
      "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu").get
    assert(r.rows.head.getLong(0) == 8 && r.rows.head.getLong(1) == 28)
  }

  test("checkpoint seals everything, truncates the WAL, survives restart") {
    val walDir = Files.createTempDirectory("ckpt-wal").toFile
    val tierDir = Files.createTempDirectory("ckpt-tier").toFile
    val e1 = new LynxEngine(SparkFixture.spark, walDir, 256, // tiny segs
      Some(new ParquetTier(tierDir)))
    (1 to 20).foreach(i =>
      e1.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    (1 to 5).foreach(i =>
      e1.write(WriteRequest("ns", "mem", i.toString, Map.empty, i.toLong)))
    assert(walDir.listFiles().count(_.getName.endsWith(".wal")) > 1)
    e1.checkpoint()
    // only the fresh active segment remains
    assert(walDir.listFiles().count(_.getName.endsWith(".wal")) == 1)
    // post-checkpoint write goes to the new segment
    e1.write(WriteRequest("ns", "cpu", "21", Map.empty, 21L))
    e1.wal.close()
    val e2 = new LynxEngine(SparkFixture.spark, walDir, 256,
      Some(new ParquetTier(tierDir)))
    val r = e2.query("ns",
      "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu").get
    assert(r.rows.head.getLong(0) == 21)
    assert(r.rows.head.getLong(1) == 21 * 22 / 2)
    val rm = e2.query("ns", "SELECT count(*) AS n FROM mem").get
    assert(rm.rows.head.getLong(0) == 5)
  }

  test("restart after seal does not double-count sealed rows") {
    val walDir = Files.createTempDirectory("seal-replay-wal").toFile
    val tierDir = Files.createTempDirectory("seal-replay-tier").toFile
    val e1 = new LynxEngine(SparkFixture.spark, walDir, 1024 * 1024,
      Some(new ParquetTier(tierDir)))
    (1 to 10).foreach(i =>
      e1.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    e1.seal("ns", "cpu")
    // post-seal writes stay in RAM
    (11 to 13).foreach(i =>
      e1.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    e1.wal.close()
    // restart on the same WAL + tier
    val e2 = new LynxEngine(SparkFixture.spark, walDir, 1024 * 1024,
      Some(new ParquetTier(tierDir)))
    val r = e2.query("ns", "SELECT count(*) AS n FROM cpu").get
    assert(r.rows.head.getLong(0) == 13,
      "sealed rows must not replay into the buffer again")
  }

  test("simple time-range query prunes tier day partitions") {
    val spark = SparkFixture.spark
    val dayUs = 86400L * 1000000L
    // bounds extraction on the parsed plan
    val b1 = LynxEngine.dayBounds(LynxEngine.parse(spark,
      """SELECT * FROM cpu WHERE timestamp >= TIMESTAMP '1970-01-03
        | 00:00:00' AND timestamp < TIMESTAMP '1970-01-05 00:00:00'"""
        .stripMargin.replace("\n", "")))
    assert(b1.contains(("1970-01-03", "1970-01-05")))
    // subqueries and joins disable pruning (conservative)
    assert(LynxEngine.dayBounds(LynxEngine.parse(spark,
      """SELECT * FROM cpu WHERE value IN
        |(SELECT value FROM cpu WHERE timestamp > TIMESTAMP
        |'1970-01-03 00:00:00')""".stripMargin.replace("\n", " "))).isEmpty)
    // end-to-end: data across 4 days, bounded query stays correct
    val tierDir = Files.createTempDirectory("prune-tier").toFile
    val e = newEngine(Some(new ParquetTier(tierDir)))
    (0 until 4).foreach(d =>
      e.write(WriteRequest("ns", "cpu", d.toString, Map.empty,
        d * dayUs + 1)))
    e.seal("ns", "cpu")
    val r = e.query("ns",
      """SELECT value FROM cpu WHERE timestamp >=
        |TIMESTAMP '1970-01-02 00:00:00' AND timestamp <
        |TIMESTAMP '1970-01-04 00:00:00' ORDER BY timestamp"""
        .stripMargin.replace("\n", " ")).get
    assert(r.rows.map(_.getString(0)) == Seq("1", "2"))
  }

  test("CTE and derived-table time ranges still prune day partitions") {
    val spark = SparkFixture.spark
    def bounds(sql: String) =
      LynxEngine.dayBounds(LynxEngine.parse(spark, sql))
    // CTE-wrapped range
    assert(bounds(
      """WITH t AS (SELECT * FROM cpu WHERE timestamp >=
        |TIMESTAMP '1970-01-03 00:00:00') SELECT count(*) AS n FROM t
        |WHERE timestamp < TIMESTAMP '1970-01-05 00:00:00'"""
        .stripMargin.replace("\n", " "))
      .contains(("1970-01-03", "1970-01-05")))
    // chained CTEs, bounds split across both
    assert(bounds(
      """WITH a AS (SELECT * FROM cpu WHERE timestamp >=
        |TIMESTAMP '1970-01-02 00:00:00'),
        |b AS (SELECT timestamp, value FROM a WHERE timestamp <
        |TIMESTAMP '1970-01-04 00:00:00')
        |SELECT value FROM b WHERE value <> 'x'"""
        .stripMargin.replace("\n", " "))
      .contains(("1970-01-02", "1970-01-04")))
    // derived table + outer tag predicate
    assert(bounds(
      """SELECT value FROM (SELECT * FROM cpu WHERE timestamp >=
        |TIMESTAMP '1970-01-03 00:00:00') d WHERE value = 'u'"""
        .stripMargin.replace("\n", " "))
      .contains(("1970-01-03", "9999-12-31")))
    // a projection that REBINDS `timestamp` must disable pruning —
    // the outer predicate ranges over the shifted column
    assert(bounds(
      """SELECT * FROM (SELECT timestamp + INTERVAL 1 DAY AS
        |timestamp, value FROM cpu) d WHERE timestamp >=
        |TIMESTAMP '1970-01-03 00:00:00'"""
        .stripMargin.replace("\n", " ")).isEmpty)
    // a filter above a LIMIT must not push below it
    assert(bounds(
      """SELECT * FROM (SELECT * FROM cpu ORDER BY timestamp
        |LIMIT 2) d WHERE timestamp >=
        |TIMESTAMP '1970-01-03 00:00:00'"""
        .stripMargin.replace("\n", " ")).isEmpty)
    // a projection that renames `timestamp` still prunes through the
    // new name; a window function between filter and scan stops it
    // (pruning would change the rows the window numbers)
    assert(bounds(
      """SELECT * FROM (SELECT timestamp AS ts, value FROM cpu) d
        |WHERE ts >= TIMESTAMP '1970-01-03 00:00:00'"""
        .stripMargin.replace("\n", " "))
      .contains(("1970-01-03", "9999-12-31")))
    assert(bounds(
      """SELECT * FROM (SELECT *, row_number() OVER (ORDER BY timestamp)
        |AS rn FROM cpu) d WHERE timestamp >=
        |TIMESTAMP '1970-01-03 00:00:00'"""
        .stripMargin.replace("\n", " ")).isEmpty)
    // aggregation between filter and scan: HAVING-style outer
    // predicate on a grouped timestamp contributes nothing
    assert(bounds(
      """SELECT * FROM (SELECT timestamp, count(*) AS n FROM cpu
        |GROUP BY timestamp) d WHERE timestamp >=
        |TIMESTAMP '1970-01-03 00:00:00'"""
        .stripMargin.replace("\n", " ")).isEmpty)

    // end-to-end: out-of-range day dirs are NOT read. Corrupt the
    // parquet files of days outside the range — if pruning failed,
    // the scan would hit the garbage footers and throw.
    val dayUs = 86400L * 1000000L
    val tierDir = Files.createTempDirectory("prune-cte-tier").toFile
    val e = newEngine(Some(new ParquetTier(tierDir)))
    (0 until 4).foreach(d =>
      e.write(WriteRequest("ns", "cpu", d.toString, Map.empty,
        d * dayUs + 1)))
    e.seal("ns", "cpu")
    for (day <- Seq("1970-01-01", "1970-01-04")) {
      val dir = new java.io.File(tierDir, s"ns/cpu/__lynx_day=$day")
      val parts = dir.listFiles((_, n) => n.endsWith(".parquet"))
      assert(parts != null && parts.nonEmpty, s"expected files in $dir")
      parts.foreach(p =>
        Files.write(p.toPath, "not parquet".getBytes))
    }
    // hi bound mid-day-03 so the conservative inclusive day range is
    // exactly [1970-01-02, 1970-01-03] — both corrupted dirs outside
    val r = e.query("ns",
      """WITH t AS (SELECT * FROM cpu WHERE timestamp >=
        |TIMESTAMP '1970-01-02 00:00:00') SELECT value FROM t
        |WHERE timestamp <= TIMESTAMP '1970-01-03 12:00:00'
        |ORDER BY timestamp""".stripMargin.replace("\n", " ")).get
    assert(r.rows.map(_.getString(0)) == Seq("1", "2"),
      "CTE-wrapped range must read only the in-range day dirs")
  }

  test("a literal compared with timestamp bounds the days it names in " +
    "the session time zone, as the analyzer's cast reads it") {
    val spark = SparkFixture.spark
    def days(where: String, zone: String) = LynxEngine.pruning(
      LynxEngine.parse(spark, s"SELECT * FROM cpu WHERE $where"), zone)
      .get("cpu").flatMap(_.days)
    val ny = "America/New_York"
    val tokyo = "Asia/Tokyo"
    // 22:00 in New York is 03:00 UTC the next day
    assert(days("timestamp < '2024-01-02 22:00:00'", ny)
      .contains(("0000-01-01", "2024-01-03")))
    assert(days("timestamp < '2024-01-02 22:00:00'", "UTC")
      .contains(("0000-01-01", "2024-01-02")))
    assert(days("timestamp >= '2024-01-03 01:00:00'", tokyo)
      .contains(("2024-01-02", "9999-12-31")))
    assert(days("timestamp >= CAST('2024-01-03' AS DATE)", tokyo)
      .contains(("2024-01-02", "9999-12-31")))
    // an explicit offset wins over the zone
    assert(days("timestamp >= '2024-01-04T01:00:00+14:00'", "UTC")
      .contains(("2024-01-03", "9999-12-31")))
    // a DATE or STRING cast compares by local day: the whole day counts
    assert(days("CAST(timestamp AS DATE) >= '2024-01-04'", tokyo)
      .contains(("2024-01-03", "9999-12-31")))
    assert(days("CAST(timestamp AS DATE) <= '2024-01-04'", ny)
      .contains(("0000-01-01", "2024-01-05")))
    assert(days("CAST(timestamp AS DATE) = '2024-01-04'", "UTC")
      .contains(("2024-01-04", "2024-01-04")))
    assert(days("CAST(timestamp AS STRING) <= '2024-01-04 10:00:00'", ny)
      .contains(("0000-01-01", "2024-01-05")))
    // a literal the cast rejects, or text that does not order by its
    // date, bounds nothing
    assert(days("timestamp >= 'soon'", "UTC").isEmpty)
    assert(days("CAST(timestamp AS STRING) <= '2024-1-4'", "UTC").isEmpty)
    assert(days("CAST(timestamp AS BIGINT) >= '2024-01-04'", "UTC").isEmpty)
  }

  test("multi-table join prunes each table's day partitions " +
    "independently") {
    val spark = SparkFixture.spark
    def per(sql: String) =
      LynxEngine.dayBoundsPerTable(LynxEngine.parse(spark, sql))
    // qualified predicates on both sides of a join resolve per table
    val b = per(
      """SELECT * FROM cpu c JOIN mem m ON c.value = m.value
        |WHERE c.timestamp >= TIMESTAMP '1970-01-02 00:00:00'
        |AND m.timestamp < TIMESTAMP '1970-01-03 00:00:00'"""
        .stripMargin.replace("\n", " "))
    assert(b.get("cpu").contains(("1970-01-02", "9999-12-31")), s"$b")
    assert(b.get("mem").contains(("0000-01-01", "1970-01-03")), s"$b")
    // unqualified timestamp above a join is ambiguous: no pruning
    assert(per(
      """SELECT * FROM cpu c JOIN mem m ON c.value = m.value
        |WHERE timestamp >= TIMESTAMP '1970-01-02 00:00:00'"""
        .stripMargin.replace("\n", " ")).isEmpty)
    // a self-joined table shares one registered view: no pruning
    assert(per(
      """SELECT * FROM cpu a JOIN cpu b ON a.value = b.value
        |WHERE a.timestamp >= TIMESTAMP '1970-01-02 00:00:00'"""
        .stripMargin.replace("\n", " ")).isEmpty)
    // a derived table's inner WHERE still prunes its own relation,
    // and the outer qualified predicate prunes the other side
    val b2 = per(
      """SELECT * FROM (SELECT * FROM cpu WHERE timestamp >=
        |TIMESTAMP '1970-01-02 00:00:00') c JOIN mem m
        |ON c.value = m.value
        |WHERE m.timestamp < TIMESTAMP '1970-01-03 00:00:00'"""
        .stripMargin.replace("\n", " "))
    assert(b2.get("cpu").contains(("1970-01-02", "9999-12-31")), s"$b2")
    assert(b2.get("mem").contains(("0000-01-01", "1970-01-03")), s"$b2")
    // ON-clause conditions are never harvested (outer-join safety)
    assert(per(
      """SELECT * FROM cpu c LEFT JOIN mem m ON c.value = m.value
        |AND c.timestamp >= TIMESTAMP '1970-01-02 00:00:00'"""
        .stripMargin.replace("\n", " ")).isEmpty)

    // end-to-end: 4 days in each table; corrupt cpu's out-of-range
    // day files AND all of mem's out-of-range day files — the join
    // succeeds iff each table's scan read only its own bounded days
    val dayUs = 86400L * 1000000L
    val tierDir = Files.createTempDirectory("prune-join-tier").toFile
    val e = newEngine(Some(new ParquetTier(tierDir)))
    (0 until 4).foreach { d =>
      e.write(WriteRequest("ns", "cpu", d.toString, Map.empty,
        d * dayUs + 1))
      e.write(WriteRequest("ns", "mem", d.toString, Map.empty,
        d * dayUs + 2))
    }
    e.seal("ns", "cpu")
    e.seal("ns", "mem")
    // conservative inclusive day ranges: cpu [01-02, 01-03] (from the
    // >= / <= pair), mem [open, 01-03] (a `< 01-03 00:00` bound still
    // keeps day 03 as the inclusive hi day, like the single-table
    // path) — so cpu's 01-01 + 01-04 and mem's 01-04 are provably
    // unread; corrupt exactly those
    for ((t, day) <- Seq(("cpu", "1970-01-01"), ("cpu", "1970-01-04"),
        ("mem", "1970-01-04"))) {
      val dir = new java.io.File(tierDir, s"ns/$t/__lynx_day=$day")
      val parts = dir.listFiles((_, n) => n.endsWith(".parquet"))
      assert(parts != null && parts.nonEmpty, s"expected files in $dir")
      parts.foreach(p => Files.write(p.toPath, "not parquet".getBytes))
    }
    val r = e.query("ns",
      """SELECT c.value AS v FROM cpu c JOIN mem m ON c.value = m.value
        |WHERE c.timestamp >= TIMESTAMP '1970-01-02 00:00:00'
        |AND c.timestamp <= TIMESTAMP '1970-01-03 12:00:00'
        |AND m.timestamp < TIMESTAMP '1970-01-03 00:00:00'
        |ORDER BY v""".stripMargin.replace("\n", " ")).get
    assert(r.rows.map(_.getString(0)) == Seq("1"),
      "join must read only each table's in-range day dirs")
  }

  test("tier compaction merges seal files and preserves results") {
    val tierDir = Files.createTempDirectory("compact-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    // 5 seals → 5 files in the same day partition
    (1 to 5).foreach { i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong))
      e.seal("ns", "cpu")
    }
    assert(tier.dataFiles("ns", "cpu").size == 5)
    e.compact("ns", "cpu")
    // current version is the single compacted file per day
    assert(tier.dataFiles("ns", "cpu").size == 1)
    val r = e.query("ns",
      "SELECT sum(CAST(value AS BIGINT)) AS s FROM cpu").get
    assert(r.rows.head.getLong(0) == 15)
  }

  test("retention expiry drops old days from the manifest, defers " +
      "deletion for pinned readers, and never touches newer days") {
    val spark = SparkFixture.spark
    val dayUs = 86400L * 1000000L
    val tierDir = Files.createTempDirectory("expire-tier").toFile
    val tier = new ParquetTier(tierDir) // default grace: trash deferred
    val e = newEngine(Some(tier))
    // one sealed file per day: 1970-01-01, 01-02, 01-03
    (0 to 2).foreach { d =>
      e.write(WriteRequest("ns", "cpu", (d + 1).toString, Map.empty,
        d * dayUs + 1))
      e.seal("ns", "cpu")
    }
    assert(tier.dataFiles("ns", "cpu").size == 3)
    val pinned = tier.dataFiles("ns", "cpu")
    // expire the two oldest days; the pinned pre-expiry read finishes
    val dropped = e.expire("ns", "cpu", "1970-01-03")
    assert(dropped == 2)
    assert(tier.dataFiles("ns", "cpu").size == 1)
    assert(pinned.forall(p => new java.io.File(p).isFile),
      "expiry must defer physical deletion for the grace period")
    assert(tier.readFiles(spark, "ns", "cpu", pinned, None).count() == 3)
    // the current view serves only the surviving day
    val r = e.query("ns",
      "SELECT sum(CAST(value AS BIGINT)) AS s FROM cpu").get
    assert(r.rows.head.getLong(0) == 3)
    // idempotent: nothing older remains
    assert(e.expire("ns", "cpu", "1970-01-03") == 0)
    // zero-grace GC (next manifest writer) deletes the expired files
    val tier0 = new ParquetTier(tierDir, trashGraceMs = 0)
    assert(tier0.expire("ns", "cpu", "1970-01-04") == 1)
    assert(pinned.count(p => new java.io.File(p).isFile) == 0,
      "expired trash should be physically deleted past grace")
  }

  test("compaction defers old-file deletion so pinned readers finish") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("compact-pin-tier").toFile
    val tier = new ParquetTier(tierDir) // default 10-min trash grace
    val e = newEngine(Some(tier))
    (1 to 4).foreach { i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong))
      e.seal("ns", "cpu")
    }
    // a query pins the pre-compaction file list (as LynxEngine.query
    // does under its write lock), then compaction runs "concurrently"
    val pinned = tier.dataFiles("ns", "cpu")
    e.compact("ns", "cpu")
    // the pinned read still succeeds: superseded files are trash, not
    // deleted, until the grace period expires
    assert(pinned.forall(p => new java.io.File(p).isFile),
      "compaction must not delete files a reader may have pinned")
    val viaPin = tier.readFiles(spark, "ns", "cpu", pinned, None)
    assert(viaPin.count() == 4)
    // and the current (manifest) view is the compacted one
    val r = e.query("ns",
      "SELECT sum(CAST(value AS BIGINT)) AS s FROM cpu").get
    assert(r.rows.head.getLong(0) == 10)
    // a zero-grace tier collects the trash on its next compaction
    val tier0 = new ParquetTier(tierDir, trashGraceMs = 0)
    tier0.compact(spark, "ns", "cpu")
    assert(!pinned.exists(p => new java.io.File(p).isFile),
      "expired trash should be physically deleted")
    assert(tier0.read(spark, "ns", "cpu")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("CAST(value AS BIGINT)")))
      .collect()(0).getLong(0) == 10)
  }

  test("snapshot pins drive trash GC: a pinned version survives " +
    "zero-grace compaction until release") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("pin-gc-tier").toFile
    // grace = 0: ONLY the pin protects superseded files
    val tier = new ParquetTier(tierDir, trashGraceMs = 0)
    val e = newEngine(Some(tier))
    (1 to 4).foreach { i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong))
      e.seal("ns", "cpu")
    }
    val snap = tier.snapshot("ns", "cpu")
    assert(snap.version >= 1 && snap.files.size == 4)
    e.compact("ns", "cpu")
    // compaction ran its GC with zero grace, but the pin blocks it
    assert(snap.files.forall(p => new java.io.File(p).isFile),
      "pinned files must survive compaction GC")
    assert(tier.readFiles(spark, "ns", "cpu", snap.files, None).count() == 4)
    // the new current version is ahead of the pinned one
    val after = tier.snapshot("ns", "cpu")
    assert(after.version > snap.version && after.files.size == 1)
    tier.release(after)
    // releasing the old pin is what finally collects the trash
    tier.release(snap)
    assert(!snap.files.exists(p => new java.io.File(p).isFile),
      "released pin must let GC delete superseded files")
    assert(tier.read(spark, "ns", "cpu").count() == 4)
  }

  test("auto-compaction: the manifest file count stays bounded by the " +
    "threshold while results are unchanged") {
    val tierDir = Files.createTempDirectory("auto-compact-tier").toFile
    val tier = new ParquetTier(tierDir)
    val walDir = Files.createTempDirectory("auto-compact-wal").toFile
    val e = new LynxEngine(SparkFixture.spark, walDir, 1024 * 1024,
      Some(tier), autoCompactFileThreshold = 3)
    // same day each time: without compaction the manifest would grow
    // one file per seal
    (1 to 7).foreach { i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong))
      e.seal("ns", "cpu")
      assert(tier.fileCount("ns", "cpu") < 3 + 1,
        s"seal $i left ${tier.fileCount("ns", "cpu")} files — " +
          "threshold crossing must compact inline")
    }
    val r = e.query("ns",
      "SELECT sum(CAST(value AS BIGINT)) AS s, count(*) AS n FROM cpu").get
    assert(r.rows.head.getLong(0) == 28 && r.rows.head.getLong(1) == 7,
      "auto-compaction must preserve every sealed row")
  }

  test("auto-compaction thresholds on files BEYOND the one-per-day " +
    "floor, so a many-day table does not rewrite on every seal") {
    val tierDir = Files.createTempDirectory("auto-compact-days").toFile
    val tier = new ParquetTier(tierDir)
    val walDir = Files.createTempDirectory("auto-compact-days-wal").toFile
    val e = new LynxEngine(SparkFixture.spark, walDir, 1024 * 1024,
      Some(tier), autoCompactFileThreshold = 3)
    val day = 86400000000L // micros
    // one seal covering 4 distinct days → 4 files, 0 redundant
    (0 until 4).foreach(i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i * day)))
    e.seal("ns", "cpu")
    assert(tier.fileCount("ns", "cpu") == 4 &&
      tier.redundantFileCount("ns", "cpu") == 0)
    // another seal on day 0: total (5) exceeds the threshold but only
    // 1 file is redundant — compaction must NOT run
    e.write(WriteRequest("ns", "cpu", "10", Map.empty, 1L))
    e.seal("ns", "cpu")
    assert(tier.fileCount("ns", "cpu") == 5,
      "redundancy below threshold must not trigger a full rewrite")
    // two more seals on day 0 reach 3 redundant → one compaction back
    // to the per-day floor
    (0 until 2).foreach { i =>
      e.write(WriteRequest("ns", "cpu", "10", Map.empty, 1L))
      e.seal("ns", "cpu")
    }
    assert(tier.fileCount("ns", "cpu") == 4 &&
      tier.redundantFileCount("ns", "cpu") == 0,
      "crossing the redundancy threshold compacts to one file per day")
    val r = e.query("ns", "SELECT count(*) AS n FROM cpu").get
    assert(r.rows.head.getLong(0) == 7)
  }

  test("lease files protect a reader in ANOTHER tier instance from " +
    "zero-grace compaction GC") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("lease-tier").toFile
    val reader = new ParquetTier(tierDir, trashGraceMs = 0)
    val e = newEngine(Some(reader))
    (1 to 4).foreach { i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong))
      e.seal("ns", "cpu")
    }
    // reader pins in ITS process (in-memory pin + on-disk lease)...
    val snap = reader.snapshot("ns", "cpu")
    assert(snap.files.size == 4)
    // ...while a compactor in a DIFFERENT process (second instance —
    // its in-memory pin table is empty) compacts with zero grace
    val compactor = new ParquetTier(tierDir, trashGraceMs = 0)
    compactor.compact(spark, "ns", "cpu")
    assert(snap.files.forall(p => new java.io.File(p).isFile),
      "the on-disk lease must block a cross-process compactor's GC")
    assert(reader.readFiles(spark, "ns", "cpu", snap.files, None)
      .count() == 4)
    // release deletes the lease; the next GC (reader-side) collects
    reader.release(snap)
    assert(!snap.files.exists(p => new java.io.File(p).isFile),
      "released lease must let GC delete superseded files")
    assert(compactor.read(spark, "ns", "cpu").count() == 4)
  }

  test("a leaked pin stops blocking GC after the age ceiling " +
    "(and an expired lease after its expiry)") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("leak-tier").toFile
    // tiny grace + explicit 20 ms age ceiling (the default floors at
    // 10 min so low-grace configs keep pin protection); lease expires
    // after 1 ms and is own-process, so it is reaped, not honored
    val tier = new ParquetTier(tierDir, trashGraceMs = 1, pinLeaseMs = 1,
      pinMaxAgeMsOverride = 20)
    val e = newEngine(Some(tier))
    (1 to 3).foreach { i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong))
      e.seal("ns", "cpu")
    }
    val leaked = tier.snapshot("ns", "cpu") // never released — a bug
    e.compact("ns", "cpu")
    Thread.sleep(60)
    // second compaction's GC ignores the over-age pin + expired lease
    e.compact("ns", "cpu")
    assert(!leaked.files.exists(p => new java.io.File(p).isFile),
      "a pin older than the age ceiling must not block trash GC forever")
    assert(tier.read(spark, "ns", "cpu").count() == 3)
  }

  test("legacy (pre-v-tag) trash records are still GC'd") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("legacy-trash-tier").toFile
    val tier = new ParquetTier(tierDir, trashGraceMs = 0)
    val e = newEngine(Some(tier))
    e.write(WriteRequest("ns", "cpu", "1", Map.empty, 1))
    e.seal("ns", "cpu")
    // simulate a pre-upgrade trash record pointing at a real file
    val dir = new java.io.File(tierDir, "ns/cpu")
    val victim = new java.io.File(dir, "orphan.parquet")
    java.nio.file.Files.writeString(victim.toPath, "x")
    val mdir = new java.io.File(dir, "_manifest")
    java.nio.file.Files.writeString(
      new java.io.File(mdir, s"trash-${System.currentTimeMillis - 1000}-" +
        "0a1b2c3d-0000-0000-0000-000000000000.list").toPath,
      "orphan.parquet")
    // any GC pass (here: compaction) must collect the legacy record
    e.compact("ns", "cpu")
    assert(!victim.isFile, "legacy trash record's file must be deleted")
    assert(!Option(mdir.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("trash-")),
      "legacy trash record itself must be deleted")
    assert(tier.read(spark, "ns", "cpu").count() == 1)
  }

  test("a user tag named 'day' survives tiering as a data column") {
    val tierDir = Files.createTempDirectory("daytag-tier").toFile
    val e = newEngine(Some(new ParquetTier(tierDir)))
    e.write(WriteRequest("ns", "cpu", "1",
      Map("day" -> TagString("payday")), 1))
    e.seal("ns", "cpu")
    val r = e.query("ns", "SELECT value, day FROM cpu").get
    assert(r.rows.map(r0 => (r0.getString(0), r0.getString(1))) ==
      Seq(("1", "payday")),
      "the tier partition column must not shadow a user 'day' tag")
  }

  test("reserved tag keys are rejected at write time") {
    val e = newEngine()
    Seq("timestamp", "value", "__lynx_day", "__lynxfoo").foreach { k =>
      intercept[IllegalArgumentException] {
        e.write(WriteRequest("ns", "cpu", "1",
          Map(k -> TagString("x")), 1))
      }
    }
  }

  test("seal is crash-atomic: marker without publish completes on " +
    "replay; staging without marker is discarded") {
    val spark = SparkFixture.spark
    // window A: crash AFTER the WAL marker, BEFORE publish
    val walA = Files.createTempDirectory("seal-crash-a-wal").toFile
    val tierA = Files.createTempDirectory("seal-crash-a-tier").toFile
    val t1 = new ParquetTier(tierA)
    val e1 = new LynxEngine(spark, walA, 1024 * 1024, Some(t1))
    (1 to 10).foreach(i =>
      e1.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    // replicate seal() up to the crash point: drain, stage, marker — no
    // publish
    val parts = e1.buffer.drainTable("ns", "cpu").get
    val df = LynxEngine.toDataFrame(spark, parts).withColumn(
      graft.tier.ParquetTier.DayCol,
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("timestamp"), "yyyy-MM-dd"))
    val (sid, files) = t1.stage(spark, "ns", "cpu", df)
    e1.wal.write(graft.core.SealMarker("ns", "cpu", sid, files))
    e1.wal.close() // "crash"
    val e2 = new LynxEngine(spark, walA, 1024 * 1024,
      Some(new ParquetTier(tierA)))
    val rA = e2.query("ns", "SELECT count(*) AS n FROM cpu").get
    assert(rA.rows.head.getLong(0) == 10,
      "replay must finish the marked-but-unpublished seal")
    assert(e2.buffer.isEmpty, "sealed rows must not sit in the buffer too")

    // window B: crash AFTER staging, BEFORE the marker
    val walB = Files.createTempDirectory("seal-crash-b-wal").toFile
    val tierB = Files.createTempDirectory("seal-crash-b-tier").toFile
    val t2 = new ParquetTier(tierB)
    val e3 = new LynxEngine(spark, walB, 1024 * 1024, Some(t2))
    (1 to 7).foreach(i =>
      e3.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    e3.buffer.drainTable("ns", "cpu")
    t2.stage(spark, "ns", "cpu", df) // staged, no marker
    e3.wal.close() // "crash"
    val e4 = new LynxEngine(spark, walB, 1024 * 1024,
      Some(new ParquetTier(tierB)))
    val rB = e4.query("ns", "SELECT count(*) AS n FROM cpu").get
    assert(rB.rows.head.getLong(0) == 7,
      "markerless staging must be dropped; rows replay into the buffer")
    val cpuDir = new java.io.File(tierB, "ns/cpu")
    assert(!Option(cpuDir.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith(".staging-")),
      "orphan staging dirs must be cleaned at startup")
  }

  test("query results can be capped; over-limit queries fail cleanly") {
    val dir = Files.createTempDirectory("cap-wal").toFile
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      maxResultRows = 5)
    (1 to 10).foreach(i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    val ex = intercept[IllegalStateException] {
      e.query("ns", "SELECT * FROM cpu")
    }
    assert(ex.getMessage.contains("cap"))
    // within the cap (explicit LIMIT or small result) works
    assert(e.query("ns", "SELECT * FROM cpu LIMIT 3").get.rows.size == 3)
    assert(e.query("ns",
      "SELECT count(*) AS n FROM cpu").get.rows.head.getLong(0) == 10)
  }

  test("gatekeeper denies reflect/java_method anywhere in the query") {
    val e = newEngine()
    e.write(WriteRequest("ns", "cpu", "1", Map.empty, 1))
    Seq(
      "SELECT reflect('java.lang.System', 'getenv') FROM cpu",
      "SELECT java_method('java.lang.System', 'getProperty', 'user.dir') FROM cpu",
      "SELECT * FROM cpu WHERE value IN " +
        "(SELECT reflect('java.lang.System', 'getenv') FROM cpu)",
      "WITH t AS (SELECT reflect('java.lang.System', 'getenv') v " +
        "FROM cpu) SELECT * FROM t"
    ).foreach { sql =>
      val ex = intercept[IllegalArgumentException](e.query("ns", sql))
      assert(ex.getMessage.contains("not allowed"), sql)
    }
    // plain functions still pass
    assert(e.query("ns",
      "SELECT upper(value) AS v FROM cpu").get.rows.head.getString(0) == "1")
  }

  test("property: random writes round-trip through SQL unchanged") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val e = newEngine()
    val genW: Gen[WriteRequest] = for {
      v <- Gen.asciiPrintableStr
      tag <- Gen.option(Gen.oneOf(
        graft.core.TagString("x"): graft.core.TagValue,
        graft.core.TagNumber(-5L): graft.core.TagValue))
      ts <- Gen.choose(0L, 4102444800000000L) // 1970..2100, micros
    } yield WriteRequest("prop", "m",
      v, tag.map(t => Map("t" -> t)).getOrElse(Map.empty), ts)
    val writes = (1 to 100).map(i =>
      genW.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    writes.foreach(e.write)
    val r = e.query("prop",
      "SELECT timestamp, value, t FROM m ORDER BY timestamp, value").get
    assert(r.rows.size == 100)
    val got = r.rows.map(row =>
      (graft.engine.Sinks.formatCell(row.get(0)), row.getString(1),
        Option(row.getString(2))))
    val want = writes.sortBy(w => (w.timestamp, w.value)).map { w =>
      (graft.engine.Sinks.formatCell(new java.sql.Timestamp(0) {
        setTime(Math.floorDiv(w.timestamp, 1000L))
        setNanos((Math.floorMod(w.timestamp, 1000000L) * 1000L).toInt)
      }), w.value, w.metadata.get("t").map(_.render))
    }
    assert(got == want)
  }

  test("sealed parquet tier unions with the in-RAM tail") {
    val tierDir = Files.createTempDirectory("tier-spec").toFile
    val e = newEngine(Some(new ParquetTier(tierDir)))
    e.write(WriteRequest("ns", "cpu", "1", Map("host" -> TagString("h1")), 1))
    e.seal("ns", "cpu")
    assert(e.buffer.partitions("ns", "cpu") == 0)
    // tier-only query
    val r1 = e.query("ns", "SELECT value, host FROM cpu").get
    assert(r1.rows.map(r0 => (r0.getString(0), r0.getString(1))) ==
      Seq(("1", "h1")))
    // new write with a NEW tag key → widened schema over the union
    e.write(WriteRequest("ns", "cpu", "2",
      Map("zone" -> TagString("z1")), 86400L * 1000000L))
    val r2 = e.query("ns",
      "SELECT value, host, zone FROM cpu ORDER BY timestamp").get
    val rows = r2.rows.map(r0 => (0 until 3).map(r0.get))
    assert(rows == Seq(Seq("1", "h1", null), Seq("2", null, "z1")))
  }

  test("result cache: hits on identical MVCC state, invalidates on " +
    "write and seal, skips nondeterministic SQL") {
    val tierDir = Files.createTempDirectory("rescache-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    e.write(WriteRequest("ns", "cpu", "1", Map.empty, 1L))
    val q = "SELECT sum(CAST(value AS BIGINT)) AS s FROM cpu"
    assert(e.query("ns", q).get.rows.head.getLong(0) == 1L)
    assert(e.resultCacheHits.get == 0)
    // identical state → served from cache
    val r2 = e.query("ns", q).get
    assert(e.resultCacheHits.get == 1)
    assert(r2.rows.head.getLong(0) == 1L)
    // a write bumps the buffer revision → miss, fresh result
    e.write(WriteRequest("ns", "cpu", "2", Map.empty, 2L))
    assert(e.query("ns", q).get.rows.head.getLong(0) == 3L)
    assert(e.resultCacheHits.get == 1)
    // sealing moves rows to the tier (new revision + manifest
    // version) → miss, then the re-keyed entry caches again
    e.seal("ns", "cpu")
    assert(e.query("ns", q).get.rows.head.getLong(0) == 3L)
    assert(e.resultCacheHits.get == 1)
    assert(e.query("ns", q).get.rows.head.getLong(0) == 3L)
    assert(e.resultCacheHits.get == 2)
    // a different table's writes must not invalidate this entry
    e.write(WriteRequest("ns", "mem", "9", Map.empty, 3L))
    assert(e.query("ns", q).get.rows.head.getLong(0) == 3L)
    assert(e.resultCacheHits.get == 3)
    // nondeterministic SQL is never cached — both the function form
    // and the paren-less temporal keywords (which parse as attributes
    // or literal expression nodes, not UnresolvedFunction)
    for (nq <- Seq("SELECT value, now() AS t FROM cpu",
        "SELECT value, current_date AS d FROM cpu",
        "SELECT value, current_timestamp AS ts2 FROM cpu")) {
      e.query("ns", nq)
      e.query("ns", nq)
    }
    assert(e.resultCacheHits.get == 3,
      "time-dependent results must not be served from the cache")
  }

  test("EXPLAIN passes the gate for SELECTs only; the inner plan is " +
    "still checked and plan text is never cached") {
    val e = newEngine()
    e.write(WriteRequest("ns", "cpu", "1", Map.empty, 1L))
    val r = e.query("ns", "EXPLAIN SELECT value FROM cpu").get
    val text = r.rows.map(_.getString(0)).mkString("\n")
    assert(text.contains("Physical Plan"),
      s"EXPLAIN should return the plan, got: $text")
    // gates still apply to the explained plan
    intercept[IllegalArgumentException](
      e.query("ns", "EXPLAIN INSERT INTO cpu VALUES (1)"))
    intercept[IllegalArgumentException](
      e.query("ns", "EXPLAIN SELECT reflect('java.lang.System', " +
        "'getenv') FROM cpu"))
    // plan text must not be served from the result cache
    val h0 = e.resultCacheHits.get
    e.query("ns", "EXPLAIN SELECT value FROM cpu")
    assert(e.resultCacheHits.get == h0, "EXPLAIN output must not cache")
    // EXPLAIN over tiered data must not leak the host tier root path
    val tierDir = Files.createTempDirectory("explain-tier").toFile
    val et = newEngine(Some(new ParquetTier(tierDir)))
    et.write(WriteRequest("ns", "cpu", "1", Map.empty, 1L))
    et.seal("ns", "cpu")
    val planText = et.query("ns", "EXPLAIN SELECT value FROM cpu").get
      .rows.map(_.getString(0)).mkString("\n")
    assert(!planText.contains(tierDir.getAbsolutePath),
      s"EXPLAIN must redact the tier root:\n$planText")
    assert(planText.contains("<data-dir>"),
      "redaction placeholder should appear where the scan path was")
  }

  test("time travel: historical manifest versions read the old rows, " +
    "and report cleanly once GC'd") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("travel-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    e.write(WriteRequest("ns", "cpu", "1", Map.empty, 1L))
    e.write(WriteRequest("ns", "cpu", "2", Map.empty, 2L))
    e.seal("ns", "cpu") // manifest v1
    e.write(WriteRequest("ns", "cpu", "3", Map.empty, 3L))
    e.seal("ns", "cpu") // manifest v2
    assert(tier.manifestVersions("ns", "cpu") == Seq(1L, 2L))
    def sumAt(v: Long): Option[Long] =
      tier.readAt(spark, "ns", "cpu", v)(
        _.selectExpr("sum(CAST(value AS BIGINT))").head.getLong(0))
    assert(sumAt(1L) == Some(3L), "v1 must see only the first seal")
    assert(sumAt(2L) == Some(6L), "v2 must see both seals")
    assert(sumAt(9L) == None, "unknown versions report None")
    // compaction supersedes v1/v2 files but keeps them through the
    // grace window — history is still readable
    e.compact("ns", "cpu") // manifest v3
    assert(sumAt(1L) == Some(3L),
      "history must survive compaction during the grace window")
    assert(sumAt(3L) == Some(6L))
    // zero-grace GC deletes the superseded files: v1 now reports
    // None instead of a broken scan
    new ParquetTier(tierDir, trashGraceMs = 0).compact(spark, "ns", "cpu")
    assert(sumAt(1L) == None,
      "GC'd history must report None, not a partial read")
    assert(tier.read(spark, "ns", "cpu").count() == 3)
  }

  test("clustered compaction yields disjoint row-group stats on the " +
    "cluster column") {
    import scala.jdk.CollectionConverters._
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("cluster-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    // one day of rows over 40 hosts, ingest order interleaved so the
    // unclustered layout has every host in every region of the file
    val n = 8000
    (0 until n).foreach { i =>
      e.write(WriteRequest("ns", "cpu", (i % 97).toString,
        Map("host" -> TagString(f"h${i % 40}%02d")), 1000000L + i))
      if (i % 2000 == 1999) e.seal("ns", "cpu")
    }
    e.seal("ns", "cpu")
    // cluster by host; tiny row groups so the small fixture still
    // produces several groups to prove disjointness on
    tier.compact(spark, "ns", "cpu", Seq("host"),
      Map("parquet.block.size" -> "16384", "parquet.page.size" -> "4096"))
    val files = tier.dataFiles("ns", "cpu")
    assert(files.size == 1, "one day must compact to one file")
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head),
      spark.sparkContext.hadoopConfiguration)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      assert(blocks.size >= 2,
        s"need multiple row groups to prove clustering, got ${blocks.size}")
      val ranges = blocks.map { b =>
        val c = b.getColumns.asScala
          .find(_.getPath.toDotString == "host").get
        val st = c.getStatistics
          .asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
        (st.genericGetMin.toStringUsingUTF8,
          st.genericGetMax.toStringUsingUTF8)
      }
      ranges.sliding(2).foreach {
        case Seq((_, maxA), (minB, _)) =>
          assert(maxA <= minB,
            s"row-group host ranges must be disjoint after clustering: " +
              s"$ranges")
        case _ =>
      }
    } finally rdr.close()
    // results unchanged: per-host counts survive the clustered rewrite
    val r = e.query("ns",
      "SELECT count(*) AS c FROM cpu WHERE host = 'h07'").get
    assert(r.rows.head.getLong(0) == n / 40)
  }

  test("time travel lifts to SQL: asOfVersion reads the old manifest, " +
    "excludes buffered rows, and fails whole past the GC window") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("travel-sql-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    e.write(WriteRequest("ns", "cpu", "1", Map.empty, 1L))
    e.write(WriteRequest("ns", "cpu", "2", Map.empty, 2L))
    e.seal("ns", "cpu") // manifest v1
    e.write(WriteRequest("ns", "cpu", "3", Map.empty, 3L))
    e.seal("ns", "cpu") // manifest v2
    e.write(WriteRequest("ns", "cpu", "4", Map.empty, 4L)) // buffer only
    def sum(asOf: Option[Long]): Long =
      e.query("ns", "SELECT sum(CAST(value AS BIGINT)) AS s FROM cpu",
        asOf).get.rows.head.getLong(0)
    assert(sum(None) == 10L, "a current read sees tier + buffer")
    assert(sum(Some(1L)) == 3L, "v1 sees only the first seal")
    assert(sum(Some(2L)) == 6L,
      "an as-of read must exclude rows buffered after the version")
    val unknown = intercept[IllegalArgumentException](sum(Some(9L)))
    assert(unknown.getMessage.contains("never published"))
    // compaction supersedes v1's files; zero-grace GC deletes them —
    // the SQL surface must then fail whole, not serve a partial scan
    e.compact("ns", "cpu")
    new ParquetTier(tierDir, trashGraceMs = 0).compact(spark, "ns", "cpu")
    val gone = intercept[IllegalArgumentException](sum(Some(1L)))
    assert(gone.getMessage.contains("GC window"))
    assert(sum(None) == 10L, "current reads are untouched by history GC")
    // a buffered-but-never-sealed table EXISTS: as-of must say "no
    // such version", not 404 as if the table were unknown
    e.write(WriteRequest("ns", "mem", "9", Map.empty, 9L))
    assert(e.query("ns", "SELECT count(*) AS c FROM mem").isDefined)
    val unsealed = intercept[IllegalArgumentException](
      e.query("ns", "SELECT count(*) AS c FROM mem", Some(1L)))
    assert(unsealed.getMessage.contains("never published"))
    // a genuinely unknown table stays a 404, with or without as-of
    assert(e.query("ns", "SELECT 1 FROM nosuch", Some(1L)).isEmpty)
  }

  test("value blooms skip files that provably exclude an equality " +
    "literal — harvest rules, store soundness, corrupted-file e2e") {
    val spark = SparkFixture.spark
    def eqs(sql: String) =
      LynxEngine.eqLiteralsPerTable(LynxEngine.parse(spark, sql))
    // plain WHERE equality binds to its table
    assert(eqs("SELECT * FROM cpu WHERE host = 'h2'") ==
      Map("cpu" -> Seq("host" -> Seq("h2"))))
    // IN-lists harvest as value lists; a non-string element voids
    // the whole IN (type coercion could match a different string form)
    assert(eqs("SELECT * FROM cpu WHERE host IN ('h1', 'h3')") ==
      Map("cpu" -> Seq("host" -> Seq("h1", "h3"))))
    assert(eqs("SELECT * FROM cpu WHERE host IN ('h1', 3)").isEmpty)
    // OR-of-equalities on ONE column harvests as the IN it is
    assert(eqs("SELECT * FROM cpu WHERE host = 'a' OR host = 'b'") ==
      Map("cpu" -> Seq("host" -> Seq("a", "b"))))
    assert(eqs("SELECT * FROM cpu WHERE host = 'a' OR 'b' = host " +
      "OR host IN ('c', 'd')") ==
      Map("cpu" -> Seq("host" -> Seq("a", "b", "c", "d"))))
    // a cross-column, non-equality, or non-string disjunct voids the
    // whole OR (the disjunction can then be satisfied other ways)
    assert(eqs(
      "SELECT * FROM cpu WHERE host = 'a' OR region = 'x'").isEmpty)
    assert(eqs(
      "SELECT * FROM cpu WHERE host = 'a' OR host > 'x'").isEmpty)
    assert(eqs(
      "SELECT * FROM cpu WHERE host = 'a' OR host = 3").isEmpty)
    // literal-first orientation; qualified attribution through a join
    val j = eqs(
      """SELECT * FROM cpu c JOIN mem m ON c.value = m.value
        |WHERE 'h1' = c.host AND m.zone = 'eu'"""
        .stripMargin.replace("\n", " "))
    assert(j.get("cpu").contains(Seq("host" -> Seq("h1"))), s"$j")
    assert(j.get("mem").contains(Seq("zone" -> Seq("eu"))), s"$j")
    // ON-clause equalities are never harvested (outer-join safety)
    assert(eqs(
      """SELECT * FROM cpu c LEFT JOIN mem m ON c.value = m.value
        |AND m.zone = 'eu'""".stripMargin.replace("\n", " ")).isEmpty)
    // self-joins share one view: no harvest; non-string literals are
    // type-coerced comparisons: no harvest
    assert(eqs(
      "SELECT * FROM cpu a JOIN cpu b ON a.value = b.value " +
        "WHERE a.host = 'h1'").isEmpty)
    assert(eqs("SELECT * FROM cpu WHERE host = 3").isEmpty)

    // engine e2e: three sealed files with disjoint host values
    val tierDir = Files.createTempDirectory("bloom-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    // track which data files each seal produced (a seal may write
    // several part files; the bloom skip works per FILE, not per seal)
    var prev = Set.empty[String]
    val byHost = scala.collection.mutable.Map.empty[String, Set[String]]
    for ((h, i) <- Seq("h1", "h2", "h3").zipWithIndex) {
      (0 until 3).foreach(k =>
        e.write(WriteRequest("ns", "cpu", s"$h-$k",
          Map("host" -> TagString(h)), i * 100L + k + 1)))
      e.seal("ns", "cpu")
      val now = tier.dataFiles("ns", "cpu").toSet
      byHost(h) = now -- prev
      prev = now
    }
    val files = tier.dataFiles("ns", "cpu")
    val bs = e.valueBlooms.get
    assert(bs.index("ns", "cpu", "host") == files.size,
      "every sealed file indexed")
    assert(bs.index("ns", "cpu", "host") == 0, "idempotent: no re-read")
    assert(bs.indexedColumns("ns", "cpu") == Set("host"))
    // non-string columns are refused at the source (timestamp
    // equality coerces the literal — string blooms would be unsound)
    val bad = intercept[IllegalArgumentException](
      bs.index("ns", "cpu", "timestamp"))
    assert(bad.getMessage.contains("string"))

    // store-level: exactly h2's seal files survive the h2 skip
    val kept = bs.skipFiles("ns", "cpu", "host", "h2", files)
    assert(kept.toSet == byHost("h2"), s"expected ${byHost("h2")}, got $kept")
    // a value nobody wrote skips everything
    assert(bs.skipFiles("ns", "cpu", "host", "nope", files).isEmpty)
    // an unindexed column keeps everything (conservative)
    assert(bs.skipFiles("ns", "cpu", "region", "x", files) == files)

    // e2e: corrupt the two files the h2 bloom excludes — the query
    // succeeds iff the scan never opened them
    files.filterNot(kept.toSet).foreach(p =>
      Files.write(new java.io.File(p).toPath, "not parquet".getBytes))
    val r = e.query("ns",
      "SELECT value FROM cpu WHERE host = 'h2' ORDER BY value").get
    assert(r.rows.map(_.getString(0)) == Seq("h2-0", "h2-1", "h2-2"),
      "bloom-pruned equality query must return exactly h2's rows")
    // IN-list pruning: ('h2', never-written) keeps only h2's files —
    // both corrupted files stay unread
    val rin = e.query("ns",
      "SELECT value FROM cpu WHERE host IN ('h2', 'nope') " +
        "ORDER BY value").get
    assert(rin.rows.map(_.getString(0)) == Seq("h2-0", "h2-1", "h2-2"),
      "bloom-pruned IN query must return exactly h2's rows")
    // OR-of-equalities pruning: same soundness as the IN above, and
    // the corrupted files again prove it planned the skip
    val ror = e.query("ns",
      "SELECT value FROM cpu WHERE host = 'h2' OR host = 'nope' " +
        "ORDER BY value").get
    assert(ror.rows.map(_.getString(0)) == Seq("h2-0", "h2-1", "h2-2"),
      "bloom-pruned OR-equality query must return exactly h2's rows")
    // the literal above a pass-through derived table prunes its scan
    // too, and the file counters see both skipped files
    assert(eqs("SELECT * FROM (SELECT timestamp, host FROM cpu) d " +
      "WHERE d.host = 'h2'") == Map("cpu" -> Seq("host" -> Seq("h2"))))
    val (total0, read0) = (e.pruneFilesTotal.get, e.pruneFilesRead.get)
    val rdt = e.query("ns", "SELECT value FROM (SELECT * FROM cpu) d " +
      "WHERE host = 'h2' ORDER BY value").get
    assert(rdt.rows.map(_.getString(0)) == Seq("h2-0", "h2-1", "h2-2"),
      "bloom-pruned derived-table query must return exactly h2's rows")
    assert(e.pruneFilesTotal.get - total0 == files.size &&
      e.pruneFilesRead.get - read0 == kept.size)
    // range-only predicate: zone maps alone must skip the corrupted
    // h1/h3 files (no equality conjunct, so the blooms are idle)
    val rrange = e.query("ns",
      "SELECT value FROM cpu WHERE host >= 'h2' AND host <= 'h2z' " +
        "ORDER BY value").get
    assert(rrange.rows.map(_.getString(0)) == Seq("h2-0", "h2-1", "h2-2"),
      "zone-map-pruned range query must return exactly h2's rows")
    // store-level: the IN keeps the union of per-value survivors
    assert(bs.skipFilesAny("ns", "cpu", "host", Seq("h2", "nope"),
      files).toSet == byHost("h2"))

    // zone maps (built in the same index pass): range harvest...
    def rng(sql: String) =
      LynxEngine.strRangesPerTable(LynxEngine.parse(spark, sql))
    assert(rng("SELECT * FROM cpu WHERE v >= 'b' AND v < 'c'") ==
      Map("cpu" -> Seq(("v", Some("b"), Some("c")))))
    assert(rng("SELECT * FROM cpu WHERE 'b' <= v") ==
      Map("cpu" -> Seq(("v", Some("b"), None))))
    assert(rng("SELECT * FROM cpu WHERE v > 3").isEmpty,
      "non-string range literals are never harvested")
    // ...store-level skipping on [lo, hi] vs each file's [min, max]...
    assert(bs.skipFilesRange("ns", "cpu", "host",
      Some("h2"), Some("h2"), files).toSet == byHost("h2"))
    assert(bs.skipFilesRange("ns", "cpu", "host",
      Some("h3"), None, files).toSet == byHost("h3"))
    assert(bs.skipFilesRange("ns", "cpu", "host",
      None, Some("h0"), files).isEmpty,
      "a range below every file's min skips everything")
    // ...and the range path proves itself on the same corrupted
    // fixtures below (no equality conjunct → blooms idle, zone maps
    // must do the pruning alone)
    // negative control: a query the blooms cannot prune must hit the
    // corrupted files and fail — proving the skip (not luck) saved
    // the h2 query. (h1's file is corrupt, and `host = 'h1'` keeps it.)
    intercept[Exception] {
      e.query("ns",
        "SELECT value FROM cpu WHERE host = 'h1' ORDER BY value")
    }
  }

  test("bloom/zone prune drops superseded files; re-index covers the " +
    "compacted manifest") {
    val tierDir = Files.createTempDirectory("bloom-prune-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    for (h <- Seq("a", "b")) {
      e.write(WriteRequest("ns", "cpu", s"v-$h",
        Map("host" -> TagString(h)), h.hashCode.abs.toLong))
      e.seal("ns", "cpu")
    }
    val bs = e.valueBlooms.get
    val n = bs.index("ns", "cpu", "host")
    assert(n > 0 && bs.cachedFiles == n)
    // all indexed files live in the manifest: prune is a no-op
    bs.prune()
    assert(bs.cachedFiles == n)
    // compaction publishes a new manifest; the old files' blooms AND
    // zone maps are dead weight and prune drops them
    e.compact("ns", "cpu")
    bs.prune()
    assert(bs.cachedFiles == 0,
      "superseded files must leave the bloom/zone cache on prune")
    // incremental re-index picks up exactly the compacted manifest,
    // and skipping works against it
    val n2 = bs.index("ns", "cpu", "host")
    assert(n2 == tier.dataFiles("ns", "cpu").size)
    val kept = bs.skipFiles("ns", "cpu", "host", "b",
      tier.dataFiles("ns", "cpu"))
    val r = e.query("ns",
      "SELECT value FROM cpu WHERE host = 'b'").get
    assert(r.rows.map(_.getString(0)) == Seq("v-b"))
    assert(kept.nonEmpty && kept.size <= n2)
  }

  test("bloom/zone index persists under the tier root: a restarted " +
    "store reloads partials with ZERO re-reads and still skips") {
    val tierDir = Files.createTempDirectory("bloom-persist-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    for ((h, i) <- Seq("p1", "p2", "p3").zipWithIndex) {
      e.write(WriteRequest("ns", "cpu", s"v-$h",
        Map("host" -> TagString(h)), i * 100L + 1))
      e.seal("ns", "cpu")
    }
    val files = tier.dataFiles("ns", "cpu")
    assert(e.valueBlooms.get.index("ns", "cpu", "host") == files.size)
    // restart: a FRESH engine + BloomStore over the same tier dir
    val e2 = newEngine(Some(new ParquetTier(tierDir)))
    val bs2 = e2.valueBlooms.get
    // persisted partials cover the whole manifest — nothing re-read
    assert(bs2.index("ns", "cpu", "host") == 0,
      "restarted store must reload persisted partials, not re-scan")
    assert(bs2.indexedColumns("ns", "cpu") == Set("host"))
    // corrupt every file p2's entries exclude: the restarted engine's
    // pruned query succeeds iff the skip planned those files away
    val kept = bs2.skipFiles("ns", "cpu", "host", "p2", files)
    assert(kept.nonEmpty && kept.size < files.size)
    files.filterNot(kept.toSet).foreach(p =>
      Files.write(new java.io.File(p).toPath, "not parquet".getBytes))
    val r = e2.query("ns",
      "SELECT value FROM cpu WHERE host = 'p2'").get
    assert(r.rows.map(_.getString(0)) == Seq("v-p2"))
  }

  test("zone maps order in UTF-8 byte space: supplementary-plane " +
    "literals are never unsoundly skipped (Java UTF-16 order " +
    "disagrees with Spark's binary collation)") {
    // U+FFFD (BMP, 3-byte UTF-8) vs U+1F600 😀 (astral, 4-byte
    // UTF-8 / surrogate pair): Java String order puts 😀 FIRST
    // (surrogates 0xD83D.. < 0xFFFD), UTF-8 byte order puts it LAST
    // (0xF0.. > 0xEF..). A String-ordered zone check would evaluate
    // '😀' < min and skip the very file that holds it.
    val fffd = "�"
    val smile = new String(Character.toChars(0x1F600))
    assert(smile < fffd, "Java order: the premise of the bug")
    assert(graft.engine.BloomStore.cmpBytes(
      smile.getBytes("UTF-8"), fffd.getBytes("UTF-8")) > 0,
      "UTF-8 byte order: what Spark's min/max used")
    val tierDir = Files.createTempDirectory("bloom-astral-tier").toFile
    // handcraft ONE part file holding BOTH values (a sealed buffer
    // may split rows across part files, and the bug needs min=U+FFFD
    // max=😀 inside a single file's zone map); no manifest — the
    // tier's directory-walk fallback picks the file up
    val spark = SparkFixture.spark
    spark.sql(
      s"""SELECT timestamp'1970-01-01 00:00:00' AS timestamp,
          'v-fffd' AS value, '$fffd' AS host
          UNION ALL
          SELECT timestamp'1970-01-01 00:00:01', 'v-smile', '$smile'""")
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(tierDir,
        "ns/cpu/__lynx_day=1970-01-01").getPath)
    val tier = new ParquetTier(tierDir)
    val bs = new graft.engine.BloomStore(spark, tier)
    val files = tier.dataFiles("ns", "cpu")
    assert(files.size == 1, s"fixture must be ONE file, got $files")
    assert(bs.index("ns", "cpu", "host") == 1)
    // equality on the astral literal must KEEP the file...
    assert(bs.skipFiles("ns", "cpu", "host", smile, files) == files,
      "astral equality must not be zone-skipped")
    // ...and so must a range that only the astral value satisfies
    assert(bs.skipFilesRange("ns", "cpu", "host",
      Some(fffd + "z"), None, files) == files,
      "astral-only range must not be zone-skipped")
    // negative control: a range above the astral max still skips
    assert(bs.skipFilesRange("ns", "cpu", "host",
      Some(smile + "z"), None, files).isEmpty)
    // and below the BMP min too (both bounds live in byte space)
    assert(bs.skipFilesRange("ns", "cpu", "host",
      None, Some("z"), files).isEmpty)
  }

  test("bloom cache is bounded: cold disk-backed columns evict past " +
    "maxCachedFiles and lazily reload with identical skipping") {
    val tierDir = Files.createTempDirectory("bloom-evict-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    for ((h, i) <- Seq("e1", "e2", "e3").zipWithIndex) {
      e.write(WriteRequest("ns", "cpu", s"v-$h",
        Map("host" -> TagString(h), "zone" -> TagString(s"z$i")),
        i * 100L + 1))
      e.seal("ns", "cpu")
    }
    val files = tier.dataFiles("ns", "cpu")
    val n = files.size
    // bound = one column's worth of files: indexing a second column
    // must evict the first instead of growing the heap
    val bs = new graft.engine.BloomStore(SparkFixture.spark, tier,
      maxCachedFiles = n)
    assert(bs.index("ns", "cpu", "host") == n)
    assert(bs.index("ns", "cpu", "zone") == n)
    assert(bs.cachedFiles <= n,
      s"cache must shed to the bound, holds ${bs.cachedFiles}")
    // both columns still advertise as indexed (disk is the truth)
    assert(bs.indexedColumns("ns", "cpu") == Set("host", "zone"))
    // the evicted column reloads lazily and skips IDENTICALLY to an
    // unbounded fresh store over the same persisted index
    val kept = bs.skipFiles("ns", "cpu", "host", "e2", files)
    assert(kept.nonEmpty && kept.size < n)
    val fresh = new graft.engine.BloomStore(SparkFixture.spark, tier)
    assert(kept == fresh.skipFiles("ns", "cpu", "host", "e2", files))
    // and the reload re-bounded the cache (zone went cold)
    assert(bs.cachedFiles <= n)
  }

  test("per-file LRU: ONE column larger than the bound serves " +
    "correct skips while the cache stays under maxCachedFiles") {
    val tierDir = Files.createTempDirectory("bloom-filelru-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    val hosts = Seq("f1", "f2", "f3", "f4")
    for ((h, i) <- hosts.zipWithIndex) {
      e.write(WriteRequest("ns", "cpu", s"v-$h",
        Map("host" -> TagString(h)), i * 100L + 1))
      e.seal("ns", "cpu")
    }
    val files = tier.dataFiles("ns", "cpu")
    val n = files.size
    assert(n >= hosts.size)
    // the bound is SMALLER than this one column: whole-column
    // eviction could never satisfy it while the column is hot
    val bound = 2
    val bs = new graft.engine.BloomStore(SparkFixture.spark, tier,
      maxCachedFiles = bound)
    assert(bs.index("ns", "cpu", "host") == n)
    val fresh = new graft.engine.BloomStore(SparkFixture.spark, tier)
    // interleaved lookups spanning more files than the bound: every
    // skip set must equal the unbounded twin's, and after each query
    // the resident entry count must obey the bound (evicted files
    // reload TARGETED from the jsonl, not via a full column load)
    for (h <- Seq("f1", "f2", "f3", "f4", "f1", "f3")) {
      val kept = bs.skipFiles("ns", "cpu", "host", h, files)
      assert(kept == fresh.skipFiles("ns", "cpu", "host", h, files),
        s"bounded store must skip identically for $h")
      assert(kept.nonEmpty && kept.size < n)
      assert(bs.cachedFiles <= bound,
        s"cache holds ${bs.cachedFiles} entries past the $bound bound")
    }
    // incremental builds stay incremental across partial eviction:
    // the persisted path set (not resident memory) defines "already
    // indexed", so nothing re-scans
    assert(bs.index("ns", "cpu", "host") == 0,
      "partial eviction must never cause a re-scan of indexed files")
  }

  test("property: the bounded per-file-LRU store answers every skip " +
    "variant identically to an unbounded twin under 60 random " +
    "interleaved queries") {
    val tierDir = Files.createTempDirectory("bloom-lruprop-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    val hosts = (1 to 6).map(i => s"p$i")
    for ((h, i) <- hosts.zipWithIndex) {
      e.write(WriteRequest("ns", "cpu", s"v-$h",
        Map("host" -> TagString(h)), i * 100L + 1))
      e.seal("ns", "cpu")
    }
    val files = tier.dataFiles("ns", "cpu")
    val bounded = new graft.engine.BloomStore(SparkFixture.spark, tier,
      maxCachedFiles = 2)
    assert(bounded.index("ns", "cpu", "host") == files.size)
    val fresh = new graft.engine.BloomStore(SparkFixture.spark, tier)
    val rnd = new scala.util.Random(7)
    val pool = hosts ++ Seq("nope", "", "zzz")
    def pick() = pool(rnd.nextInt(pool.size))
    (1 to 60).foreach { i =>
      val (a, b) = (
        rnd.nextInt(3) match {
          case 0 =>
            val v = pick()
            (bounded.skipFiles("ns", "cpu", "host", v, files),
              fresh.skipFiles("ns", "cpu", "host", v, files))
          case 1 =>
            val vs = Seq(pick(), pick())
            (bounded.skipFilesAny("ns", "cpu", "host", vs, files),
              fresh.skipFilesAny("ns", "cpu", "host", vs, files))
          case _ =>
            val lo = if (rnd.nextBoolean()) Some(pick()) else None
            val hi = if (rnd.nextBoolean()) Some(pick()) else None
            (bounded.skipFilesRange("ns", "cpu", "host", lo, hi, files),
              fresh.skipFilesRange("ns", "cpu", "host", lo, hi, files))
        })
      assert(a == b, s"query $i: bounded $a != unbounded $b")
      assert(bounded.cachedFiles <= 2,
        s"query $i: cache ${bounded.cachedFiles} over the bound")
    }
  }

  test("expire() GCs the persisted bloom index with the manifest: an " +
    "expired day's entries leave memory AND the jsonl") {
    val tierDir = Files.createTempDirectory("bloom-expire-tier").toFile
    val tier = new ParquetTier(tierDir)
    val walDir = Files.createTempDirectory("bloom-expire-wal").toFile
    val e = new LynxEngine(SparkFixture.spark, walDir, 1024 * 1024,
      Some(tier), autoBloomColumns = Seq("host"))
    // two day partitions: day 1970-01-01 and 1970-01-03
    e.write(WriteRequest("ns", "cpu", "v-old",
      Map("host" -> TagString("old")), 1L))
    e.seal("ns", "cpu")
    e.write(WriteRequest("ns", "cpu", "v-new",
      Map("host" -> TagString("new")), 2L * 86400L * 1000000L))
    e.seal("ns", "cpu")
    val bs = e.valueBlooms.get
    val before = tier.dataFiles("ns", "cpu").size
    assert(bs.index("ns", "cpu", "host") == 0,
      "auto-indexing covered both seals")
    assert(bs.cachedFiles == before)
    // retention drops the old day — the wired prune must GC its
    // index entries in the same call
    val dropped = e.expire("ns", "cpu", "1970-01-02")
    assert(dropped > 0)
    val live = tier.dataFiles("ns", "cpu")
    assert(live.size < before)
    assert(bs.cachedFiles == live.size,
      "expired files' entries must leave the resident cache")
    // the persisted jsonl shrank too: a fresh store reloads exactly
    // the live set with zero re-scans
    val bs2 = new graft.engine.BloomStore(
      SparkFixture.spark, new ParquetTier(tierDir))
    assert(bs2.index("ns", "cpu", "host") == 0)
    assert(bs2.cachedFiles == live.size,
      "expired files' entries must leave the persisted jsonl")
    // and skipping over the survivors still works
    val kept = bs2.skipFiles("ns", "cpu", "host", "new", live)
    assert(kept.nonEmpty && kept.toSet.subsetOf(live.toSet))
    assert(e.query("ns", "SELECT value FROM cpu").get
      .rows.map(_.getString(0)) == Seq("v-new"))
  }

  test("autoBloomColumns keeps the file-skip index current through " +
    "seal AND compaction with no manual index call") {
    val tierDir = Files.createTempDirectory("bloom-auto-tier").toFile
    val tier = new ParquetTier(tierDir)
    val walDir = Files.createTempDirectory("bloom-auto-wal").toFile
    val e = new LynxEngine(SparkFixture.spark, walDir, 1024 * 1024,
      Some(tier), autoBloomColumns = Seq("host", "timestamp"))
    // "timestamp" is non-string: the auto-indexer must SKIP it with
    // a warning, never fail the seal
    for ((h, i) <- Seq("a1", "a2").zipWithIndex) {
      e.write(WriteRequest("ns", "cpu", s"v-$h",
        Map("host" -> TagString(h)), i * 100L + 1))
      e.seal("ns", "cpu")
    }
    val bs = e.valueBlooms.get
    // every sealed file is already indexed: a manual call finds none
    assert(bs.index("ns", "cpu", "host") == 0,
      "auto-indexing must cover each seal's files as they publish")
    assert(bs.indexedColumns("ns", "cpu") == Set("host"))
    // skipping works immediately; corrupting the excluded file
    // proves the query planned it away
    val files = tier.dataFiles("ns", "cpu")
    val kept = bs.skipFiles("ns", "cpu", "host", "a2", files)
    assert(kept.nonEmpty && kept.size < files.size)
    files.filterNot(kept.toSet).foreach(p =>
      Files.write(new java.io.File(p).toPath, "junk".getBytes))
    val r = e.query("ns",
      "SELECT value FROM cpu WHERE host = 'a2'").get
    assert(r.rows.map(_.getString(0)) == Seq("v-a2"))
    // compaction publishes a fresh manifest; its files must be
    // covered with no blind window (again: zero on a manual call).
    // First restore the corrupted file so the rewrite can read it.
    val tierDir2 = Files.createTempDirectory("bloom-auto2-tier").toFile
    val tier2 = new ParquetTier(tierDir2)
    val walDir2 = Files.createTempDirectory("bloom-auto2-wal").toFile
    val e2 = new LynxEngine(SparkFixture.spark, walDir2, 1024 * 1024,
      Some(tier2), autoBloomColumns = Seq("host"))
    for ((h, i) <- Seq("b1", "b2").zipWithIndex) {
      e2.write(WriteRequest("ns", "cpu", s"v-$h",
        Map("host" -> TagString(h)), i * 100L + 1))
      e2.seal("ns", "cpu")
    }
    e2.compact("ns", "cpu")
    val bs2 = e2.valueBlooms.get
    assert(bs2.index("ns", "cpu", "host") == 0,
      "auto-indexing must cover compaction's files at publish time")
  }

  test("bloom prune queries the tier by the ORIGINAL-case table " +
    "name (a lowercased dir lookup would silently drop the index)") {
    val tierDir = Files.createTempDirectory("bloom-case-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    e.write(WriteRequest("ns", "CpuStats", "v-a",
      Map("host" -> TagString("a")), 1L))
    e.seal("ns", "CpuStats")
    val bs = e.valueBlooms.get
    val n = bs.index("ns", "CpuStats", "host")
    assert(n > 0)
    // every indexed file is live: prune must be a no-op even though
    // the cache key lowercases the table name
    bs.prune()
    assert(bs.cachedFiles == n,
      "prune dropped a live mixed-case table's index")
    // and a restarted store prunes correctly too (orig name comes
    // from the persisted _name file, not process memory). The sweep
    // itself stays NON-resident (one local key at a time — it never
    // grows the cache), so survival is proved by the next touch:
    // nothing re-indexes and the full entry set reloads
    val bs2 = new graft.engine.BloomStore(
      SparkFixture.spark, new ParquetTier(tierDir))
    bs2.prune()
    assert(bs2.index("ns", "CpuStats", "host") == 0,
      "restarted prune dropped a live mixed-case table's index")
    assert(bs2.cachedFiles == n)
  }

  test("executor-side bulk-ingest lane: the dataset lands DISTRIBUTED " +
    "(no driver collect job), atomically at one manifest version, " +
    "time travel intact, bloom auto-index covering it — and a replay " +
    "of the bulk marker never drains unrelated buffered rows") {
    val spark = SparkFixture.spark
    import org.apache.spark.sql.functions._
    val walDir = Files.createTempDirectory("bulk-wal").toFile
    val tierDir = Files.createTempDirectory("bulk-tier").toFile
    val e = new LynxEngine(spark, walDir, 1024 * 1024,
      Some(new ParquetTier(tierDir)),
      autoBloomColumns = Seq("host"))
    // a plain acknowledged write BEFORE the bulk marker: the replay
    // case below proves the bulk marker does not drain it
    e.write(WriteRequest("events", "cpu", "plain-row",
      Map("host" -> TagString("h-plain")), 42L * 1000000L))

    // 100k rows, generated executor-side (spark.range — nothing is
    // ever materialized on the driver), spanning two UTC days
    val n = 100000L
    val df = spark.range(n).select(
      timestamp_micros(col("id") * 1000000L).as("timestamp"),
      concat(lit("v"), col("id")).as("value"),
      concat(lit("h"), col("id") % 3).as("host"))

    // listener: record every job's call site during the ingest — a
    // driver materialization would surface as a "collect at …" job
    val sites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(Option(j.properties)
          .map(_.getProperty("callSite.short", "")).getOrElse(""))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val published =
      try e.ingestDataset("events", "cpu", df)
      finally {
        // listener events post asynchronously; the actions themselves
        // completed inside ingestDataset, so a short drain suffices
        val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
        while (sites.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(50)
        Thread.sleep(200)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(published > 0)
    val seen = scala.jdk.CollectionConverters
      .ListHasAsScala(sites).asScala.toSeq
    assert(seen.nonEmpty, "the ingest must run Spark jobs")
    assert(!seen.exists(_.startsWith("collect at")),
      s"bulk ingest must never materialize on the driver: $seen")

    // visible in one atomic manifest flip; day partitioning is real
    val r = e.query("events", "SELECT count(*) AS c FROM cpu").get
    assert(r.rows.head.getLong(0) == n + 1)
    val versions = e.tierVersions("events", "cpu")
    assert(versions.size == 1, s"ONE manifest version: $versions")
    val dayPruned = e.query("events",
      "SELECT count(*) AS c FROM cpu WHERE timestamp >= " +
        "'1970-01-02 00:00:00'").get
    assert(dayPruned.rows.head.getLong(0) == n - 86400L)

    // time travel: the pre-ingest state (no version) is refused, the
    // published version serves exactly the bulk rows
    val v = versions.head._1
    val asOf = e.query("events", "SELECT count(*) AS c FROM cpu",
      asOfVersion = Some(v)).get
    assert(asOf.rows.head.getLong(0) == n,
      "the published version holds the bulk rows only (the plain " +
        "row is still buffered, above every manifest version)")

    // bloom auto-index covered the published files
    assert(e.valueBlooms.get.indexedColumns("events", "cpu")
      .contains("host"))
    val skip = e.query("events",
      "SELECT count(*) AS c FROM cpu WHERE host = 'h1'").get
    assert(skip.rows.head.getLong(0) > 0)

    // restart: the bulk marker replays (idempotent publish) WITHOUT
    // draining the buffered plain row — both survive
    e.wal.close()
    val e2 = new LynxEngine(spark, walDir, 1024 * 1024,
      Some(new ParquetTier(tierDir)),
      autoBloomColumns = Seq("host"))
    val r2 = e2.query("events", "SELECT count(*) AS c FROM cpu").get
    assert(r2.rows.head.getLong(0) == n + 1,
      "replaying the bulk marker must neither lose the buffered " +
        "plain row (drain bug) nor double-publish the bulk files")
    val plain = e2.query("events",
      "SELECT value FROM cpu WHERE host = 'h-plain'").get
    assert(plain.rows.map(_.getString(0)) == Seq("plain-row"))
  }

  test("bulk ingest validates before staging: null/unparseable " +
    "timestamps and null values reject the dataset whole with no " +
    "side effect (no null __lynx_day partition can ever land)") {
    val spark = SparkFixture.spark
    import org.apache.spark.sql.functions._
    val walDir = Files.createTempDirectory("bulkval-wal").toFile
    val tierDir = Files.createTempDirectory("bulkval-tier").toFile
    val e = new LynxEngine(spark, walDir, 1024 * 1024,
      Some(new ParquetTier(tierDir)))
    // an unparseable STRING timestamp silently casts to NULL under
    // the lane's non-ANSI normalization — the exact corruption shape
    val badTs = spark.range(3).select(
      when(col("id") === 1, lit("not-a-timestamp"))
        .otherwise(lit("1970-01-02 03:04:05")).as("timestamp"),
      concat(lit("v"), col("id")).as("value"))
    val exTs = intercept[IllegalArgumentException] {
      e.ingestDataset("events", "bulkval", badTs)
    }
    assert(exTs.getMessage.contains("null/unparseable"),
      s"wrong rejection: ${exTs.getMessage}")
    // a null VALUE is a row shape the row plane cannot produce
    val badVal = spark.range(3).select(
      timestamp_micros(col("id") * 1000000L).as("timestamp"),
      when(col("id") === 2, lit(null).cast("string"))
        .otherwise(lit("v")).as("value"))
    intercept[IllegalArgumentException] {
      e.ingestDataset("events", "bulkval", badVal)
    }
    // nothing was committed: table unknown (404 path), no manifest,
    // no staging leftovers
    assert(e.query("events", "SELECT * FROM bulkval").isEmpty)
    assert(e.tierVersions("events", "bulkval").isEmpty)
    // and a clean dataset still lands
    val ok = spark.range(3).select(
      timestamp_micros(col("id") * 1000000L).as("timestamp"),
      concat(lit("v"), col("id")).as("value"))
    assert(e.ingestDataset("events", "bulkval", ok) > 0)
    assert(e.query("events",
      "SELECT count(*) AS c FROM bulkval").get.rows.head.getLong(0) == 3)
  }

  test("typed numeric zone maps: try_cast(BIGINT/DOUBLE) range " +
    "predicates skip files (corrupted-file proof), coercing and " +
    "plain-CAST predicates are never harvested, zones persist") {
    val spark = SparkFixture.spark
    // ---- harvest rules
    def num(sql: String) =
      LynxEngine.numRangesPerTable(LynxEngine.parse(spark, sql))
    assert(num("SELECT * FROM cpu WHERE try_cast(status AS BIGINT) " +
      ">= 400")._1 ==
      Map("cpu" -> Seq(("status", Some(400L), None))))
    assert(num("SELECT * FROM cpu WHERE 500 > " +
      "try_cast(status AS BIGINT)")._1 ==
      Map("cpu" -> Seq(("status", None, Some(500L)))))
    assert(num("SELECT * FROM cpu WHERE try_cast(status AS BIGINT) " +
      "= 404")._1 ==
      Map("cpu" -> Seq(("status", Some(404L), Some(404L)))))
    assert(num("SELECT * FROM cpu WHERE try_cast(status AS DOUBLE) " +
      "< 250.5")._2 ==
      Map("cpu" -> Seq(("status", None, Some(250.5)))))
    // intersection of bounds on one column (AND semantics)
    assert(num("SELECT * FROM cpu WHERE try_cast(status AS BIGINT) " +
      ">= 100 AND try_cast(status AS BIGINT) >= 200 AND " +
      "try_cast(status AS BIGINT) < 900")._1 ==
      Map("cpu" -> Seq(("status", Some(200L), Some(900L)))))
    // SOUNDNESS: bare coercion and plain CAST are NEVER harvested —
    // under ANSI both can error on uncastable rows, and pruning a
    // file would suppress that error
    assert(num("SELECT * FROM cpu WHERE status = 404")._1.isEmpty)
    assert(num("SELECT * FROM cpu WHERE status > 400")._1.isEmpty)
    assert(num("SELECT * FROM cpu WHERE CAST(status AS BIGINT) > " +
      "400")._1.isEmpty)
    // a double literal never feeds the LONG zone (the comparison
    // coerces to double, where 400.5 sits between integers)
    assert(num("SELECT * FROM cpu WHERE try_cast(status AS BIGINT) " +
      "> 400.5")._1.isEmpty)

    // ---- engine e2e: three sealed file groups — statuses ~200,
    // ~500, and a non-numeric group (zone computed-empty)
    val tierDir = Files.createTempDirectory("numzone-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = newEngine(Some(tier))
    var prev = Set.empty[String]
    val byGroup = scala.collection.mutable.Map.empty[String, Set[String]]
    for ((g, vals) <- Seq(
        ("ok", Seq("200", "201", "204")),
        ("err", Seq("500", "502", "503")),
        ("text", Seq("timeout", "refused", "reset")))) {
      vals.zipWithIndex.foreach { case (v, i) =>
        e.write(WriteRequest("ns", "req", s"$g-$i",
          Map("status" -> TagString(v)), i.toLong * 1000000L + 1))
      }
      e.seal("ns", "req")
      val now = tier.dataFiles("ns", "req").toSet
      byGroup(g) = now -- prev
      prev = now
    }
    val files = tier.dataFiles("ns", "req")
    val bs = e.valueBlooms.get
    assert(bs.index("ns", "req", "status") == files.size)

    // store-level: BIGINT zone keeps exactly the 5xx group for >= 400
    assert(bs.skipFilesLongRange("ns", "req", "status",
      Some(400L), None, files).toSet == byGroup("err"))
    // equality via lo == hi: a seal splits rows across part files,
    // so only the part(s) whose one-row zone contains 502 survive
    val eq502 = bs.skipFilesLongRange("ns", "req", "status",
      Some(502L), Some(502L), files).toSet
    assert(eq502.nonEmpty && eq502.subsetOf(byGroup("err")),
      s"$eq502 vs ${byGroup("err")}")
    // the non-numeric group is computed-empty: skipped for ANY
    // numeric range, kept for none
    assert(bs.skipFilesLongRange("ns", "req", "status",
      None, Some(Long.MaxValue), files).toSet ==
      byGroup("ok") ++ byGroup("err"))
    // DOUBLE zone
    assert(bs.skipFilesDoubleRange("ns", "req", "status",
      None, Some(250.5), files).toSet == byGroup("ok"))

    // e2e with corrupted-file proof: damage everything the >= 400
    // prune excludes; the query plans only the err files and succeeds
    val keep = byGroup("err")
    files.filterNot(keep).foreach(pth =>
      Files.write(new java.io.File(pth).toPath, "not parquet".getBytes))
    val r = e.query("ns",
      "SELECT value FROM req WHERE try_cast(status AS BIGINT) >= " +
        "400 ORDER BY value").get
    assert(r.rows.map(_.getString(0)) == Seq("err-0", "err-1", "err-2"),
      "numeric-zone-pruned query must read only the err files")
    // double-zone path on the same corrupted fixtures
    val rd = e.query("ns",
      "SELECT value FROM req WHERE try_cast(status AS DOUBLE) " +
        ">= 400.0 ORDER BY value").get
    assert(rd.rows.map(_.getString(0)) == Seq("err-0", "err-1", "err-2"))
    // negative control: an unharvestable shape (plain CAST) keeps the
    // corrupted files in the plan and fails — the skip was the saver
    intercept[Exception] {
      e.query("ns", "SELECT value FROM req WHERE " +
        "CAST(status AS BIGINT) >= 400 ORDER BY value")
    }

    // persistence: a fresh engine on the same tier reloads the zones
    // from the jsonl (nz/nl/dl round-trip) and still skips
    val e2 = newEngine(Some(tier))
    val bs2 = e2.valueBlooms.get
    assert(bs2.skipFilesLongRange("ns", "req", "status",
      Some(400L), None, files).toSet == byGroup("err"),
      "numeric zones must survive a restart via the persisted index")
  }

  test("seal writes exactly the drained rows, one parquet file per day " +
    "(never more than a row-relation frame wrote)") {
    val spark = SparkFixture.spark
    val tierDir = Files.createTempDirectory("seal-scan-tier").toFile
    val e = newEngine(Some(new ParquetTier(tierDir)))
    val dayUs = 86400L * 1000000L
    val base = 1699920000L * 1000000L
    val r = new scala.util.Random(7)
    // day 0 spans several chunks; days 1 and 2 are small
    val rows = Seq(0 -> 40000, 1 -> 5, 2 -> 1000).flatMap { case (d, n) =>
      (0 until n).map { i =>
        val tags = Map[String, graft.core.TagValue]("host" -> TagString(s"h${r.nextInt(50)}")) ++
          (if (r.nextInt(20) == 0) Map("rack" -> TagNumber(r.nextLong())) else Map.empty)
        WriteRequest("ns", "cpu", r.nextInt(1000).toString, tags,
          base + d * dayUs + r.nextInt(86400000) * 1000L + r.nextInt(1000))
      }
    }
    rows.grouped(1000).foreach(e.writeBatch)
    // what a row-relation frame (Row objects in a LocalRelation) of the
    // same rows writes, staged into a scratch tier
    val drained = e.buffer.tables("ns").get("cpu")
    val schema = graft.buffer.BufferScan.schema(drained)
    val asRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    drained.valuesIterator.foreach { v =>
      v.timestamps.indices.foreach { i =>
        val ts = new java.sql.Timestamp(Math.floorDiv(v.timestamps(i), 1000L))
        ts.setNanos((Math.floorMod(v.timestamps(i), 1000000L) * 1000L).toInt)
        asRows.add(org.apache.spark.sql.Row.fromSeq(ts +: v.values(i) +:
          schema.fieldNames.drop(2).toSeq.map(k => v.metadata(i).get(k).map(_.render).orNull)))
      }
    }
    def withDay(df: org.apache.spark.sql.DataFrame) = df.withColumn(ParquetTier.DayCol,
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("timestamp"), "yyyy-MM-dd"))
    val scratch = new ParquetTier(Files.createTempDirectory("seal-rows-tier").toFile)
    val (_, rowFiles) = scratch.stage(spark, "ns", "cpu",
      withDay(spark.createDataFrame(asRows, schema)))
    def perDay(files: Seq[String]): Map[String, Int] =
      files.groupBy(f => ParquetTier.DayFromPath.findFirstMatchIn(f).get.group(1))
        .map { case (d, fs) => d -> fs.size }
    e.seal("ns", "cpu")
    assert(e.buffer.partitions("ns", "cpu") == 0)
    val sealedFiles = {
      val t = new ParquetTier(tierDir)
      val s = t.snapshot("ns", "cpu")
      try s.files finally t.release(s)
    }
    val sealedPerDay = perDay(sealedFiles)
    assert(sealedPerDay.values.forall(_ == 1), sealedPerDay)
    val rowPerDay = perDay(rowFiles)
    assert(sealedPerDay.keySet == rowPerDay.keySet)
    sealedPerDay.foreach { case (d, n) => assert(n <= rowPerDay(d), d) }
    // the tier now holds exactly the drained rows
    val got = e.query("ns", "SELECT unix_micros(timestamp), value, host, rack " +
      "FROM cpu").get.rows.map(x => (0 until 4).map(x.get)).sortBy(_.toString)
    val want = rows.map(w => Seq[Any](w.timestamp, w.value,
      w.metadata("host").render, w.metadata.get("rack").map(_.render).orNull))
      .sortBy(_.toString)
    assert(got == want)
  }

  private val dayUs = 86400L * 1000000L

  test("a tier view's columns are its pinned version's, even when bloom " +
    "skipping kept no file") {
    val tier = new ParquetTier(Files.createTempDirectory("view-bloom").toFile)
    val e = newEngine(Some(tier))
    e.write(WriteRequest("ns", "t", "1", Map("a" -> TagString("x")), 1L))
    e.seal("ns", "t")
    e.write(WriteRequest("ns", "t", "2",
      Map("a" -> TagString("x"), "b" -> TagString("y")), dayUs + 1))
    e.seal("ns", "t")
    assert(e.valueBlooms.get.index("ns", "t", "a") == 2)
    // every file is skipped; the one kept for the scan predates `b`
    val n = e.query("ns",
      "SELECT count(*) AS n FROM t WHERE a = 'nope' AND b = 'y'").get
    assert(n.rows.map(_.getLong(0)) == Seq(0L))
    val all = e.query("ns", "SELECT * FROM t WHERE a = 'nope'").get
    assert(all.schema.fieldNames.toSeq == Seq("timestamp", "value", "a", "b"))
  }

  test("a tier view's columns are its pinned version's, even when day " +
    "pruning kept only days older than a tag key") {
    val tier = new ParquetTier(Files.createTempDirectory("view-days").toFile)
    val e = newEngine(Some(tier))
    e.write(WriteRequest("ns", "t", "1", Map("a" -> TagString("x")), 1L))
    e.seal("ns", "t")
    e.write(WriteRequest("ns", "t", "2",
      Map("a" -> TagString("x"), "b" -> TagString("y")), 3 * dayUs + 1))
    e.seal("ns", "t")
    val r = e.query("ns", "SELECT count(*) AS n FROM t WHERE timestamp >= " +
      "TIMESTAMP '1970-01-01 00:00:00' AND timestamp < " +
      "TIMESTAMP '1970-01-02 00:00:00' AND b IS NULL").get
    assert(r.rows.map(_.getLong(0)) == Seq(1L))
  }

  test("tier schemas are inferred once per manifest version: a warm " +
    "query runs no schema job; a new version and an as-of read each " +
    "see their own columns") {
    val spark = SparkFixture.spark
    val tier = new ParquetTier(Files.createTempDirectory("schema-cache").toFile)
    val e = newEngine(Some(tier))
    (0 until 3).foreach(d => e.write(WriteRequest("ns", "t", d.toString,
      Map("a" -> TagString("x")), d * dayUs + 1)))
    e.seal("ns", "t") // v1
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val schemaJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // schema inference is the one job a reader runs while the
        // DataFrame is built; execution jobs start from an action
        if (j.stageInfos.exists(_.details.contains("DataFrameReader.parquet")))
          schemaJobs.incrementAndGet()
      }
    }
    // (jobs, schema-inference jobs) one query ran
    def counted(sql: String, asOf: Option[Long] = None)
        : (Int, Int, graft.engine.QueryResult) = {
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      jobs.set(0); schemaJobs.set(0)
      val r = e.query("ns", sql, asOf).get
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      (jobs.get, schemaJobs.get, r)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val sql = "SELECT count(*) AS n FROM t WHERE " +
        "timestamp >= TIMESTAMP '1970-01-02 00:00:00'"
      val (coldJobs, coldSchema, cold) = counted(sql)
      assert(coldSchema == 1, "the first read of a version infers it")
      assert(cold.rows.map(_.getLong(0)) == Seq(2L))
      val (hits0, _) = e.tierSchemaCacheCounts
      val (warmJobs, warmSchema, warm) = counted(sql + " ")
      assert(warmSchema == 0, "a warm query must not infer the schema")
      assert(warmJobs == coldJobs - 1, s"cold $coldJobs, warm $warmJobs")
      assert(warm.rows == cold.rows)
      assert(e.tierSchemaCacheCounts._1 == hits0 + 1)
      // a seal that adds a tag key publishes v2, whose view has it
      e.write(WriteRequest("ns", "t", "9",
        Map("a" -> TagString("x"), "b" -> TagString("y")), 4 * dayUs + 1))
      e.seal("ns", "t")
      val (_, newSchema, v2) = counted("SELECT * FROM t WHERE b = 'y'")
      assert(newSchema == 1, "a new version is inferred once")
      assert(v2.schema.fieldNames.toSeq == Seq("timestamp", "value", "a", "b"))
      assert(v2.rows.map(_.getString(1)) == Seq("9"))
      // the as-of read of v1 still sees v1's columns only
      val (_, _, v1) = counted("SELECT * FROM t", Some(1L))
      assert(v1.schema.fieldNames.toSeq == Seq("timestamp", "value", "a"))
      assert(v1.rows.size == 3)
      val gone = intercept[Exception](e.query("ns", "SELECT b FROM t", Some(1L)))
      assert(gone.getMessage.contains("b"), gone.getMessage)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm query over an already-read version checks, globs and " +
    "lists no path, and reads what a plain parquet read of its files " +
    "reads; a new version is resolved afresh") {
    val spark = SparkFixture.spark
    val root = Files.createTempDirectory("warm-scan").toFile
    val tier = new ParquetTier(root)
    val e = newEngine(Some(tier))
    (0 until 3).foreach(d => e.write(WriteRequest("ns", "t", d.toString,
      Map("a" -> TagString(s"x$d")), d * dayUs + 1)))
    e.seal("ns", "t") // v1
    val sql = "SELECT * FROM t WHERE timestamp >= " +
      "TIMESTAMP '1970-01-02 00:00:00' ORDER BY timestamp"
    def query(s: String) = CountingFileSystem.counted(spark)(
      e.query("ns", s).get.rows.map(_.toSeq))
    val (cold, rows) = query(sql)
    assert(cold > 0, "the first read of a version resolves it")
    assert(rows.map(_(1)) == Seq("1", "2"))
    // literals differ, so the result cache misses and the tier is read
    val (warm, again) = query(sql + " ")
    assert(warm == 0, s"a warm query made $warm file system calls")
    assert(again == rows)
    // the rows a plain read of the same files returns, by day bounds
    val dir = new java.io.File(root, "ns/t").getPath
    val files = tier.dataFiles("ns", "t")
    def plain(days: Option[(String, String)]) = {
      val df = spark.read.option("basePath", dir).parquet(files: _*)
      days.fold(df) { case (lo, hi) =>
        df.where(s"CAST(__lynx_day AS STRING) BETWEEN '$lo' AND '$hi'")
      }.drop("__lynx_day").collect().map(_.toSeq).toSet
    }
    for (days <- Seq(None, Some(("1970-01-02", "1970-01-02")),
        Some(("1971-01-01", "1971-01-01")))) {
      val (n, pinned) = CountingFileSystem.counted(spark)(
        tier.readFiles(spark, "ns", "t", files, days)
          .collect().map(_.toSeq).toSet)
      assert(n == 0, s"readFiles($days) made $n file system calls")
      assert(pinned == plain(days), s"days $days")
    }
    // a seal publishes v2: resolved once, then warm again
    e.write(WriteRequest("ns", "t", "3",
      Map("a" -> TagString("x3"), "b" -> TagString("y")), 3 * dayUs + 1))
    e.seal("ns", "t")
    val (v2Cold, v2) = query(sql)
    assert(v2Cold > 0 && v2.map(_(1)) == Seq("1", "2", "3"))
    assert(v2.last.last == "y")
    assert(query(sql + " ")._1 == 0)
    // compaction publishes v3 over new files
    e.compact("ns", "t")
    val (v3Cold, v3) = query(sql)
    assert(v3Cold > 0 && v3 == v2)
    assert(query(sql + " ")._1 == 0)
  }

  test("a tier root named with . and .. segments reads, prunes, " +
    "compacts and time-travels like a plain one") {
    val spark = SparkFixture.spark
    val base = Files.createTempDirectory("dotted-root").toFile
    new java.io.File(base, "sub").mkdirs()
    val root = new java.io.File(base, "./sub/../tier")
    val tier = new ParquetTier(root)
    val e = newEngine(Some(tier))
    (0 until 3).foreach(d => e.write(WriteRequest("ns", "t", d.toString,
      Map.empty, d * dayUs + 1)))
    e.seal("ns", "t") // v1
    def values(sql: String) =
      e.query("ns", sql).get.rows.map(_.getString(1)).toSeq
    val pruned = "SELECT * FROM t WHERE timestamp >= " +
      "TIMESTAMP '1970-01-02 00:00:00' ORDER BY timestamp"
    assert(values(pruned) == Seq("1", "2"))
    // a second read of the same version goes through the cached entry
    val hits = tier.schemaCacheHits.get
    assert(values(pruned + " ") == Seq("1", "2"))
    assert(tier.schemaCacheHits.get > hits)
    assert(tier.read(spark, "ns", "t").count() == 3)
    e.write(WriteRequest("ns", "t", "3", Map.empty, 3 * dayUs + 1))
    e.seal("ns", "t") // v2
    tier.compact(spark, "ns", "t") // v3
    assert(values("SELECT * FROM t ORDER BY timestamp") ==
      Seq("0", "1", "2", "3"))
    assert(tier.readAt(spark, "ns", "t", 1L)(_.count()).contains(3L))
  }

  test("queries that differ only in numeric and timestamp literals " +
    "compile no new classes on a GraftExtensions session") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def load(spark: org.apache.spark.sql.SparkSession): LynxEngine = {
      val dir = Files.createTempDirectory("codegen-reuse").toFile
      val e = new LynxEngine(spark, dir, 1024 * 1024,
        Some(new ParquetTier(new java.io.File(dir, "tier"))))
      def rows(day: Int) = (0 until 50).map(i => WriteRequest("ns", "cpu",
        (i * 10).toString, Map("host" -> TagString(s"h${i % 5}")),
        day * dayUs + i * 1000000L))
      (0 until 3).foreach(d => e.writeBatch(rows(d)))
      e.seal("ns", "cpu")
      e.writeBatch(rows(3)) // RAM tail
      e
    }
    def sql(lo: Long, ts: String, d: Double) =
      "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu " +
        s"WHERE timestamp >= TIMESTAMP '$ts' AND CAST(value AS BIGINT) < $lo " +
        s"AND CAST(value AS DOUBLE) > $d"
    // compiles run by the second of two queries
    def secondCompiles(e: LynxEngine): (Long, Seq[Long]) = {
      e.query("ns", sql(400L, "1970-01-01 12:00:00", -1.5)).get
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val r = e.query("ns", sql(300L, "1970-01-02 00:00:00", 5.0)).get
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        r.rows.head.toSeq.map(_.asInstanceOf[Long]))
    }
    // days 1-3, values 10..290 in steps of 10 → 29 rows per day
    val want = Seq(3L * 29, 3L * (10 to 290 by 10).sum)
    val (graft, got) = secondCompiles(load(SparkFixture.graft))
    assert(got == want)
    assert(graft == 0L, s"$graft classes compiled for a literal change")
    // the same pair compiles on a session without the rule
    val (plain, gotPlain) = secondCompiles(load(SparkFixture.spark))
    assert(gotPlain == want)
    assert(plain > 0L, "the plain session should compile the new literals")
  }

  test("a query's tables bind where Spark resolves a table: CTEs shadow " +
    "within their scope only, self-joins and subqueries see each frame") {
    val dayUs = 86400L * 1000000L
    val e = newEngine(Some(new ParquetTier(
      Files.createTempDirectory("bind-tier").toFile)))
    def cpu(v: Int, host: String, day: Int) = WriteRequest("ns", "cpu",
      v.toString, Map("host" -> TagString(host)), day * dayUs + v)
    e.writeBatch(Seq(cpu(1, "h1", 0), cpu(2, "h2", 0), cpu(3, "h1", 0),
      cpu(4, "h2", 0)))
    e.seal("ns", "cpu")
    e.writeBatch(Seq(cpu(5, "h1", 1), cpu(6, "h3", 1))) // RAM tail
    e.writeBatch(Seq(
      WriteRequest("ns", "meta", "zone-a", Map("host" -> TagString("h1")), 1),
      WriteRequest("ns", "meta", "zone-b", Map("host" -> TagString("h2")), 2)))
    def rows(sql: String): Seq[Seq[Any]] =
      e.query("ns", sql).get.rows.map(_.toSeq)
    // a user CTE named like a table shadows it, in either letter case
    assert(rows("WITH meta AS (SELECT 'x' AS host) SELECT count(*) AS n " +
      "FROM cpu JOIN meta ON cpu.host = meta.host") == Seq(Seq(0L)))
    assert(rows("WITH CPU AS (SELECT '100' AS value) " +
      "SELECT sum(CAST(value AS INT)) AS s FROM cpu") == Seq(Seq(100L)))
    // a CTE inside a scalar subquery leaves the outer table alone
    assert(rows("SELECT count(*) AS n, (WITH Meta AS (SELECT 'x' AS host) " +
      "SELECT count(*) FROM Meta) AS m " +
      "FROM cpu JOIN meta ON cpu.host = meta.host") == Seq(Seq(5L, 1L)))
    // a self-join over the sealed tier and the RAM tail
    assert(rows("SELECT count(*) AS n FROM cpu a JOIN cpu b " +
      "ON a.host = b.host") == Seq(Seq(14L)))
    // IN and EXISTS subqueries over a second table
    assert(rows("SELECT sum(CAST(value AS INT)) AS s FROM cpu WHERE host IN " +
      "(SELECT host FROM meta WHERE value = 'zone-a')") == Seq(Seq(9L)))
    assert(rows("SELECT count(*) AS n FROM cpu c WHERE EXISTS " +
      "(SELECT 1 FROM meta m WHERE m.host = c.host)") == Seq(Seq(5L)))
    // chained CTEs
    assert(rows("WITH a AS (SELECT host, CAST(value AS INT) AS v FROM cpu), " +
      "b AS (SELECT host, sum(v) AS s FROM a GROUP BY host) " +
      "SELECT host, s FROM b ORDER BY host") ==
      Seq(Seq("h1", 9L), Seq("h2", 6L), Seq("h3", 6L)))
    // a recursive CTE joined to a table
    assert(rows("WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL " +
      "SELECT n + 1 FROM r WHERE n < 3) SELECT count(*) AS c " +
      "FROM r JOIN cpu ON CAST(cpu.value AS INT) = r.n") == Seq(Seq(3L)))
  }

  test("the gate's tables follow CTE scope: a WITH inside a subquery " +
    "shadows a table of its name there only, in either letter case") {
    val s = SparkFixture.spark
    val e = newEngine()
    (1 to 3).foreach(i =>
      e.write(WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong)))
    Seq("SELECT count(*) AS n, (WITH cpu AS (SELECT 1 AS x) " +
        "SELECT max(x) FROM cpu) AS m FROM cpu",
      "SELECT count(*) AS n, (WITH cpu AS (SELECT 1 AS x) " +
        "SELECT max(x) FROM CPU) AS m FROM cpu").foreach { q =>
      assert(LynxEngine.referencedTables(LynxEngine.parse(s, q)) ==
        Seq("cpu"), q)
      assert(e.query("ns", q).get.rows.map(_.toSeq) == Seq(Seq(3L, 1)), q)
    }
    // a query reading only WITH definitions reads no table
    assert(LynxEngine.referencedTables(LynxEngine.parse(s,
      "WITH Cpu AS (SELECT 1 AS x) SELECT x FROM cpu")) == Nil)
  }

  test("live heap stays flat as queries run") {
    val dayUs = 86400L * 1000000L
    val e = newEngine(Some(new ParquetTier(
      Files.createTempDirectory("heap-tier").toFile)))
    def rows(day: Int) = (0 until 200).map(i => WriteRequest("ns", "cpu",
      i.toString, Map("host" -> TagString(s"h${i % 10}")),
      day * dayUs + i * 1000000L))
    (0 until 3).foreach(d => e.writeBatch(rows(d)))
    e.seal("ns", "cpu")
    e.writeBatch(rows(3)) // RAM tail
    // queries that differ in literals: every one misses the result cache
    def run(i: Int): Unit = {
      val r = e.query("ns", "SELECT count(*) AS n FROM cpu WHERE " +
        s"host = 'h${i % 10}' AND CAST(value AS BIGINT) < ${1000 + i}").get
      assert(r.rows.head.getLong(0) == 80L)
    }
    def liveMb(): Double = {
      org.apache.spark.ListenerBusBridge.drain(SparkFixture.spark.sparkContext)
      (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    (0 until 50).foreach(run)
    val warm = liveMb()
    (50 until 350).foreach(run)
    val perQuery = (liveMb() - warm) / 300
    info(f"live heap $warm%.0f MB after 50 queries, $perQuery%.3f MB/query after")
    assert(perQuery < 0.15, f"live heap grew $perQuery%.3f MB per query")
  }
}
