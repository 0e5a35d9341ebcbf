package graft

import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TagString, WriteRequest}
import graft.engine.LynxEngine
import graft.tier.ParquetTier

/** Fixes the reference's shared-SessionContext race (SURVEY.md §3.4):
  * two namespaces own a table with the same name, and concurrent
  * queries must each see only their own namespace's data (the
  * reference could serve namespace A's registration to namespace B).
  * Plus the auto-seal write path.
  */
class ConcurrencySpec extends AnyFunSuite {

  test("concurrent same-table-name queries stay namespace-isolated") {
    val dir = Files.createTempDirectory("conc-spec").toFile
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
    (1 to 50).foreach { i =>
      e.write(WriteRequest("ns_a", "cpu", s"a$i", Map.empty, i.toLong))
      e.write(WriteRequest("ns_b", "cpu", s"b$i", Map.empty, i.toLong))
    }
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 24).map { i =>
        val ns = if (i % 2 == 0) "ns_a" else "ns_b"
        val want = if (i % 2 == 0) "a" else "b"
        Future {
          val r = e.query(ns,
            "SELECT value FROM cpu ORDER BY timestamp").get
          r.rows.forall(_.getString(0).startsWith(want)) && r.rows.size == 50
        }
      }
      val ok = Await.result(Future.sequence(futures), 120.seconds)
      assert(ok.forall(identity))
    } finally pool.shutdown()
  }

  test("queries racing writes, seals and zero-grace compactions " +
    "never read a GC'd file and never miss a row") {
    val dir = Files.createTempDirectory("race-wal").toFile
    val tierDir = Files.createTempDirectory("race-tier").toFile
    // zero grace: only the pin/lease protocol protects running reads
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new ParquetTier(tierDir, trashGraceMs = 0)),
      maxBufferedRows = 7)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      @volatile var writerDone = false
      val writer = Future {
        (1 to 400).foreach { i =>
          e.write(WriteRequest("ns", "cpu", i.toString,
            Map("host" -> TagString(s"h${i % 3}")), i.toLong * 1000))
          if (i % 60 == 0) e.compact("ns", "cpu")
        }
        writerDone = true
      }
      // readers: monotone count, sum always consistent with count
      val readers = (1 to 6).map(_ => Future {
        var last = 0L
        var checks = 0
        while (!writerDone || checks == 0) {
          val r = e.query("ns",
            "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s " +
              "FROM cpu").get.rows.head
          val (n, s) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
          assert(n >= last, s"count went backwards: $n < $last")
          last = n
          // rows are 1..n written in order under one lock, so the sum
          // of any atomic snapshot of the first n writes is n(n+1)/2
          assert(s == n * (n + 1) / 2, s"torn snapshot: n=$n s=$s")
          checks += 1
        }
        checks
      })
      Await.result(writer, 120.seconds)
      val counts = Await.result(Future.sequence(readers), 120.seconds)
      assert(counts.forall(_ > 0))
      e.compact("ns", "cpu")
      val fin = e.query("ns", "SELECT count(*) AS n FROM cpu").get
      assert(fin.rows.head.getLong(0) == 400)
    } finally pool.shutdown()
  }

  test("queries racing AUTO-seals with inline AUTO-compaction (zero " +
    "grace) keep snapshot atomicity") {
    val dir = Files.createTempDirectory("auto-race-wal").toFile
    val tierDir = Files.createTempDirectory("auto-race-tier").toFile
    // auto-seal every 7 buffered rows, auto-compact at 2 redundant
    // files, zero grace: compaction churns constantly inside the
    // write path while readers pin snapshots
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new ParquetTier(tierDir, trashGraceMs = 0)),
      maxBufferedRows = 7, autoCompactFileThreshold = 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      @volatile var writerDone = false
      val writer = Future {
        (1 to 300).foreach { i =>
          e.write(WriteRequest("ns", "cpu", i.toString,
            Map("host" -> TagString(s"h${i % 3}")), i.toLong * 1000))
        }
        writerDone = true
      }
      val readers = (1 to 6).map(_ => Future {
        var last = 0L
        var checks = 0
        while (!writerDone || checks == 0) {
          // a reader can beat the writer's FIRST visible write, when
          // the namespace doesn't exist yet (404 semantics) — that's
          // correct engine behavior at t=0, not a torn snapshot
          e.query("ns",
            "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s " +
              "FROM cpu") match {
            case None => ()
            case Some(res) =>
              val r = res.rows.head
              val (n, s) =
                (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
              assert(n >= last, s"count went backwards: $n < $last")
              last = n
              assert(s == n * (n + 1) / 2, s"torn snapshot: n=$n s=$s")
              checks += 1
          }
        }
        checks
      })
      Await.result(writer, 120.seconds)
      val counts = Await.result(Future.sequence(readers), 120.seconds)
      assert(counts.forall(_ > 0))
      val fin = e.query("ns",
        "SELECT count(*) AS n FROM cpu").get
      assert(fin.rows.head.getLong(0) == 300)
      // compaction actually ran: the manifest is near the per-day
      // floor, not ~43 seal files
      assert(new ParquetTier(tierDir).fileCount("ns", "cpu") <= 3)
    } finally pool.shutdown()
  }

  test("queries racing zero-grace retention expiry keep snapshot " +
    "atomicity and never hit a deleted file") {
    val dir = Files.createTempDirectory("expire-race-wal").toFile
    val tierDir = Files.createTempDirectory("expire-race-tier").toFile
    val dayUs = 86400L * 1000000L
    // zero grace: once a day expires and its pins drain, the files
    // go away physically — readers must never observe a partial state
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new ParquetTier(tierDir, trashGraceMs = 0)))
    // 10 sealed days, value = day index + 1
    (0 until 10).foreach { d =>
      e.write(WriteRequest("ns", "cpu", (d + 1).toString, Map.empty,
        d * dayUs + 1))
      e.seal("ns", "cpu")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      @volatile var expirerDone = false
      val expirer = Future {
        // walk the retention cutoff forward one day at a time
        (1 to 9).foreach { d =>
          e.expire("ns", "cpu", f"1970-01-${d + 1}%02d")
          Thread.sleep(5)
        }
        expirerDone = true
      }
      val readers = (1 to 6).map(_ => Future {
        var checks = 0
        while (!expirerDone || checks == 0) {
          // a snapshot must always be a SUFFIX of the days 1..10:
          // count n ⇒ the n largest values, sum = 55 - (10-n)(11-n)/2
          val r = e.query("ns",
            "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s " +
              "FROM cpu").get.rows.head
          val n = r.getLong(0)
          val s = if (r.isNullAt(1)) 0L else r.getLong(1)
          val k = 10 - n
          assert(s == 55 - k * (k + 1) / 2,
            s"torn retention snapshot: n=$n s=$s")
          checks += 1
        }
        checks
      })
      Await.result(expirer, 120.seconds)
      val counts = Await.result(Future.sequence(readers), 120.seconds)
      assert(counts.forall(_ > 0))
      // end state: only the newest day remains
      val fin = e.query("ns",
        "SELECT count(*) AS n, min(CAST(value AS BIGINT)) AS v " +
          "FROM cpu").get.rows.head
      assert(fin.getLong(0) == 1 && fin.getLong(1) == 10)
    } finally pool.shutdown()
  }

  test("concurrent batch and single writes interleave atomically and " +
    "replay completely") {
    val dir = Files.createTempDirectory("conc-batch").toFile
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 8).map { t =>
        Future {
          (0 until 20).foreach { i =>
            val base = t * 1000 + i * 10
            if (t % 2 == 0)
              e.writeBatch((0 until 5).map(j =>
                WriteRequest("ns", "m", s"b_${base + j}", Map.empty,
                  (base + j).toLong)))
            else
              e.write(WriteRequest("ns", "m", s"s_$base", Map.empty,
                base.toLong))
          }
        }
      }
      Await.result(Future.sequence(futures), 120.seconds)
      // 4 batch threads × 20 × 5 + 4 single threads × 20
      val want = 4 * 20 * 5 + 4 * 20
      val live = e.query("ns", "SELECT count(*) AS n FROM m").get
        .rows.head.getLong(0)
      assert(live == want, s"live rows $live != $want")
      // every batched row is WAL-durable: a fresh engine replays all
      e.wal.close()
      val e2 = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
      val replayed = e2.query("ns", "SELECT count(*) AS n FROM m").get
        .rows.head.getLong(0)
      assert(replayed == want, s"replayed rows $replayed != $want")
      e2.wal.close()
    } finally pool.shutdown()
  }

  test("stream brackets racing plain writes and batches: brackets " +
    "never interleave in the WAL, every sink's hwm replays, and row " +
    "counts are exact across a restart") {
    val dir = Files.createTempDirectory("conc-stream").toFile
    // small segments: brackets straddle rotations under contention
    val e = new LynxEngine(SparkFixture.spark, dir, 4 * 1024)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 8).map { t =>
        Future {
          (0 until 15).foreach { i =>
            val base = t * 1000 + i * 10
            t % 4 match {
              case 0 | 1 => // two stream sinks, 4 rows per batch
                e.writeStreamBatch(s"sink$t", i.toLong, (0 until 4).map(
                  j => WriteRequest("ns", "m", s"k${t}_${base + j}",
                    Map.empty, (base + j).toLong)))
              case 2 =>
                e.writeBatch((0 until 3).map(j =>
                  WriteRequest("ns", "m", s"b_${base + j}", Map.empty,
                    (base + j).toLong)))
              case _ =>
                e.write(WriteRequest("ns", "m", s"s_$base", Map.empty,
                  base.toLong))
            }
          }
        }
      }
      Await.result(Future.sequence(futures), 120.seconds)
      // t%4∈{0,1} → 4 stream sinks (t = 0,1,4,5) × 15 batches × 4
      // rows, t%4=2 → 2 batch threads × 15 × 3, else 2 singles × 15
      val want = 4 * 15 * 4 + 2 * 15 * 3 + 2 * 15
      val live = e.query("ns", "SELECT count(*) AS n FROM m").get
        .rows.head.getLong(0)
      assert(live == want, s"live rows $live != $want")
      assert(e.streamHighWaterMark("sink0") == 14L)
      assert(e.streamHighWaterMark("sink1") == 14L)
      // restart: every bracket committed under contention, so replay
      // reproduces the exact rows and BOTH sinks' high-water marks
      e.wal.close()
      val e2 = new LynxEngine(SparkFixture.spark, dir, 4 * 1024)
      val replayed = e2.query("ns", "SELECT count(*) AS n FROM m").get
        .rows.head.getLong(0)
      assert(replayed == want, s"replayed rows $replayed != $want")
      assert(e2.streamHighWaterMark("sink0") == 14L)
      assert(e2.streamHighWaterMark("sink1") == 14L)
      // and re-delivering any already-committed batch is still a no-op
      assert(!e2.writeStreamBatch("sink0", 14L, Nil))
      e2.wal.close()
    } finally pool.shutdown()
  }

  test("auto-seal spills the RAM tail to the tier at the threshold") {
    val dir = Files.createTempDirectory("autoseal-wal").toFile
    val tierDir = Files.createTempDirectory("autoseal-tier").toFile
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new ParquetTier(tierDir)), maxBufferedRows = 10)
    (1 to 25).foreach(i =>
      e.write(WriteRequest("ns", "cpu", i.toString,
        Map("host" -> TagString("h1")), i.toLong)))
    // 25 writes, seal at 10 → two seals happened, 5 rows in RAM
    assert(e.buffer.partitions("ns", "cpu") == 1)
    val r = e.query("ns",
      "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu").get
    assert(r.rows.head.getLong(0) == 25)
    assert(r.rows.head.getLong(1) == 25 * 26 / 2)
  }

  test("property: a cached engine answers every query exactly like an " +
    "uncached twin across random write/seal/query interleavings") {
    import graft.tier.ParquetTier
    def mk(cacheEntries: Int): LynxEngine = {
      val dir = Files.createTempDirectory(s"cache-prop-$cacheEntries")
      new LynxEngine(SparkFixture.spark, dir.toFile, 1024 * 1024,
        Some(new ParquetTier(
          Files.createTempDirectory(s"cache-prop-t$cacheEntries").toFile)),
        resultCacheEntries = cacheEntries)
    }
    val cached = mk(64)
    val plain = mk(0)
    val rnd = new scala.util.Random(42)
    val queries = Seq(
      "SELECT count(*) AS n FROM cpu",
      "SELECT sum(CAST(value AS BIGINT)) AS s FROM cpu",
      "SELECT value FROM cpu ORDER BY timestamp, value",
      "SELECT host, count(*) AS n FROM cpu GROUP BY host ORDER BY host")
    var ts = 0L
    var compared = 0
    (1 to 120).foreach { _ =>
      rnd.nextInt(10) match {
        case k if k < 5 => // write the same row to both engines
          ts += 1
          val w = WriteRequest("ns", "cpu", rnd.nextInt(100).toString,
            Map("host" -> graft.core.TagString(s"h${rnd.nextInt(3)}")), ts)
          cached.write(w); plain.write(w)
        case 5 => // seal both (no-op while empty)
          cached.seal("ns", "cpu"); plain.seal("ns", "cpu")
        case _ => // same query against both; results must agree exactly
          val q = queries(rnd.nextInt(queries.length))
          val a = cached.query("ns", q).map(_.rows.map(_.toSeq))
          val b = plain.query("ns", q).map(_.rows.map(_.toSeq))
          assert(a == b, s"cache divergence on `$q` after $ts writes")
          compared += 1
      }
    }
    assert(compared > 20 && cached.resultCacheHits.get > 0,
      "the interleaving must actually exercise queries and cache hits")
  }

  test("queries racing a seal that drains the same table see every row " +
    "exactly once; a snapshot taken before the drain still scans") {
    val dir = Files.createTempDirectory("seal-race-wal").toFile
    val tierDir = Files.createTempDirectory("seal-race-tier").toFile
    val e = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new ParquetTier(tierDir)))
    val n = 50000L
    val dayUs = 86400L * 1000000L
    (1L to n).grouped(5000).foreach(g => e.writeBatch(g.map(i =>
      WriteRequest("ns", "cpu", i.toString,
        Map("host" -> TagString(s"h${i % 7}")), (i % 3) * dayUs + i))))
    val early = e.buffer.tables("ns").get("cpu")
    val q = "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu"
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      @volatile var sealDone = false
      val readers = (1 to 3).map(_ => Future {
        var after = 0
        var checks = 0
        while (after < 2) {
          // fresh SQL text each time: no result-cache hits
          val r = e.query("ns", q + " " * (checks % 50)).get.rows.head
          assert((r.getLong(0), r.getLong(1)) == (n, n * (n + 1) / 2),
            s"rows lost or doubled while sealing: $r")
          if (sealDone) after += 1
          checks += 1
        }
        checks
      })
      Thread.sleep(200)
      e.seal("ns", "cpu")
      sealDone = true
      assert(Await.result(Future.sequence(readers), 180.seconds).forall(_ >= 2))
    } finally pool.shutdown()
    assert(e.buffer.partitions("ns", "cpu") == 0)
    // the drain removed the chunks from the buffer, not from the
    // snapshot that references them
    val r = LynxEngine.toDataFrame(SparkFixture.spark, early)
      .selectExpr("count(*)", "sum(CAST(value AS BIGINT))").head()
    assert((r.getLong(0), r.getLong(1)) == (n, n * (n + 1) / 2))
  }
}
