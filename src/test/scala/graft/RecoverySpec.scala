package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{FutureTask, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SealMarker, TagString, WriteRequest}
import graft.engine.LynxEngine
import graft.http.LynxServerMain
import graft.tier.ParquetTier
import graft.wal.{Wal, WalCodec}

/** Startup recovery as a step of its own: `LynxEngine.recover` rebuilds
  * the same engine state as the constructor's inline replay, and the
  * server, which replays while Spark starts, fails startup with the
  * replay's own exception before anything listens.
  */
class RecoverySpec extends AnyFunSuite {

  private val client = HttpClient.newHttpClient()

  private def copyTree(from: File, to: File): Unit =
    Files.walk(from.toPath).sorted().forEach { p =>
      val dst = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  private def tree(root: File): Seq[String] =
    Files.walk(root.toPath).filter(Files.isRegularFile(_)).toArray.toSeq
      .map(p => root.toPath.relativize(p.asInstanceOf[java.nio.file.Path])
        .toString).sorted

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def health(port: Int): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** `LynxServerMain.start` on the shared session, bounded in time. */
  private def start(env: Map[String, String]) = {
    val task = new FutureTask[graft.http.LynxServer](() =>
      LynxServerMain.start(env, () => SparkFixture.spark))
    new Thread(task, "recovery-spec-start").start()
    try task.get(120, TimeUnit.SECONDS)
    catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  /** A one-segment WAL whose first frame has a changed byte and whose
    * later frames are intact: mid-log damage, which replay refuses.
    */
  private def midLogRot(): File = {
    val dir = Files.createTempDirectory("recovery-rot").toFile
    val wal = new Wal(dir, 0, Long.MaxValue)
    val ws = (0 until 3).map(i =>
      WriteRequest("ns", "cpu", s"v$i", Map.empty, i.toLong))
    ws.foreach(wal.write)
    wal.close()
    val raf = new java.io.RandomAccessFile(new File(dir, "0.wal"), "rw")
    try {
      // a byte of the first frame's value (before its 8-byte tag count
      // and 8-byte timestamp): framing survives, the CRC fails
      val pos = WalCodec.Header.length + WalCodec.encode(ws.head).length - 17
      raf.seek(pos.toLong)
      val b = raf.readByte()
      raf.seek(pos.toLong)
      raf.writeByte(b ^ 0x20)
    } finally raf.close()
    dir
  }

  test("an engine built from recover() equals one that replays inline, " +
    "including a seal marker whose tier publish replay re-drives") {
    val spark = SparkFixture.spark
    val wal = Files.createTempDirectory("recovery-wal").toFile
    val tierDir = Files.createTempDirectory("recovery-tier").toFile
    val tier = new ParquetTier(tierDir)
    val e = new LynxEngine(spark, wal, 512, Some(tier))
    (1 to 20).foreach(i => e.write(WriteRequest("ns", "cpu", i.toString,
      Map("host" -> TagString(s"h${i % 3}")), i * 1000000L)))
    e.writeBatch((1 to 5).map(i =>
      WriteRequest("ns", "mem", i.toString, Map.empty, i.toLong)))
    assert(e.writeStreamBatch("sink-a", 0, Seq(
      WriteRequest("ns", "cpu", "s0", Map.empty, 99L)), "q1"))
    assert(e.writeStreamBatch("sink-a", 1, Nil, "q1"))
    // a seal up to its crash point: drain, stage, marker, no publish
    val parts = e.buffer.drainTable("ns", "cpu").get
    val df = LynxEngine.toDataFrame(spark, parts).withColumn(
      ParquetTier.DayCol,
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("timestamp"), "yyyy-MM-dd"))
    val (sid, files) = tier.stage(spark, "ns", "cpu", df)
    e.wal.write(SealMarker("ns", "cpu", sid, files))
    // rows after the marker stay in the buffer, then a torn tail
    e.write(WriteRequest("ns", "cpu", "after", Map.empty, 5L))
    e.wal.close()
    val last = new File(wal, s"${e.wal.activeSegmentId}.wal")
    java.nio.file.Files.write(last.toPath, Array[Byte](0, 0, 0),
      java.nio.file.StandardOpenOption.APPEND)
    assert(e.replayedSegments.isEmpty && e.walReplayedRecords == 0)

    val copies = Seq("inline", "recovered").map { name =>
      val root = Files.createTempDirectory(s"recovery-$name").toFile
      copyTree(wal, new File(root, "wal"))
      copyTree(tierDir, new File(root, "tier"))
      root
    }
    val inline = {
      val root = copies.head
      new LynxEngine(spark, new File(root, "wal"), 512,
        Some(new ParquetTier(new File(root, "tier"))))
    }
    val recovered = {
      val root = copies(1)
      val t = Some(new ParquetTier(new File(root, "tier")))
      val r = LynxEngine.recover(new File(root, "wal"), t)
      new LynxEngine(spark, new File(root, "wal"), 512, t,
        recovered = Some(r))
    }
    assert(recovered.buffer.rowCounts == inline.buffer.rowCounts)
    assert(recovered.buffer.rowCounts == Map(
      ("ns", "cpu") -> 1, ("ns", "mem") -> 5))
    assert(recovered.walRecoveries == inline.walRecoveries)
    assert(recovered.walRecoveries.map(_.reason) ==
      Seq("torn tail: truncated length prefix"))
    assert(recovered.streamHighWaterMarks == inline.streamHighWaterMarks)
    assert(recovered.streamHighWaterMarks == Map("sink-a" -> 1L))
    assert(recovered.replayedSegments == inline.replayedSegments)
    assert(recovered.replayedSegments.size > 2)
    assert(recovered.walReplayedRecords == inline.walReplayedRecords)
    // both re-published the staged seal: the same tier files, no
    // staging left, and the sealed rows served once
    assert(tree(new File(copies(1), "tier")) ==
      tree(new File(copies.head, "tier")))
    assert(!tree(new File(copies(1), "tier")).exists(_.contains(".staging-")))
    Seq(inline, recovered).foreach { eng =>
      val r = eng.query("ns", "SELECT count(*) AS n FROM cpu").get
      assert(r.rows.head.getLong(0) == 22L)
    }
    // and both keep writing after the replayed segments
    assert(recovered.wal.activeSegmentId == inline.wal.activeSegmentId)
    Seq(inline, recovered).foreach(_.wal.close())
  }

  test("a corrupt WAL fails server startup with the replay's own " +
    "exception, and nothing answers /health") {
    val rot = midLogRot()
    // the constructor's inline replay: today's refusal
    val copy = Files.createTempDirectory("recovery-rot-copy").toFile
    copyTree(rot, copy)
    val inline = intercept[IllegalStateException] {
      new LynxEngine(SparkFixture.spark, copy, 1024 * 1024)
    }
    assert(inline.getMessage.contains("refusing to auto-truncate") &&
      inline.getMessage.contains("CRC-valid frame FOLLOWS"))
    val port = freePort()
    val lenBefore = new File(rot, "0.wal").length()
    val ex = intercept[IllegalStateException] {
      start(Map("LYNX_WAL_DIR" -> rot.getPath,
        "LYNX_HTTP_ADDR" -> s"127.0.0.1:$port"))
    }
    assert(ex.getMessage == inline.getMessage.replace(copy.getPath,
      rot.getPath))
    assert(new File(rot, "0.wal").length() == lenBefore,
      "a refused recovery must not touch the segment")
    intercept[java.net.ConnectException](health(port))
  }

  test("server startup replays the WAL and reports it in /metrics") {
    val dir = Files.createTempDirectory("recovery-ok").toFile
    val wal = new Wal(dir, 0, 256)
    (0 until 40).foreach(i =>
      wal.write(WriteRequest("ns", "cpu", s"v$i", Map.empty, i.toLong)))
    wal.close()
    val port = freePort()
    val server = start(Map("LYNX_WAL_DIR" -> dir.getPath,
      "LYNX_HTTP_ADDR" -> s"127.0.0.1:$port"))
    try {
      assert(health(port).statusCode() == 200)
      val m = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(m.contains("\"buffered_rows\":40") &&
        m.contains("\"wal_replayed_records\":40") &&
        "\"wal_replay_ms\":\\d+".r.findFirstIn(m).isDefined, m)
    } finally server.stop()
  }
}
