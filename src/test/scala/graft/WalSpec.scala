package graft

import java.io.{DataInputStream, File}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.buffer.MemBuffer
import graft.core.{TagNumber, TagString, TagValue, WriteRequest}
import graft.wal.{Wal, WalCodec}

/** Mirrors the reference's WAL tests (reference wal.rs:368-590):
  * header bytes, size accounting, rotation, codec round-trip
  * (property-based), replay into the buffer.
  */
class WalSpec extends AnyFunSuite {

  private def tempDir(): File =
    Files.createTempDirectory("wal-spec").toFile

  private val genTag: Gen[TagValue] = Gen.oneOf(
    Gen.asciiPrintableStr.map(TagString.apply),
    Gen.long.map(TagNumber.apply))

  private val genWrite: Gen[WriteRequest] = for {
    ns <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    table <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    value <- Gen.asciiPrintableStr
    nTags <- Gen.choose(0, 5)
    keys <- Gen.listOfN(nTags,
      Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
    vals <- Gen.listOfN(nTags, genTag)
    ts <- Gen.long
  } yield WriteRequest(ns, table, value, keys.zip(vals).toMap, ts)

  test("codec round-trip: decode(encode(w)) == w (wal.rs:442-463)") {
    (1 to 200).foreach { i =>
      val w = genWrite.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val in = new DataInputStream(
        new java.io.ByteArrayInputStream(WalCodec.encode(w)))
      assert(WalCodec.decode(in).contains(w))
      assert(WalCodec.decode(in).isEmpty) // clean EOF after one record
    }
  }

  test("exact byte layout matches the reference format (wal.rs:28-77)") {
    // BE u64 length-prefixed ns/measurement/value, tag count, per tag
    // a type byte (0=string 1=number) + key/value, BE i64 timestamp
    val w = WriteRequest("ab", "c", "xy",
      scala.collection.immutable.ListMap("k" -> TagNumber(7L)), 258L)
    val expect =
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 2) ++ "ab".getBytes ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ "c".getBytes ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 2) ++ "xy".getBytes ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ // 1 tag
      Array[Byte](1) ++                        // type byte: number
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ "k".getBytes ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 7) ++  // u64 value BE
      Array[Byte](0, 0, 0, 0, 0, 0, 1, 2)     // ts=258 BE
    assert(WalCodec.encode(w).sameElements(expect))
  }

  test("unicode + empty-string fields survive the codec") {
    val w = WriteRequest("ns", "m", "héllo→世界",
      Map("κλειδί" -> TagString(""), "n" -> TagNumber(0)), Long.MinValue)
    val in = new DataInputStream(
      new java.io.ByteArrayInputStream(WalCodec.encode(w)))
    assert(WalCodec.decode(in).contains(w))
  }

  test("new segment writes the LYNX2 header (CRC-framed records; " +
    "LYNX1 replay compatibility pinned below)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 1024)
    wal.close()
    val bytes = Files.readAllBytes(new File(dir, "0.wal").toPath)
    assert(bytes.sameElements("LYNX2".getBytes("UTF-8")))
  }

  test("encodeV2 frames carry a trailing CRC32 of the payload") {
    val w = WriteRequest("ns", "t", "v", Map("k" -> TagString("x")), 9L)
    val payload = WalCodec.encode(w)
    val framed = WalCodec.encodeV2(w)
    assert(framed.length == payload.length + 4)
    assert(framed.take(payload.length).sameElements(payload))
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    val stored = java.nio.ByteBuffer.wrap(framed, payload.length, 4)
      .getInt.toLong & 0xffffffffL
    assert(stored == crc.getValue)
  }

  test("segment size accounts header + records (wal.rs:392-417)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 1024 * 1024)
    assert(wal.activeSegmentSize == 5)
    val w = WriteRequest("a", "b", "c", Map.empty, 1)
    wal.write(w)
    assert(wal.activeSegmentSize == 5 + WalCodec.encodeV2(w).length)
    wal.close()
  }

  test("rotation when size exceeds max, checked pre-write (wal.rs:419-440)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 64) // tiny max
    val w = WriteRequest("namespace", "measurement", "value", Map.empty, 1)
    assert(WalCodec.encode(w).length > 32)
    wal.write(w) // 5 + rec > 64 after this write; rotation on NEXT write
    assert(wal.activeSegmentId == 0)
    wal.write(w)
    assert(wal.activeSegmentId == 1)
    assert(wal.closedSegments.toSeq == Seq(0L))
    wal.close()
  }

  test("replay rebuilds the buffer and returns ids (wal.rs:465-547)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 128) // forces several rotations
    val writes = (0 until 10).map(i =>
      WriteRequest("ns", "t", s"v$i", Map("i" -> TagNumber(i.toLong)),
        i.toLong))
    writes.foreach(wal.write)
    wal.close()

    val buffer = new MemBuffer
    val (highest, observed) = Wal.replay(dir, buffer)
    assert(observed.nonEmpty && highest == observed.max)
    val m = buffer.tables("ns").get("t")("1970-01-01")
    assert(m.values == writes.map(_.value).toVector)
    assert(m.timestamps == writes.map(_.timestamp).toVector)
  }

  test("replay inserts plain rows in runs but flushes each run before a " +
    "seal marker: only the sealed table's earlier rows are drained") {
    import graft.core.SealMarker
    val dir = tempDir()
    val wal = new Wal(dir, 0, 1024 * 1024)
    def row(t: String, v: String, ts: Long) =
      WriteRequest("ns", t, v, Map.empty, ts)
    wal.writeAll((1 to 5).map(i => row("a", s"a$i", i.toLong)) ++
      (1 to 3).map(i => row("b", s"b$i", i.toLong)))
    wal.write(SealMarker("ns", "a"))
    wal.writeAll(Seq(row("a", "a6", 6L), row("b", "b4", 4L)))
    wal.write(SealMarker("ns", "b"))
    wal.write(row("b", "b5", 5L))
    wal.close()
    val buffer = new MemBuffer
    Wal.replay(dir, buffer)
    def vals(t: String) = buffer.tables("ns").get(t)("1970-01-01").values
    assert(vals("a") == Vector("a6"))
    assert(vals("b") == Vector("b5"))
    assert(buffer.rowCounts == Map(("ns", "a") -> 1, ("ns", "b") -> 1))
  }

  test("replay across >10 segments preserves commit order " +
    "(numeric, not lexicographic, segment order)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 48) // rotate roughly every write
    val writes = (0 until 30).map(i =>
      WriteRequest("ns", "t", s"v$i", Map.empty, 1L))
    writes.foreach(wal.write)
    wal.close()
    val buffer = new MemBuffer
    val (highest, observed) = Wal.replay(dir, buffer)
    assert(highest >= 10, "test needs to cross the 10-segment boundary")
    assert(observed.sorted == observed,
      "segments must replay in numeric id order")
    // single partition (same day) → values must be in write order
    assert(buffer.tables("ns").get("t")("1970-01-01").values ==
      writes.map(_.value).toVector)
  }

  test("replay of garbage header fails (wal.rs:339-354)") {
    val dir = tempDir()
    Files.write(new File(dir, "7.wal").toPath,
      "NOTLYNX-garbage".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Wal.replay(dir, new MemBuffer)
    }
    assert(e.getMessage.contains("LYNX1/LYNX2"))
  }

  test("wal continues at highest+1 after replay (lynx.rs:45-53)") {
    val dir = tempDir()
    val wal1 = new Wal(dir, 0, 64)
    (0 until 5).foreach(i =>
      wal1.write(WriteRequest("ns", "t", s"v$i", Map.empty, i.toLong)))
    wal1.close()
    val buffer = new MemBuffer
    val (highest, _) = Wal.replay(dir, buffer)
    val wal2 = new Wal(dir, highest + 1, 64)
    assert(wal2.activeSegmentId == highest + 1)
    wal2.close()
  }

  test("group-commit WAL round-trips every record after close") {
    val dir = tempDir()
    val wal = new Wal(dir, 1, 1024 * 1024,
      groupCommitMillis = 10000) // no timer fires within the test
    val writes = (1 to 50).map(i =>
      WriteRequest("ns", "cpu", i.toString, Map.empty, i.toLong))
    writes.foreach(wal.write)
    wal.close() // close flushes buffered records
    val buf = new MemBuffer
    Wal.replay(dir, buf)
    assert(buf.rowCounts == Map(("ns", "cpu") -> 50))
  }

  test("flush() makes buffered group-commit records durable at once") {
    val dir = tempDir()
    // timer effectively never fires: durability must come from flush()
    val wal = new Wal(dir, 1, 1024 * 1024, groupCommitMillis = 600000)
    val w = WriteRequest("ns", "cpu", "1", Map.empty, 1L)
    wal.write(w)
    val seg = new File(dir, "1.wal")
    val expected = WalCodec.Header.length + WalCodec.encodeV2(w).length
    assert(seg.length() < expected,
      "write() should only buffer under group commit")
    wal.flush()
    assert(seg.length() == expected,
      "flush() must force the buffered record to the OS immediately " +
        "(seal markers depend on this before tier publish)")
    wal.close()
  }

  test("group-commit timer flushes buffered records while idle") {
    val dir = tempDir()
    val wal = new Wal(dir, 1, 1024 * 1024, groupCommitMillis = 50)
    val w = WriteRequest("ns", "cpu", "1", Map.empty, 1L)
    wal.write(w)
    // without closing the WAL, the daemon timer must push the record
    // to the OS within ~groupCommitMillis
    val seg = new File(dir, "1.wal")
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    val expected = WalCodec.Header.length + WalCodec.encodeV2(w).length
    while (seg.length() < expected && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(seg.length() == expected,
      "timer never flushed the buffered record")
    wal.close()
  }

  test("fsync mode: per-record sync keeps records durable and replayable") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 1024 * 1024, fsyncOnFlush = true)
    val writes = (0 until 5).map(i =>
      WriteRequest("ns", "t", s"v$i", Map("i" -> TagNumber(i.toLong)),
        i.toLong))
    writes.foreach(wal.write)
    // every record must be on the device (at least visibly in the
    // file) immediately, without flush() or close()
    val seg = new File(dir, "0.wal")
    val expected = WalCodec.Header.length +
      writes.map(w => WalCodec.encodeV2(w).length).sum
    assert(seg.length() == expected,
      "fsync mode must not leave records in the heap buffer")
    wal.close()
    val buffer = new MemBuffer
    Wal.replay(dir, buffer)
    assert(buffer.tables("ns").get("t")("1970-01-01").values ==
      writes.map(_.value).toVector)
  }

  test("fsync mode composes with group commit: sync on the flush tick") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 1024 * 1024,
      groupCommitMillis = 60 * 1000, fsyncOnFlush = true)
    val w = WriteRequest("ns", "cpu", "1", Map.empty, 1L)
    wal.write(w)
    val seg = new File(dir, "0.wal")
    val expected = WalCodec.Header.length + WalCodec.encodeV2(w).length
    assert(seg.length() < expected,
      "under group commit, write() should only buffer even with fsync")
    wal.flush() // the group-commit tick path
    assert(seg.length() == expected)
    wal.close()
  }

  private def truncateBy(f: File, bytes: Long): Unit = {
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(raf.length() - bytes) finally raf.close()
  }

  test("torn tail in the last segment: valid prefix recovered, torn " +
    "bytes truncated away") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 1024 * 1024) // single segment
    val writes = (0 until 5).map(i =>
      WriteRequest("ns", "t", s"v$i", Map("i" -> TagNumber(i.toLong)),
        i.toLong))
    writes.foreach(wal.write)
    wal.close()
    val seg = new File(dir, "0.wal")
    val lastLen = WalCodec.encodeV2(writes.last).length
    truncateBy(seg, 3) // crash mid-append of the 5th record
    val goodLen = seg.length() - (lastLen - 3)

    val buffer = new MemBuffer
    val (highest, _) = Wal.replay(dir, buffer)
    assert(highest == 0)
    assert(buffer.tables("ns").get("t")("1970-01-01").values ==
      writes.init.map(_.value).toVector,
      "the four complete records must survive")
    assert(seg.length() == goodLen,
      "the partial record must be truncated to the record boundary")

    // recovery is stable: a second replay is clean (no-op truncation)
    // and the wal continues at highest+1 as usual
    val buffer2 = new MemBuffer
    Wal.replay(dir, buffer2)
    assert(seg.length() == goodLen)
    assert(buffer2.tables("ns").get("t")("1970-01-01").values ==
      writes.init.map(_.value).toVector)
    val wal2 = new Wal(dir, highest + 1, 1024 * 1024)
    wal2.write(writes.last)
    wal2.close()
    val buffer3 = new MemBuffer
    Wal.replay(dir, buffer3)
    assert(buffer3.tables("ns").get("t")("1970-01-01").values ==
      writes.map(_.value).toVector.patch(4, Seq("v4"), 1))
  }

  test("torn tail in a NON-last segment is corruption and fails " +
    "loudly (rotation closed it, so truncation there is damage)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 48) // rotate roughly every write
    (0 until 4).foreach(i =>
      wal.write(WriteRequest("ns", "t", s"v$i", Map.empty, i.toLong)))
    wal.close()
    assert(new File(dir, "1.wal").exists(), "need several segments")
    truncateBy(new File(dir, "0.wal"), 3)
    intercept[java.io.EOFException] {
      Wal.replay(dir, new MemBuffer)
    }
  }

  test("last segment without even a full header is dropped; earlier " +
    "segments still replay") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 1024 * 1024)
    val w = WriteRequest("ns", "t", "v0", Map.empty, 1L)
    wal.write(w)
    wal.close()
    // crash during Segment creation: only 3 of 5 header bytes landed
    Files.write(new File(dir, "1.wal").toPath,
      WalCodec.Header.take(3))
    val buffer = new MemBuffer
    val (highest, observed) = Wal.replay(dir, buffer)
    assert(highest == 1 && observed == Seq(0L, 1L))
    assert(!new File(dir, "1.wal").exists(),
      "a headerless torn segment holds no data and must be removed")
    assert(buffer.tables("ns").get("t")("1970-01-01").values ==
      Vector("v0"))
  }

  test("stream-batch brackets: committed rows replay, an uncommitted " +
    "bracket is discarded, hwm surfaces per sink (StreamBatch)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, 64) // small: brackets straddle rotations
    def w(i: Int) = WriteRequest("ns", "t", s"v$i",
      Map("i" -> TagNumber(i.toLong)), i.toLong)
    // batch 0 commits (bracket spans several segments at max=64)
    wal.writeAll(graft.core.StreamBatch.begin("s", 0L) +:
      (0 until 3).map(w) :+ graft.core.StreamBatch.commit("s", 0L))
    // a plain (non-stream) write between brackets inserts normally
    wal.write(w(100))
    // an hwm checkpoint record for another sink
    wal.write(graft.core.StreamBatch.hwm("other", 41L))
    // batch 1 never commits: begin + rows, no commit (torn tail)
    wal.writeAll(graft.core.StreamBatch.begin("s", 1L) +:
      (3 until 6).map(w))
    wal.close()

    val buffer = new MemBuffer
    val hwm = scala.collection.mutable.Map.empty[String, Long]
    val (_, _) = Wal.replay(dir, buffer, _ => (), (sink, bid, _) =>
      hwm(sink) = math.max(hwm.getOrElse(sink, -1L), bid))
    assert(hwm == Map("s" -> 0L, "other" -> 41L),
      "only COMMITTED brackets and hwm records advance the mark")
    val m = buffer.tables("ns").get("t")("1970-01-01")
    assert(m.values == Vector("v0", "v1", "v2", "v100"),
      "committed bracket + plain write replay; uncommitted rows do not")
  }

  test("stream-batch marker records round-trip the codec " +
    "(reference-compatible record shape)") {
    for (mk <- Seq(graft.core.StreamBatch.begin("sink-a", 17L),
        graft.core.StreamBatch.commit("sink-a", 17L),
        graft.core.StreamBatch.hwm("sink-a", Long.MaxValue))) {
      val in = new DataInputStream(
        new java.io.ByteArrayInputStream(WalCodec.encode(mk)))
      assert(WalCodec.decode(in).contains(mk))
      assert(graft.core.StreamBatch.idOf(mk) == mk.metadata("id")
        .asInstanceOf[TagNumber].bits)
    }
  }

  test("property: random interleavings of writes, batches, and stream " +
    "brackets — with a random torn tail — replay exactly what an " +
    "independent record-level interpreter says survived") {
    import graft.core.{SealMarker, StreamBatch}

    // decode every complete record in segment order (the torn tail,
    // if any, ends the last segment at its final complete record) —
    // an independent read path for the oracle below
    def decodeAll(dir: File): Seq[WriteRequest] = {
      val segs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".wal"))
        .sortBy(_.getName.stripSuffix(".wal").toLong)
      segs.toSeq.flatMap { f =>
        val in = new DataInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(f)))
        try {
          val recs = scala.collection.mutable.ArrayBuffer
            .empty[WriteRequest]
          try {
            val header = new Array[Byte](WalCodec.Header.length)
            in.readFully(header)
            val v2 = header.sameElements(WalCodec.Header2)
            var rec = WalCodec.decode(in)
            while (rec.isDefined) {
              // independent reader: the CRC is framing here, the torn
              // tail below may cut through it (mid-frame = discarded)
              if (v2) in.readInt()
              recs += rec.get
              rec = WalCodec.decode(in) }
          } catch { case _: java.io.EOFException => /* torn tail */ }
          recs.toSeq
        } finally in.close()
      }
    }

    // the record-level semantics, restated independently of
    // Wal.replay: plain rows insert; bracket rows insert only when
    // their commit survived; commit/hwm records advance the mark
    def interpret(recs: Seq[WriteRequest])
        : (Vector[String], Map[String, Long]) = {
      var vals = Vector.empty[String]
      var hwm = Map.empty[String, Long]
      var open: Option[(String, Long, Vector[String])] = None
      recs.foreach { w =>
        if (w.namespace == StreamBatch.Namespace) {
          val sink = w.measurement
          val id = StreamBatch.idOf(w)
          w.value match {
            case StreamBatch.Begin =>
              open = Some((sink, id, Vector.empty))
            case StreamBatch.Commit =>
              open match {
                case Some((s, b, rs)) if s == sink && b == id =>
                  vals ++= rs
                  hwm += sink -> math.max(hwm.getOrElse(sink, -1L), id)
                case _ => // stray commit: closes nothing, marks nothing
              }
              open = None
            case _ =>
              hwm += sink -> math.max(hwm.getOrElse(sink, -1L), id)
          }
        } else if (w.namespace == SealMarker.Namespace) ()
        else open match {
          case Some((s, b, rs)) => open = Some((s, b, rs :+ w.value))
          case None => vals :+= w.value
        }
      }
      (vals, hwm)
    }

    (1 to 30).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val dir = tempDir()
      val wal = new Wal(dir, 0, 64 + rnd.nextInt(400))
      var v = 0
      def mkw(): WriteRequest = {
        v += 1
        WriteRequest("ns", "t", s"v$v", Map.empty, v.toLong)
      }
      var nextId = Map.empty[String, Long]
      (0 until 30 + rnd.nextInt(40)).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => wal.write(mkw())
          case 1 => wal.writeAll(Vector.fill(1 + rnd.nextInt(5))(mkw()))
          case _ =>
            val sink = s"s${rnd.nextInt(3)}"
            val id = nextId.getOrElse(sink, 0L)
            nextId += sink -> (id + 1)
            val ws = Vector.fill(1 + rnd.nextInt(5))(mkw())
            wal.writeAll(StreamBatch.begin(sink, id) +: ws :+
              StreamBatch.commit(sink, id))
        }
      }
      wal.close()
      // random torn tail: chop bytes off the LAST segment — possibly
      // beheading a bracket's commit, possibly mid-record
      if (rnd.nextBoolean()) {
        val last = dir.listFiles().filter(_.getName.endsWith(".wal"))
          .maxBy(_.getName.stripSuffix(".wal").toLong)
        val len = last.length()
        val cut = math.max(WalCodec.Header.length.toLong,
          len - (1 + rnd.nextInt(300)))
        val raf = new java.io.RandomAccessFile(last, "rw")
        try raf.setLength(cut) finally raf.close()
      }
      val (wantVals, wantHwm) = interpret(decodeAll(dir))
      val buffer = new MemBuffer
      val gotHwm = scala.collection.mutable.Map.empty[String, Long]
      Wal.replay(dir, buffer, _ => (), (sink, bid, _) =>
        gotHwm(sink) = math.max(gotHwm.getOrElse(sink, -1L), bid))
      val gotVals = buffer.tables("ns").get("t")
        .values.flatMap(_.values).toVector
      assert(gotVals == wantVals,
        s"seed $seed: replayed ${gotVals.size} values, " +
          s"oracle says ${wantVals.size}")
      assert(gotHwm.toMap == wantHwm, s"seed $seed: hwm mismatch " +
        s"(${gotHwm.toMap} vs $wantHwm)")
    }
  }

  test("an uncommitted bracket is PHYSICALLY removed at the first " +
    "replay — a later session's acknowledged writes can never be " +
    "staged into a zombie begin and discarded") {
    import graft.core.StreamBatch
    val dir = tempDir()
    def w(i: Int) = WriteRequest("ns", "t", s"v$i",
      Map("i" -> TagNumber(i.toLong)), i.toLong)
    // session 1: a committed plain write, a committed bracket, then a
    // crash mid-bracket — begin + rows span SEGMENTS (max 64 bytes),
    // commit never written
    val wal1 = new Wal(dir, 0, 64)
    wal1.write(w(1))
    wal1.writeAll(StreamBatch.begin("s", 4L) +: Seq(w(2)) :+
      StreamBatch.commit("s", 4L))
    wal1.writeAll(StreamBatch.begin("s", 5L) +: (3 to 6).map(w))
    wal1.close()
    val segsBefore = dir.listFiles().count(_.getName.endsWith(".wal"))

    // replay #1: committed data survives, the zombie's records are
    // gone FROM DISK (not just skipped)
    val buf1 = new MemBuffer
    val hwm1 = scala.collection.mutable.Map.empty[String, Long]
    val (h1, _) = Wal.replay(dir, buf1, _ => (), (s, b, _) =>
      hwm1(s) = math.max(hwm1.getOrElse(s, -1L), b))
    assert(buf1.tables("ns").get("t")("1970-01-01").values ==
      Vector("v1", "v2"))
    assert(hwm1 == Map("s" -> 4L))
    val segsAfter = dir.listFiles().count(_.getName.endsWith(".wal"))
    assert(segsAfter < segsBefore,
      "the zombie bracket's spill segments must be deleted")

    // session 2: acknowledged plain writes land after the crash
    val wal2 = new Wal(dir, h1 + 1, 64)
    wal2.write(w(7))
    wal2.write(w(8))
    wal2.close()

    // replay #2: WITHOUT the physical cleanup, the zombie begin
    // would still open here and stage-and-discard v7/v8 — the exact
    // acknowledged-data loss this test pins closed
    val buf2 = new MemBuffer
    val hwm2 = scala.collection.mutable.Map.empty[String, Long]
    Wal.replay(dir, buf2, _ => (), (s, b, _) =>
      hwm2(s) = math.max(hwm2.getOrElse(s, -1L), b))
    assert(buf2.tables("ns").get("t")("1970-01-01").values ==
      Vector("v1", "v2", "v7", "v8"),
      "session 2's acknowledged writes must replay")
    assert(hwm2 == Map("s" -> 4L))
  }

  test("LYNX1 segments (pre-CRC) still replay, truncation-only " +
    "semantics intact — backward compatibility with existing WALs") {
    val dir = tempDir()
    val recs = (0 until 5).map(i =>
      WriteRequest("ns", "t", s"v$i", Map.empty, i.toLong))
    val out = new java.io.FileOutputStream(new File(dir, "0.wal"))
    out.write(WalCodec.Header) // v1: no per-record CRC
    recs.foreach(r => out.write(WalCodec.encode(r)))
    out.close()
    val buf = new MemBuffer
    Wal.replay(dir, buf)
    assert(buf.tables("ns").get("t")("1970-01-01").values ==
      recs.map(_.value).toVector)
    // v1 torn tail: clean EOF-truncation recovery still works
    truncateBy(new File(dir, "0.wal"), 3)
    val buf2 = new MemBuffer
    Wal.replay(dir, buf2)
    assert(buf2.tables("ns").get("t")("1970-01-01").values ==
      recs.init.map(_.value).toVector)
  }

  test("stream-bracket qid: markers round-trip the codec and replay " +
    "surfaces the lane's streaming-query identity") {
    import graft.core.StreamBatch
    val b = StreamBatch.begin("s", 3L, "query-abc")
    assert(StreamBatch.qidOf(b) == "query-abc")
    assert(StreamBatch.idOf(b) == 3L)
    assert(StreamBatch.qidOf(StreamBatch.begin("s", 3L)) == "",
      "qid-less markers (pre-upgrade WALs) read as unknown identity")
    for (mk <- Seq(b, StreamBatch.commit("s", 3L, "query-abc"),
        StreamBatch.hwm("s", 3L, "query-abc"))) {
      val in = new DataInputStream(
        new java.io.ByteArrayInputStream(WalCodec.encode(mk)))
      assert(WalCodec.decode(in).contains(mk))
    }
    val dir = tempDir()
    val wal = new Wal(dir, 0, Long.MaxValue)
    def w(i: Int) = WriteRequest("ns", "t", s"v$i", Map.empty, i.toLong)
    wal.writeAll(StreamBatch.begin("s", 0L, "qA") +: Seq(w(1)) :+
      StreamBatch.commit("s", 0L, "qA"))
    wal.write(StreamBatch.hwm("other", 9L, "qB"))
    wal.close()
    val seen = scala.collection.mutable.Map.empty[String, String]
    val hwm = scala.collection.mutable.Map.empty[String, Long]
    Wal.replay(dir, new MemBuffer, _ => (), (s, b2, q) => {
      hwm(s) = math.max(hwm.getOrElse(s, -1L), b2)
      if (q.nonEmpty) seen(s) = q
    })
    assert(hwm == Map("s" -> 0L, "other" -> 9L))
    assert(seen == Map("s" -> "qA", "other" -> "qB"),
      "committed brackets AND hwm records must surface their qid")
  }

  test("a stray commit (no matching begin) closes nothing and does " +
    "NOT advance the hwm — corruption degrades to re-delivery, " +
    "never to a batch marked applied whose rows were dropped") {
    import graft.core.StreamBatch
    val dir = tempDir()
    val wal = new Wal(dir, 0, Long.MaxValue)
    def w(i: Int) = WriteRequest("ns", "t", s"v$i", Map.empty, i.toLong)
    wal.write(w(0))
    wal.write(StreamBatch.commit("s", 5L)) // no begin at all
    // mismatched bracket: begin batch 1, commit batch 2
    wal.writeAll(Seq(StreamBatch.begin("x", 1L), w(1),
      StreamBatch.commit("x", 2L)))
    wal.close()
    val buf = new MemBuffer
    val hwm = scala.collection.mutable.Map.empty[String, Long]
    Wal.replay(dir, buf, _ => (), (s, b, _) =>
      hwm(s) = math.max(hwm.getOrElse(s, -1L), b))
    assert(hwm.isEmpty,
      "neither the begin-less nor the mismatched commit may mark " +
        "a batch applied")
    assert(buf.tables("ns").get("t")("1970-01-01").values ==
      Vector("v0"),
      "the mismatched bracket's staged row is dropped (warned), " +
        "the plain write replays")
  }

  test("LYNX2 bit-flip fuzz: one flipped byte anywhere after the " +
    "header never mis-frames replay — recovery keeps exactly the " +
    "frames before the damage and never resurrects a bracket") {
    import graft.core.StreamBatch
    // the record-level semantics of a surviving frame prefix (the
    // stray-commit rule included), independent of Wal.replay
    def interpret(recs: Seq[WriteRequest])
        : (Vector[String], Map[String, Long]) = {
      var vals = Vector.empty[String]
      var hwm = Map.empty[String, Long]
      var open: Option[(String, Long, Vector[String])] = None
      recs.foreach { w =>
        if (w.namespace == StreamBatch.Namespace) {
          val sink = w.measurement
          val id = StreamBatch.idOf(w)
          w.value match {
            case StreamBatch.Begin =>
              open = Some((sink, id, Vector.empty))
            case StreamBatch.Commit =>
              open match {
                case Some((s, b, rs)) if s == sink && b == id =>
                  vals ++= rs
                  hwm += sink -> math.max(hwm.getOrElse(sink, -1L), id)
                case _ =>
              }
              open = None
            case _ =>
              hwm += sink -> math.max(hwm.getOrElse(sink, -1L), id)
          }
        } else open match {
          case Some((s, b, rs)) => open = Some((s, b, rs :+ w.value))
          case None => vals :+= w.value
        }
      }
      (vals, hwm)
    }
    (1 to 50).foreach { seed =>
      val rnd = new scala.util.Random(9000 + seed)
      val dir = tempDir()
      val wal = new Wal(dir, 0, Long.MaxValue) // single segment
      var v = 0
      def mkw(): WriteRequest = {
        v += 1
        WriteRequest("ns", "t", s"v$v",
          Map("k" -> TagNumber(v.toLong)), v.toLong)
      }
      var nextId = 0L
      val frames = scala.collection.mutable
        .ArrayBuffer.empty[WriteRequest]
      (0 until 8 + rnd.nextInt(8)).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 =>
            val w = mkw(); wal.write(w); frames += w
          case 1 =>
            val ws = Vector.fill(1 + rnd.nextInt(3))(mkw())
            wal.writeAll(ws); frames ++= ws
          case _ =>
            val ws = Vector.fill(1 + rnd.nextInt(3))(mkw())
            val all = StreamBatch.begin("s", nextId, "q1") +: ws :+
              StreamBatch.commit("s", nextId, "q1")
            nextId += 1
            wal.writeAll(all); frames ++= all
        }
      }
      wal.close()
      val seg = new File(dir, "0.wal")
      // cumulative frame boundaries: frame i spans
      // [offsets(i), offsets(i+1))
      val offsets = frames.scanLeft(WalCodec.Header.length.toLong)(
        (acc, w) => acc + WalCodec.encodeV2(w).length).toVector
      assert(seg.length() == offsets.last, s"seed $seed: offset math")
      val pos = WalCodec.Header.length + rnd.nextInt(
        (seg.length() - WalCodec.Header.length).toInt)
      val raf = new java.io.RandomAccessFile(seg, "rw")
      try {
        raf.seek(pos.toLong)
        val b = raf.readByte()
        raf.seek(pos.toLong)
        raf.writeByte(b ^ (1 << rnd.nextInt(8)))
      } finally raf.close()
      val corrupted = offsets.lastIndexWhere(_ <= pos)
      val (wantVals, wantHwm) = interpret(frames.take(corrupted).toSeq)
      val buffer = new MemBuffer
      val gotHwm = scala.collection.mutable.Map.empty[String, Long]
      // FORCED: a random flip may be mid-log (CRC-valid frames after
      // the damage), which unforced replay now refuses by design —
      // this fuzz pins the recovery MATH (exact last-proven-boundary
      // truncation) under the operator override; the refusal policy
      // has its own tests below
      Wal.replay(dir, buffer, _ => (), (sink, bid, _) =>
        gotHwm(sink) = math.max(gotHwm.getOrElse(sink, -1L), bid),
        forceTailTruncate = true, _ => ())
      def vals(buf: MemBuffer): Vector[String] =
        buf.tables("ns").flatMap(_.get("t"))
          .map(_.values.flatMap(_.values).toVector)
          .getOrElse(Vector.empty)
      val gotVals = vals(buffer)
      assert(gotVals == wantVals,
        s"seed $seed (flip at $pos, frame $corrupted of " +
          s"${frames.size}): replayed $gotVals, oracle $wantVals")
      assert(gotHwm.toMap == wantHwm,
        s"seed $seed: hwm ${gotHwm.toMap} vs $wantHwm")
      // recovery is stable: the truncated file replays identically
      val buffer2 = new MemBuffer
      Wal.replay(dir, buffer2)
      assert(vals(buffer2) == wantVals,
        s"seed $seed: second replay differs")
    }
  }

  test("bounded tail recovery: mid-log bit rot (a CRC-valid frame " +
    "FOLLOWS the corrupt one) refuses auto-truncation, keeps the " +
    "file intact, and recovers only under the operator override — " +
    "with the repair surfaced through onRecovery") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, Long.MaxValue)
    def w(i: Int) = WriteRequest("ns", "t", s"v$i", Map.empty, i.toLong)
    (0 until 5).foreach(i => wal.write(w(i)))
    wal.close()
    val seg = new File(dir, "0.wal")
    // flip one byte in record 1's VALUE payload: CRC mismatch with
    // framing intact, records 2..4 still CRC-valid after it
    val off0 = WalCodec.Header.length +
      WalCodec.encodeV2(w(0)).length
    val raf = new java.io.RandomAccessFile(seg, "rw")
    try {
      // value field sits after ns(8+2) + meas(8+1) bytes + len prefix
      val valOff = off0 + 8 + 2 + 8 + 1 + 8
      raf.seek(valOff.toLong)
      val b = raf.readByte()
      raf.seek(valOff.toLong)
      raf.writeByte(b ^ 0x01)
    } finally raf.close()
    val lenBefore = seg.length()
    val ex = intercept[IllegalStateException] {
      Wal.replay(dir, new MemBuffer)
    }
    assert(ex.getMessage.contains("refusing to auto-truncate") &&
      ex.getMessage.contains("CRC-valid frame FOLLOWS"), ex.getMessage)
    assert(seg.length() == lenBefore,
      "a refused recovery must not touch the segment")
    // operator override: recovers at the last proven boundary (only
    // v0 survives) and surfaces the repair
    val buf = new MemBuffer
    val repairs = scala.collection.mutable
      .ArrayBuffer.empty[Wal.WalRecovery]
    Wal.replay(dir, buf, _ => (), (_, _, _) => (),
      forceTailTruncate = true, repairs += _)
    assert(buf.tables("ns").get("t")("1970-01-01").values ==
      Vector("v0"))
    assert(repairs.size == 1 && repairs.head.keptBytes == off0 &&
      repairs.head.reason.contains("forced past mid-log rot"),
      repairs.toString)
  }

  test("bounded tail recovery: a mis-framed tail whose damaged " +
    "suffix exceeds the auto-truncate ceiling refuses (an operator " +
    "reviews megabytes of acknowledged records; a torn-tail EOF " +
    "still auto-recovers)") {
    val dir = tempDir()
    val wal = new Wal(dir, 0, Long.MaxValue)
    def w(i: Int, value: String) =
      WriteRequest("ns", "t", value, Map.empty, i.toLong)
    wal.write(w(0, "small"))
    wal.write(w(1, "x" * (2 << 20))) // 2 MiB record after the victim
    wal.close()
    val seg = new File(dir, "0.wal")
    // corrupt record 0's FIRST length prefix to a negative value:
    // "unreasonable length" (framing lost, no probe possible) with
    // > 1 MiB after the last good boundary
    val raf = new java.io.RandomAccessFile(seg, "rw")
    try {
      raf.seek(WalCodec.Header.length.toLong)
      raf.writeByte(0x80)
    } finally raf.close()
    val ex = intercept[IllegalStateException] {
      Wal.replay(dir, new MemBuffer)
    }
    assert(ex.getMessage.contains("refusing to auto-truncate") &&
      ex.getMessage.contains("auto-truncate ceiling"), ex.getMessage)
    // forced: everything after the header is discarded, loudly
    val buf = new MemBuffer
    Wal.replay(dir, buf, _ => (), (_, _, _) => (),
      forceTailTruncate = true, _ => ())
    assert(buf.isEmpty)
    // contrast: a clean EOF torn tail of ANY size auto-recovers
    // without the override (the crash shape must never need a flag)
    val dir2 = tempDir()
    val wal2 = new Wal(dir2, 0, Long.MaxValue)
    wal2.write(w(0, "keep"))
    wal2.write(w(1, "y" * (2 << 20)))
    wal2.close()
    val seg2 = new File(dir2, "0.wal")
    val keepLen = WalCodec.Header.length +
      WalCodec.encodeV2(w(0, "keep")).length
    val raf2 = new java.io.RandomAccessFile(seg2, "rw")
    try raf2.setLength(seg2.length() - 7) finally raf2.close()
    val buf2 = new MemBuffer
    Wal.replay(dir2, buf2)
    assert(buf2.tables("ns").get("t")("1970-01-01").values ==
      Vector("keep"))
    assert(seg2.length() == keepLen)
  }

  test("a replay CALLBACK throwing (transient seal re-publish failure) " +
    "PROPAGATES and never truncates the valid WAL tail — only " +
    "decoder-proven corruption triggers tail recovery") {
    import graft.core.SealMarker
    val dir = tempDir()
    val wal = new Wal(dir, 0, Long.MaxValue)
    def w(i: Int) = WriteRequest("ns", "t", s"v$i", Map.empty, i.toLong)
    wal.write(w(0))
    wal.write(SealMarker("ns", "t", "staging-1", Seq("f1.parquet")))
    wal.write(w(1)) // acknowledged AFTER the marker — must survive
    wal.close()
    val seg = new File(dir, "0.wal")
    val lenBefore = seg.length()
    // onSeal throws IllegalStateException, the exact type a failed
    // ParquetTier.publish raises — replay must abort loudly, not
    // misread it as a corrupt frame and chop the tail off
    val ex = intercept[IllegalStateException] {
      Wal.replay(dir, new MemBuffer,
        _ => throw new IllegalStateException(
          "publish: cannot move staged file"))
    }
    assert(ex.getMessage.contains("publish"))
    assert(seg.length() == lenBefore,
      "a callback failure must never truncate acknowledged records")
    // recovery: once the transient failure clears, everything replays
    val buf = new MemBuffer
    Wal.replay(dir, buf, _ => ())
    assert(buf.tables("ns").get("t")("1970-01-01").values ==
      Vector("v0", "v1"))
  }
}
