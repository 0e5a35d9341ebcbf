package graft.wal

import java.io.{DataInputStream, DataOutputStream, EOFException, File,
  FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

import graft.buffer.MemBuffer
import graft.core.{TagNumber, TagString, TagValue, WriteRequest}

/** Write-ahead log with the reference's binary segment format so the
  * durability semantics (and files) are equivalent:
  *
  *   segment file "{id}.wal" = "LYNX1" header (reference wal.rs:15,
  *   Segment::new wal.rs:228-239) followed by records; each record is
  *   big-endian 8-byte length-prefixed namespace/measurement/value,
  *   an 8-byte tag count, per tag a type byte (0=string, 1=number), a
  *   length-prefixed key, then a length-prefixed string value or an
  *   8-byte u64, and finally the 8-byte timestamp (encode
  *   wal.rs:28-77, decode wal.rs:79-156).
  *
  * Flush policy matches the reference: flush per record, no fsync —
  * process-crash durability, not power-loss (wal.rs:245-250).
  */
object WalCodec {
  val Header: Array[Byte] = "LYNX1".getBytes(UTF_8)

  /** Version-2 segment header: same length as LYNX1, but every record
    * frame carries a trailing CRC32 (big-endian 4 bytes over the
    * record's payload). LYNX1 detects only clean EOF-truncation; once
    * exactly-once stream brackets hang off frame integrity, a flipped
    * byte in a length prefix must fail loudly (or recover at a proven
    * frame boundary) instead of silently mis-framing the tail. New
    * segments always write LYNX2; replay accepts both (LYNX1 segments
    * keep their truncation-only semantics).
    */
  val Header2: Array[Byte] = "LYNX2".getBytes(UTF_8)

  /** A LYNX2 record frame: the LYNX1 payload plus its CRC32. The
    * reference encoding for tests; [[Wal]] writes the same bytes
    * from a reusable buffer.
    */
  def encodeV2(w: WriteRequest): Array[Byte] = {
    val payload = encode(w)
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    val v = crc.getValue
    val out = java.util.Arrays.copyOf(payload, payload.length + 4)
    out(payload.length) = ((v >>> 24) & 0xff).toByte
    out(payload.length + 1) = ((v >>> 16) & 0xff).toByte
    out(payload.length + 2) = ((v >>> 8) & 0xff).toByte
    out(payload.length + 3) = (v & 0xff).toByte
    out
  }

  def encode(w: WriteRequest): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(256)
    encodeTo(w, new DataOutputStream(bos))
    bos.toByteArray
  }

  /** Encode the LYNX1 payload into `out` (no CRC) — the inner loop
    * of every [[Wal]] append.
    */
  def encodeTo(w: WriteRequest, out: DataOutputStream): Unit = {
    def bytes(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      out.writeLong(b.length.toLong)
      out.write(b)
    }
    bytes(w.namespace)
    bytes(w.measurement)
    bytes(w.value)
    out.writeLong(w.metadata.size.toLong)
    w.metadata.foreach { case (k, v) =>
      v match {
        case TagString(s) =>
          out.writeByte(0)
          bytes(k)
          bytes(s)
        case TagNumber(bits) =>
          out.writeByte(1)
          bytes(k)
          out.writeLong(bits)
      }
    }
    out.writeLong(w.timestamp)
    out.flush()
  }

  /** Decode one record; None on clean EOF at a record boundary
    * (reference wal.rs:152: EOF on the first length prefix ends the
    * segment). The reference decoding for tests: [[Wal.replay]]
    * decodes the same bytes, with the same failures, from one array
    * per frame.
    */
  def decode(in: DataInputStream): Option[WriteRequest] = {
    val first = new Array[Byte](8)
    val n = in.read(first)
    if (n < 0) return None
    if (n < 8) throw new EOFException("truncated length prefix")
    def readLen(l: Long): Int = {
      require(l >= 0 && l <= Int.MaxValue, s"unreasonable length $l")
      l.toInt
    }
    // Chunked read: a corrupt length prefix (bit flip — LYNX2 CRC
    // catches the record, but only AFTER the bytes are consumed) must
    // hit EOF while reading, not allocate gigabytes up front.
    def str(len: Int): String = {
      if (len <= (1 << 20)) {
        val b = new Array[Byte](len)
        in.readFully(b)
        new String(b, UTF_8)
      } else {
        val bos = new java.io.ByteArrayOutputStream(1 << 20)
        val chunk = new Array[Byte](1 << 20)
        var remaining = len
        while (remaining > 0) {
          val want = math.min(remaining, chunk.length)
          in.readFully(chunk, 0, want)
          bos.write(chunk, 0, want)
          remaining -= want
        }
        new String(bos.toByteArray, UTF_8)
      }
    }
    val nsLen = readLen(java.nio.ByteBuffer.wrap(first).getLong)
    val namespace = str(nsLen)
    val measurement = str(readLen(in.readLong()))
    val value = str(readLen(in.readLong()))
    val tagCount = readLen(in.readLong())
    val metadata = mutable.LinkedHashMap.empty[String, TagValue]
    var i = 0
    while (i < tagCount) {
      val tpe = in.readByte()
      val key = str(readLen(in.readLong()))
      val tag: TagValue = tpe match {
        case 0 => TagString(str(readLen(in.readLong())))
        case 1 => TagNumber(in.readLong())
        case other => throw new IllegalStateException(
          s"invalid tag value type $other")
      }
      metadata.put(key, tag)
      i += 1
    }
    val timestamp = in.readLong()
    Some(WriteRequest(namespace, measurement, value, metadata.toMap,
      timestamp))
  }
}

/** Active segment: append-only buffered file; the caller decides when
  * buffered bytes reach the OS (per-record or group commit).
  */
final class Segment(val id: Long, directory: File) {
  private val file = new File(directory, s"$id.wal")
  require(!file.exists(), s"segment $file already exists")
  private val fos = new FileOutputStream(file)
  private val out = new java.io.BufferedOutputStream(fos, 64 * 1024)
  out.write(WalCodec.Header2) // new segments are always CRC-framed
  out.flush()
  private var _size: Long = WalCodec.Header2.length.toLong

  def size: Long = _size
  def write(data: Array[Byte], off: Int, len: Int): Unit = {
    out.write(data, off, len)
    _size += len
  }
  def flush(): Unit = out.flush()

  /** Flush then fsync: data reaches the platter, not just the page
    * cache — power-loss durability, the rung above the reference's
    * flush-only policy (reference wal.rs:245-250).
    */
  def sync(): Unit = {
    out.flush()
    fos.getFD.sync()
  }
  def close(): Unit = out.close() // BufferedOutputStream.close flushes
}

/** WAL manager: rotation happens when the active segment exceeds
  * `maxSegmentSize` — checked BEFORE the write, so a segment may
  * exceed the max by one record, same as the reference
  * (wal.rs:196-198, 204-209).
  *
  * Flush policy: `groupCommitMillis == 0` (default) flushes per
  * record, matching the reference (wal.rs:245-250 — process-crash
  * durability, not power-loss). A positive value enables group
  * commit: records buffer in-heap and reach the OS at most
  * `groupCommitMillis` later (flushed inline when a write sees the
  * deadline pass, and by a daemon timer when writes go quiet) —
  * trading a bounded extra process-crash window for one syscall per
  * interval instead of per record on the hot ingest path.
  *
  * `fsyncOnFlush` adds the top rung of the durability ladder: every
  * flush also fsyncs (FileDescriptor.sync), upgrading process-crash
  * durability to power-loss durability. Sensible combined with group
  * commit (one fsync per interval); with per-record flushing it means
  * one fsync per write — correct but at spinning-disk latency.
  */
final class Wal(directory: File, startSegmentId: Long,
    maxSegmentSize: Long,
    val closedSegments: mutable.ArrayBuffer[Long] =
      mutable.ArrayBuffer.empty,
    groupCommitMillis: Long = 0L,
    fsyncOnFlush: Boolean = false) {
  directory.mkdirs()
  private var active = new Segment(startSegmentId, directory)
  private var lastFlushNanos = System.nanoTime()
  private val flusher: Option[java.util.Timer] =
    if (groupCommitMillis <= 0) None
    else {
      val t = new java.util.Timer("wal-group-commit", true)
      t.scheduleAtFixedRate(new java.util.TimerTask {
        def run(): Unit = Wal.this.flush()
      }, groupCommitMillis, groupCommitMillis)
      Some(t)
    }

  def activeSegmentId: Long = active.id
  def activeSegmentSize: Long = active.size

  /** Append one record: the one-element batch of [[writeAll]], with
    * the same framing, flush, fsync and group-commit deadline.
    */
  def write(w: WriteRequest): Unit = writeAll(Seq(w))

  /** Append a whole batch with ONE flush (and one fsync when
    * configured) at the end — the group-commit rung exercised
    * explicitly: N records cost the same durability round-trip as
    * one. Rotation is still checked per record so segment bounds
    * hold. Under timer-driven group commit the batch only buffers.
    */
  def writeAll(ws: Seq[WriteRequest]): Unit = synchronized {
    ws.foreach { w =>
      if (active.size > maxSegmentSize) rotate()
      appendFrame(w)
    }
    if (groupCommitMillis <= 0) {
      if (fsyncOnFlush) active.sync() else active.flush()
    } else if (System.nanoTime() - lastFlushNanos >=
        groupCommitMillis * 1000000L) {
      flush()
    }
  }

  // Reusable frame scratch: every record is encoded into ONE growing
  // buffer and its payload + CRC appended straight into the segment
  // stream — the frames WalCodec.encodeV2 builds, byte for byte
  // (WalSpec pins the sizes), with no per-record allocation once the
  // buffer has grown. Guarded by the Wal lock like everything else.
  private final class Scratch extends java.io.ByteArrayOutputStream(512) {
    def buffer: Array[Byte] = buf
    def length: Int = count
  }
  private val scratch = new Scratch
  private val scratchOut = new DataOutputStream(scratch)
  private val scratchCrc = new java.util.zip.CRC32
  private val crcBytes = new Array[Byte](4)

  /** Caller holds the Wal lock. Buffers one LYNX2 frame; no flush. */
  private def appendFrame(w: WriteRequest): Unit = {
    scratch.reset()
    WalCodec.encodeTo(w, scratchOut)
    scratchCrc.reset()
    scratchCrc.update(scratch.buffer, 0, scratch.length)
    val v = scratchCrc.getValue
    crcBytes(0) = ((v >>> 24) & 0xff).toByte
    crcBytes(1) = ((v >>> 16) & 0xff).toByte
    crcBytes(2) = ((v >>> 8) & 0xff).toByte
    crcBytes(3) = (v & 0xff).toByte
    active.write(scratch.buffer, 0, scratch.length)
    active.write(crcBytes, 0, 4)
  }

  /** Force buffered records to the OS now (and to the device when
    * `fsyncOnFlush`), regardless of the group commit deadline. Callers
    * that need a record durable *before* a dependent action (the seal
    * marker before tier publish) must call this — under group commit a
    * plain write() only buffers.
    */
  def flush(): Unit = synchronized {
    if (fsyncOnFlush) active.sync() else active.flush()
    lastFlushNanos = System.nanoTime()
  }

  private def rotate(): Unit = {
    active.close()
    closedSegments += active.id
    active = new Segment(active.id + 1, directory)
  }

  /** Rotate to a fresh segment and delete every closed one. ONLY
    * sound when the caller has established that no closed segment
    * holds data missing from durable storage — i.e. the buffer is
    * empty because everything was sealed to the tier (see
    * LynxEngine.checkpoint). Bounds the reference's unbounded WAL
    * growth (SURVEY.md §3.3).
    *
    * `carryOver` records (e.g. stream high-water-mark checkpoints)
    * are written AND FLUSHED into the fresh segment BEFORE any old
    * segment is deleted: a crash anywhere in this method then either
    * leaves the old segments (replay re-derives the same state from
    * them) or has the carry-over durable — there is no window where
    * the brackets are gone and their summary is not.
    */
  def truncateClosed(carryOver: Seq[WriteRequest] = Nil): Unit =
    synchronized {
      rotate()
      if (carryOver.nonEmpty) {
        carryOver.foreach(appendFrame)
        if (fsyncOnFlush) active.sync() else active.flush()
      }
      // Delete every segment older than the fresh active one
      // (including those inherited from a previous process via
      // replay), OLDEST FIRST and stopping on the first failure: a
      // data row in a surviving segment then always has its seal
      // marker in a later surviving segment, so a crash mid-truncate
      // can never resurrect sealed rows without their marker.
      val segs = Option(directory.listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          case Wal.SegmentName(id) if id.toLong < active.id =>
            Some((id.toLong, f))
          case _ => None
        })
        .sortBy(_._1)
      var ok = true
      for ((_, f) <- segs if ok) ok = f.delete()
      closedSegments.clear()
    }

  def close(): Unit = {
    flusher.foreach(_.cancel())
    synchronized(active.close())
  }
}

object Wal {
  /** Segment file name shape, shared by replay and truncation. */
  val SegmentName: scala.util.matching.Regex = """(\d+)\.wal""".r

  /** Bytes a segment is first read through: frames are decoded in
    * place from this window, which grows only for a single frame larger
    * than itself (so a frame always sits in one array).
    */
  private val Window = 1 << 20

  /** Reads one segment file through a reusable window and decodes each
    * frame from that one array: the frame's CRC32 is one `update` over
    * its payload bytes, and strings decode straight out of the window.
    * A length reaching past the end of the file is an EOF before any
    * allocation, whatever the window's size. Namespace, measurement
    * and tag-key strings are interned for the segment. A frame decodes
    * to what [[WalCodec.decode]] returns, failing with the same
    * exception types and messages.
    */
  private final class SegmentReader(file: File)
      extends java.io.Closeable {
    private val in = new FileInputStream(file)
    private val fileLen = in.getChannel.size()
    private var buf = new Array[Byte](math.min(Window.toLong, fileLen).toInt)
    private var bufOff = 0L // file offset of buf(0)
    private var lim = 0 // buf(0 until lim) holds file bytes
    private var start = 0 // first byte of the frame being decoded
    private var pos = 0 // next byte to decode
    private val crc = new java.util.zip.CRC32
    // open addressing over a 256-slot table kept at most half full
    private val internBytes = new Array[Array[Byte]](256)
    private val internStrs = new Array[String](256)
    private var interned = 0

    /** File offset of the next byte to decode. */
    def offset: Long = bufOff + pos

    def close(): Unit = in.close()

    /** Make buf(pos until pos + n) hold file bytes, keeping the current
      * frame's bytes from `start` in the same array.
      */
    private def need(n: Int): Unit =
      if (lim - pos < n) {
        if (n > fileLen - offset) throw new EOFException
        val want = (pos - start).toLong + n
        if (want > Int.MaxValue - 8)
          throw new IllegalArgumentException(
            s"frame of $want bytes exceeds the largest array")
        val dst =
          if (want <= buf.length) buf
          else new Array[Byte](
            math.min(math.max(want, 2L * buf.length), Int.MaxValue - 8L).toInt)
        if ((dst ne buf) || start > 0)
          System.arraycopy(buf, start, dst, 0, lim - start)
        buf = dst
        bufOff += start; lim -= start; pos -= start; start = 0
        while (lim - pos < n) {
          val r = in.read(buf, lim, buf.length - lim)
          if (r < 0) throw new EOFException
          lim += r
        }
      }

    def header(): Array[Byte] = {
      need(WalCodec.Header.length)
      pos += WalCodec.Header.length
      java.util.Arrays.copyOfRange(buf, pos - WalCodec.Header.length, pos)
    }

    private def bigEndian(n: Int): Long = {
      need(n)
      var v = 0L
      var i = pos
      while (i < pos + n) { v = (v << 8) | (buf(i) & 0xffL); i += 1 }
      pos += n
      v
    }

    private def long(): Long = bigEndian(8)

    private def len(): Int = {
      val l = long()
      require(l >= 0 && l <= Int.MaxValue, s"unreasonable length $l")
      l.toInt
    }

    private def str(): String = {
      val n = len()
      need(n)
      pos += n
      new String(buf, pos - n, n, UTF_8)
    }

    private def name(): String = {
      val n = len()
      need(n)
      var h = 0
      var i = pos
      while (i < pos + n) { h = 31 * h + buf(i); i += 1 }
      var slot = (h ^ (h >>> 16)) & 255
      while (internBytes(slot) != null && !java.util.Arrays.equals(
          internBytes(slot), 0, internBytes(slot).length, buf, pos, pos + n))
        slot = (slot + 1) & 255
      val s =
        if (internBytes(slot) != null) internStrs(slot)
        else {
          val s = new String(buf, pos, n, UTF_8)
          if (interned < 128 && n <= 1024) {
            internBytes(slot) = java.util.Arrays.copyOfRange(buf, pos, pos + n)
            internStrs(slot) = s
            interned += 1
          }
          s
        }
      pos += n
      s
    }

    /** The LYNX1 payload at `pos`, as [[WalCodec.decode]] reads it. */
    private def payload(): WriteRequest = {
      val namespace = name()
      val measurement = name()
      val value = str()
      val tagCount = len()
      val metadata = Map.newBuilder[String, TagValue]
      var i = 0
      while (i < tagCount) {
        need(1)
        val tpe = buf(pos)
        pos += 1
        val key = name()
        val tag: TagValue = tpe match {
          case 0 => TagString(str())
          case 1 => TagNumber(long())
          case other => throw new IllegalStateException(
            s"invalid tag value type $other")
        }
        metadata += key -> tag
        i += 1
      }
      val timestamp = long()
      WriteRequest(namespace, measurement, value, metadata.result(),
        timestamp)
    }

    /** The next frame, or None at a clean end of file on a frame
      * boundary. A LYNX2 (`v2`) frame's payload is CRC-verified, and
      * its decoder failures (a flipped byte read as an impossible
      * length or tag type) wrap as [[FrameCorruptException]] here,
      * inside the frame boundary, so recovery can never mistake an
      * exception of a replay callback for frame corruption.
      */
    def frame(v2: Boolean): Option[WriteRequest] = {
      start = pos
      val left = fileLen - offset
      if (left == 0) return None
      if (left < 8) throw new EOFException("truncated length prefix")
      val w =
        try payload()
        catch {
          case e @ (_: IllegalArgumentException |
              _: IllegalStateException) if v2 =>
            throw new FrameCorruptException(e.getMessage,
              framingIntact = false)
        }
      if (v2) {
        val payloadLen = pos - start
        val stored = bigEndian(4)
        crc.reset()
        crc.update(buf, start, payloadLen)
        val expected = crc.getValue
        if (stored != expected)
          throw new FrameCorruptException(
            f"record CRC mismatch (stored $stored%08x, " +
              f"computed $expected%08x)", framingIntact = true)
      }
      Some(w)
    }
  }

  /** A LYNX2 frame the DECODER proved corrupt (CRC mismatch, or a
    * structurally impossible payload — unreasonable length, invalid
    * tag type). A dedicated type so the tail-recovery catch can only
    * ever match decoder failures: replay CALLBACKS (onSeal re-driving
    * a tier publish, buffer inserts) throw IllegalState/
    * IllegalArgument too, and treating those as frame corruption
    * would TRUNCATE a valid WAL tail — acknowledged records — on a
    * transient publish failure.
    *
    * `framingIntact`: true only for a CRC mismatch — the decoder
    * consumed EXACTLY one frame, so the reader sits at the next
    * frame boundary and recovery can PROBE whether a CRC-valid
    * frame follows (mid-log bit rot) or nothing does (torn tail).
    * A mis-framed length / invalid tag type loses the framing; no
    * probe is possible there.
    */
  private final class FrameCorruptException(msg: String,
      val framingIntact: Boolean) extends Exception(msg)

  /** One tail-recovery event surfaced to the caller (engine startup
    * status / metrics — not only stderr): the segment file, the kept
    * prefix, the discarded suffix, and why.
    */
  final case class WalRecovery(segment: String, keptBytes: Long,
      discardedBytes: Long, reason: String)

  /** Auto-truncation ceiling: a FrameCorrupt tail recovery that
    * would discard more than this refuses instead (an operator
    * reviews and re-runs with force) — bit rot early in a large
    * active segment must not silently discard megabytes of
    * fsync-acknowledged records. Clean EOF torn tails (a crash
    * mid-append) are exempt: the discarded bytes are one partial
    * frame by construction.
    */
  val MaxAutoTruncateBytes: Long = 1L << 20

  /** What a full replay found: the highest segment id, every observed
    * segment id, and the number of frames it decoded.
    */
  final case class Replayed(highest: Long, segments: Seq[Long],
      records: Long)

  /** Plain rows replay inserts per buffer call. */
  private val ReplayRun = 8192

  /** Replay every segment in `directory` into the buffer; returns
    * (highest segment id, all observed ids) — the caller opens the
    * next active segment at highest+1 (reference wal.rs:276-296,
    * lynx.rs:45-53).
    */
  def replay(directory: File, buffer: MemBuffer): (Long, Seq[Long]) =
    replay(directory, buffer,
      m => { buffer.drainTable(m.value, m.measurement); () })

  /** Replay with a custom seal-marker handler: the engine passes one
    * that both drains the buffer AND re-drives the tier publish
    * recorded in the marker's metadata (crash-atomic seals).
    */
  def replay(directory: File, buffer: MemBuffer,
      onSeal: WriteRequest => Unit): (Long, Seq[Long]) =
    replay(directory, buffer, onSeal, (_, _, _) => ())

  /** Replay with both marker handlers.
    * `onStreamHwm(sinkId, batchId, queryId)` fires for every
    * COMMITTED stream-batch bracket and every HWM checkpoint record,
    * in WAL order — the engine keeps the max per sink, deriving the
    * streaming high-water mark from the WAL itself, and remembers the
    * lane's streaming-query identity (graft.core.StreamBatch.QidTag;
    * "" when the bracket carried none) so a checkpoint reset can be
    * detected instead of silently skipped.
    *
    * Stream-batch atomicity: rows between a BEGIN and its COMMIT are
    * STAGED, not inserted, and flush to the buffer only when the
    * commit arrives. A bracket cut short by a torn tail (the begin
    * and some rows survived, the commit did not) discards the staged
    * rows — the batch never committed, so its id is above no hwm and
    * the streaming source re-delivers it whole. Staging state spans
    * segment rotation (a bracket may straddle a rotation) but never
    * interleaves with other records: the writer appends the whole
    * bracket under one WAL lock hold.
    */
  def replay(directory: File, buffer: MemBuffer,
      onSeal: WriteRequest => Unit,
      onStreamHwm: (String, Long, String) => Unit)
      : (Long, Seq[Long]) = {
    val r = replay(directory, buffer, onSeal, onStreamHwm,
      forceTailTruncate = false, _ => ())
    (r.highest, r.segments)
  }

  /** Full replay with the tail-recovery policy knobs.
    *
    * `forceTailTruncate`: a FrameCorrupt recovery normally refuses
    * (fails startup loudly) when the damage is provably NOT a torn
    * tail — a further CRC-valid frame follows the corrupt one
    * (mid-log bit rot: auto-truncating would discard valid,
    * fsync-acknowledged frames after the damage point, including
    * committed stream brackets a source's checkpoint already marked
    * done) — or when the discarded suffix exceeds
    * [[MaxAutoTruncateBytes]]. True forces the truncation anyway
    * (the operator has reviewed; LYNX_WAL_FORCE_TAIL_TRUNCATE at
    * the server). Clean EOF torn tails always auto-recover.
    *
    * `onRecovery` fires for every tail repair (EOF truncation,
    * frame-corrupt truncation, zombie-bracket removal) so the
    * engine can surface them in startup status instead of stderr
    * alone.
    *
    * Each segment is read through one reusable window and each frame
    * decoded from one array ([[SegmentReader]]).
    */
  def replay(directory: File, buffer: MemBuffer,
      onSeal: WriteRequest => Unit,
      onStreamHwm: (String, Long, String) => Unit,
      forceTailTruncate: Boolean,
      onRecovery: WalRecovery => Unit): Replayed = {
    directory.mkdirs()
    var highest = 0L
    var records = 0L
    val observed = mutable.ArrayBuffer.empty[Long]
    // numeric segment order ("10.wal" after "2.wal") so the buffer
    // sees writes in commit order across rotations; stray non-segment
    // files (editor droppings, lost+found) are skipped, but a real
    // *.wal file with a bad header still fails loudly
    val segments = Option(directory.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile)
      .flatMap(f => f.getName match {
        case Wal.SegmentName(id) => Some((id.toLong, f))
        case _ => None
      })
      .sortBy(_._1)
    // A torn tail (crash mid-append, or power loss before the fsync
    // rung caught up) can only exist in the HIGHEST segment: rotation
    // closes-and-flushes a segment before the next one is created, so
    // an incomplete record in any earlier segment is real corruption
    // and still fails loudly. LYNX1 segments carry no per-record
    // checksum (reference wal.rs:28-77), so only clean EOF-truncation
    // is recoverable there — garbage mid-file is indistinguishable
    // from damage and must stop replay. LYNX2 frames carry a CRC32,
    // so ANY decode failure in the last segment (mis-framed length,
    // invalid tag type, CRC mismatch — all the shapes a flipped byte
    // produces) recovers at the last PROVEN frame boundary instead:
    // the corrupted frame and everything after it is truncated away,
    // losing at most the suffix from the damage point. In an earlier
    // segment the same failures still stop replay loudly — recovering
    // there would reorder writes (later segments would replay without
    // the truncated middle).
    val lastId = segments.lastOption.fold(-1L)(_._1)
    // open stream-batch bracket, with the byte position of its BEGIN
    // record so an uncommitted bracket can be PHYSICALLY removed.
    // Spans segments (a bracket may straddle a rotation); discarded —
    // and truncated away — at EOF when the commit never made it
    // durable.
    case class OpenBracket(sink: String, bid: Long,
      rows: mutable.ArrayBuffer[WriteRequest],
      segId: Long, file: File, beginOff: Long)
    var bracket: Option[OpenBracket] = None
    // plain rows are inserted in runs (one buffer lock hold and one
    // day-key memo per run); the run is flushed before every seal
    // marker (its handler drains the table) and every bracket record,
    // so the buffer sees exactly the WAL's order
    val pending = mutable.ArrayBuffer.empty[WriteRequest]
    def flushPending(): Unit =
      if (pending.nonEmpty) {
        buffer.insertAll(pending.toSeq)
        pending.clear()
      }
    segments.foreach { case (id, f) =>
      observed += id
      highest = math.max(highest, id)
      val reader = new SegmentReader(f)
      var lastGood = 0L
      var v2 = false
      try {
        try {
          val header = reader.header()
          v2 = java.util.Arrays.equals(header, WalCodec.Header2)
          if (!v2 && !java.util.Arrays.equals(header, WalCodec.Header))
            throw new IllegalStateException(
              s"segment file must contain header (LYNX1/LYNX2): $f")
          lastGood = WalCodec.Header.length.toLong
          var rec = reader.frame(v2)
          while (rec.isDefined) {
            val w = rec.get
            records += 1
            if (w.namespace.startsWith("\u0000")) flushPending()
            if (w.namespace == graft.core.StreamBatch.Namespace) {
              val sink = w.measurement
              val bid = graft.core.StreamBatch.idOf(w)
              w.value match {
                case graft.core.StreamBatch.Begin =>
                  // a begin while a bracket is open cannot happen in
                  // a WAL this code wrote (an uncommitted bracket is
                  // always the tail, and the previous replay removed
                  // it) — treat it as corruption-grade and say so,
                  // but stay conservative: drop the unfinished one
                  bracket.foreach { b =>
                    System.err.println(s"[wal] WARNING: begin-over-" +
                      s"begin at segment $id — dropping ${b.rows.size}" +
                      s" rows of uncommitted batch ${b.bid} " +
                      s"(sink '${b.sink}')")
                  }
                  // lastGood still holds the offset BEFORE this
                  // record: the exact truncation point if this
                  // bracket never commits
                  bracket = Some(OpenBracket(sink, bid,
                    mutable.ArrayBuffer.empty[WriteRequest],
                    id, f, lastGood))
                case graft.core.StreamBatch.Commit =>
                  bracket match {
                    case Some(b) if b.sink == sink && b.bid == bid =>
                      buffer.insertAll(b.rows.toSeq)
                      bracket = None
                      onStreamHwm(sink, bid,
                        graft.core.StreamBatch.qidOf(w))
                    case other =>
                      // a commit that closes NOTHING (no bracket, or a
                      // mismatched one) is corruption-grade: warn like
                      // begin-over-begin does, drop whatever was
                      // staged, and do NOT advance the hwm — marking a
                      // batch applied whose rows were dropped would
                      // turn corruption into silent loss; leaving the
                      // mark alone degrades it to re-delivery
                      System.err.println(s"[wal] WARNING: commit " +
                        s"without matching begin at segment $id " +
                        s"(sink '$sink', batch $bid" +
                        other.fold(", no open bracket")(b =>
                          s", open bracket sink '${b.sink}' batch " +
                            s"${b.bid} with ${b.rows.size} staged " +
                            "rows dropped") +
                        ") — hwm NOT advanced")
                      bracket = None
                  }
                case _ => // hwm checkpoint record
                  onStreamHwm(sink, bid,
                    graft.core.StreamBatch.qidOf(w))
              }
            } else if (w.namespace == graft.core.SealMarker.Namespace)
              // sealed-to-tier checkpoint: rows before this marker for
              // (value=namespace, measurement=table) live in the tier
              onSeal(w)
            else bracket match {
              case Some(b) => b.rows += w
              case None =>
                pending += w
                if (pending.size >= ReplayRun) flushPending()
            }
            lastGood = reader.offset
            rec = reader.frame(v2)
          }
        } catch {
          case e: EOFException if id == lastId =>
            val why = Option(e.getMessage).getOrElse("unexpected EOF")
            System.err.println(
              s"[wal] torn tail in $f ($why): keeping the " +
                s"$lastGood-byte valid prefix")
            onRecovery(WalRecovery(f.getName, lastGood,
              f.length() - lastGood, s"torn tail: $why"))
          // LYNX2 only: a CRC-verified format makes every DECODER
          // failure in the tail segment recoverable at the last good
          // frame — a flipped byte manifests as a CRC mismatch, an
          // "unreasonable length", or an invalid tag type, all wrapped
          // as FrameCorruptException at the frame boundary. Callback
          // exceptions (seal re-publish, buffer) are other types and
          // PROPAGATE: startup must fail loudly, never truncate a
          // valid tail over a transient publish error.
          // BOUNDED: auto-truncation is for torn tails. When the
          // damage is provably mid-log (framing survived the CRC
          // mismatch and the NEXT frame decodes CRC-valid — valid
          // acknowledged records follow the flipped byte) or the
          // discarded suffix exceeds MaxAutoTruncateBytes, refuse
          // unless forced: silently discarding them would also drop
          // committed stream brackets whose batches the source's
          // checkpoint already marked done — batches that would then
          // NEVER be re-delivered.
          case e: FrameCorruptException
              if id == lastId &&
                lastGood >= WalCodec.Header.length =>
            val validFrameFollows = e.framingIntact &&
              (try reader.frame(v2).isDefined
               catch { case _: Exception => false })
            val discarded = f.length() - lastGood
            if (!forceTailTruncate &&
                (validFrameFollows ||
                  discarded > MaxAutoTruncateBytes)) {
              val shape =
                if (validFrameFollows)
                  "a CRC-valid frame FOLLOWS the corrupt one " +
                    "(mid-log bit rot, not a torn tail)"
                else
                  s"the damaged suffix is $discarded bytes " +
                    s"(> $MaxAutoTruncateBytes auto-truncate ceiling)"
              throw new IllegalStateException(
                s"[wal] corrupt frame in $f (${e.getMessage}) and " +
                  s"$shape — refusing to auto-truncate " +
                  s"${discarded} acknowledged bytes. Review the " +
                  "segment; to accept the loss and recover at the " +
                  s"last proven boundary ($lastGood), restart with " +
                  "LYNX_WAL_FORCE_TAIL_TRUNCATE=1 (replay " +
                  "forceTailTruncate)")
            }
            System.err.println(
              s"[wal] corrupt frame in $f (${e.getMessage}): keeping " +
                s"the $lastGood-byte valid prefix, truncating the rest")
            onRecovery(WalRecovery(f.getName, lastGood, discarded,
              s"corrupt frame: ${e.getMessage}" +
                (if (validFrameFollows) " (forced past mid-log rot)"
                 else "")))
        }
      } finally reader.close()
      // Truncate the torn bytes away so the next replay sees a clean
      // boundary; a clean segment ends exactly at lastGood, making
      // this a no-op. A file without even a full header holds no data
      // at all — drop it (the next active segment opens at highest+1
      // regardless).
      if (id == lastId && lastGood < f.length()) {
        if (lastGood < WalCodec.Header.length) {
          if (!f.delete()) throw new IllegalStateException(
            s"could not remove headerless torn segment $f")
        } else {
          val raf = new java.io.RandomAccessFile(f, "rw")
          try raf.setLength(lastGood) finally raf.close()
        }
      }
    }
    flushPending()
    // A bracket still open at EOF never committed: its staged rows
    // are dropped (the source re-delivers the batch — its id is above
    // every surfaced hwm) — and its records are PHYSICALLY removed.
    // They cannot be left behind: an uncommitted bracket is the WAL's
    // tail right now (it was the crash's last append), but after this
    // replay the engine accepts new writes into later segments — a
    // surviving zombie begin would then stage those acknowledged
    // rows on the NEXT replay and discard them. Failure to clean is
    // therefore failure to start.
    bracket.foreach { b =>
      System.err.println(s"[wal] discarding ${b.rows.size} rows of " +
        s"uncommitted stream batch ${b.bid} (sink '${b.sink}') and " +
        "truncating its records")
      onRecovery(WalRecovery(b.file.getName, b.beginOff,
        math.max(0L, b.file.length() - b.beginOff),
        s"uncommitted stream batch ${b.bid} (sink '${b.sink}', " +
          s"${b.rows.size} staged rows re-delivered by the source)"))
      // later segments hold only this bracket's rows (the bracket was
      // one atomic append and nothing survived after the crash)
      segments.filter(_._1 > b.segId).foreach { case (_, sf) =>
        if (sf.exists() && !sf.delete())
          throw new IllegalStateException(
            s"could not remove zombie stream-bracket segment $sf")
      }
      if (b.beginOff < b.file.length()) {
        val raf = new java.io.RandomAccessFile(b.file, "rw")
        try raf.setLength(b.beginOff) finally raf.close()
      }
    }
    Replayed(highest, observed.toSeq, records)
  }
}
