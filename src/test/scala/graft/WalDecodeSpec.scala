package graft

import java.io.{ByteArrayInputStream, DataInputStream, EOFException, File}
import java.nio.file.Files
import java.util.zip.{CRC32, CheckedInputStream}

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.buffer.{MemBuffer, PartitionKey}
import graft.core.{SealMarker, StreamBatch, TagNumber, TagString, TagValue,
  WriteRequest}
import graft.wal.{Wal, WalCodec}

/** Differential check of WAL replay against a model of it built on the
  * stream decoder ([[WalCodec.decode]] over a `DataInputStream`, with
  * the CRC32 accumulated over the bytes it consumes): random records
  * across several segments, then a random truncation or one changed
  * byte, must replay to exactly what the model derives — buffer rows,
  * segment ids, decoded frames, hwm marks, recovery events, the
  * segment files left behind, or the exception's type and message.
  */
class WalDecodeSpec extends AnyFunSuite {

  private final class Corrupt(msg: String, val framingIntact: Boolean)
      extends Exception(msg)

  type Rows = Map[(String, String, String), Vector[(Long, String,
    Map[String, TagValue])]]

  /** What replay returns or leaves behind, or the exception it throws
    * (class name and message) with the files it leaves.
    */
  final case class Outcome(
      result: Either[(String, String), (Long, Seq[Long], Long)],
      rows: Rows, hwm: Map[String, Long], recoveries: Seq[Wal.WalRecovery],
      files: Map[String, Long])

  private def segments(dir: File): Seq[(Long, File)] =
    dir.listFiles().toSeq.filter(_.isFile).flatMap(f => f.getName match {
      case Wal.SegmentName(id) => Some((id.toLong, f))
      case _ => None
    }).sortBy(_._1)

  private def files(dir: File): Map[String, Long] =
    segments(dir).map { case (_, f) => f.getName -> f.length() }.toMap

  private def canonical(rows: Iterable[((String, String), WriteRequest)])
      : Rows =
    rows.toVector.groupBy { case ((ns, t), w) =>
      (ns, t, PartitionKey.fromMicros(w.timestamp))
    }.map { case (k, ws) =>
      k -> ws.map { case (_, w) => (w.timestamp, w.value, w.metadata) }
    }

  private def bufferRows(b: MemBuffer): Rows =
    b.rowCounts.keys.toSeq.flatMap { case (ns, t) =>
      b.tables(ns).flatMap(_.get(t)).toSeq.flatMap(_.map { case (day, v) =>
        (ns, t, day) -> v.timestamps.indices.map(i =>
          (v.timestamps(i), v.values(i), v.metadata(i))).toVector
      })
    }.filter(_._2.nonEmpty).toMap

  /** The model: the replay policy over the stream decoder. */
  private def model(dir: File, force: Boolean): Outcome = {
    val segs = segments(dir)
    val lastId = segs.lastOption.fold(-1L)(_._1)
    val length = mutable.LinkedHashMap.from(segs.map { case (_, f) =>
      f.getName -> f.length() })
    val rows = mutable.ArrayBuffer.empty[((String, String), WriteRequest)]
    var hwm = Map.empty[String, Long]
    // (sink, batch, staged rows, segment id, file, begin offset)
    var bracket: Option[(String, Long, Vector[WriteRequest], Long, File,
      Long)] = None
    val recoveries = mutable.ArrayBuffer.empty[Wal.WalRecovery]
    var records = 0L
    def fail(cls: String, msg: String) =
      Outcome(Left((cls, msg)), Map.empty, Map.empty, Nil, files(dir))
    def mark(sink: String, id: Long): Unit =
      hwm += sink -> math.max(hwm.getOrElse(sink, -1L), id)
    var i = 0
    while (i < segs.length) {
      val (id, f) = segs(i)
      val bytes = Files.readAllBytes(f.toPath)
      val bais = new ByteArrayInputStream(bytes)
      val ck = new CheckedInputStream(bais, new CRC32)
      val in = new DataInputStream(ck)
      def off: Long = (bytes.length - bais.available()).toLong
      var v2 = false
      var lastGood = 0L
      def frame(): Option[WriteRequest] = {
        ck.getChecksum.reset()
        val r =
          try WalCodec.decode(in)
          catch {
            case e @ (_: IllegalArgumentException |
                _: IllegalStateException) if v2 =>
              throw new Corrupt(e.getMessage, framingIntact = false)
          }
        if (r.isDefined && v2) {
          val expected = ck.getChecksum.getValue
          val stored = in.readInt().toLong & 0xffffffffL
          if (stored != expected)
            throw new Corrupt(f"record CRC mismatch (stored $stored%08x, " +
              f"computed $expected%08x)", framingIntact = true)
        }
        r
      }
      try {
        val header = new Array[Byte](WalCodec.Header.length)
        in.readFully(header)
        v2 = header.sameElements(WalCodec.Header2)
        if (!v2 && !header.sameElements(WalCodec.Header))
          return fail("java.lang.IllegalStateException",
            s"segment file must contain header (LYNX1/LYNX2): $f")
        lastGood = WalCodec.Header.length.toLong
        var rec = frame()
        while (rec.isDefined) {
          val w = rec.get
          records += 1
          if (w.namespace == StreamBatch.Namespace) {
            val bid = StreamBatch.idOf(w)
            w.value match {
              case StreamBatch.Begin =>
                bracket = Some((w.measurement, bid, Vector.empty, id, f,
                  lastGood))
              case StreamBatch.Commit =>
                bracket match {
                  case Some((s, b, staged, _, _, _))
                      if s == w.measurement && b == bid =>
                    rows ++= staged.map(r => (r.namespace, r.measurement) -> r)
                    mark(s, bid)
                  case _ =>
                }
                bracket = None
              case _ => mark(w.measurement, bid)
            }
          } else if (w.namespace == SealMarker.Namespace)
            rows.filterInPlace(_._1 != ((w.value, w.measurement)))
          else bracket match {
            case Some(b) => bracket = Some(b.copy(_3 = b._3 :+ w))
            case None => rows += ((w.namespace, w.measurement) -> w)
          }
          lastGood = off
          rec = frame()
        }
      } catch {
        case e: EOFException if id == lastId =>
          recoveries += Wal.WalRecovery(f.getName, lastGood,
            bytes.length - lastGood,
            s"torn tail: ${Option(e.getMessage).getOrElse("unexpected EOF")}")
        case e: Corrupt if id == lastId =>
          val follows = e.framingIntact &&
            (try frame().isDefined catch { case _: Exception => false })
          val discarded = bytes.length - lastGood
          if (!force && (follows || discarded > Wal.MaxAutoTruncateBytes)) {
            val shape =
              if (follows) "a CRC-valid frame FOLLOWS the corrupt one " +
                "(mid-log bit rot, not a torn tail)"
              else s"the damaged suffix is $discarded bytes " +
                s"(> ${Wal.MaxAutoTruncateBytes} auto-truncate ceiling)"
            return fail("java.lang.IllegalStateException",
              s"[wal] corrupt frame in $f (${e.getMessage}) and $shape — " +
                s"refusing to auto-truncate $discarded acknowledged " +
                "bytes. Review the segment; to accept the loss and " +
                s"recover at the last proven boundary ($lastGood), " +
                "restart with LYNX_WAL_FORCE_TAIL_TRUNCATE=1 (replay " +
                "forceTailTruncate)")
          }
          recoveries += Wal.WalRecovery(f.getName, lastGood, discarded,
            s"corrupt frame: ${e.getMessage}" +
              (if (follows) " (forced past mid-log rot)" else ""))
        case e: Corrupt =>
          return fail("graft.wal.Wal$FrameCorruptException", e.getMessage)
        case e: Exception => return fail(e.getClass.getName, e.getMessage)
      }
      if (id == lastId && lastGood < bytes.length) {
        if (lastGood < WalCodec.Header.length) length.remove(f.getName)
        else length(f.getName) = lastGood
      }
      i += 1
    }
    bracket.foreach { case (sink, bid, staged, segId, f, beginOff) =>
      recoveries += Wal.WalRecovery(f.getName, beginOff,
        math.max(0L, length(f.getName) - beginOff),
        s"uncommitted stream batch $bid (sink '$sink', ${staged.size} " +
          "staged rows re-delivered by the source)")
      segs.filter(_._1 > segId).foreach(s => length.remove(s._2.getName))
      length(f.getName) = math.min(length(f.getName), beginOff)
    }
    Outcome(Right((segs.lastOption.fold(0L)(s => math.max(0L, s._1)),
      segs.map(_._1), records)), canonical(rows).filter(_._2.nonEmpty),
      hwm, recoveries.toSeq, length.toMap)
  }

  private def replay(dir: File, force: Boolean): Outcome = {
    val buffer = new MemBuffer
    val hwm = mutable.Map.empty[String, Long]
    val recoveries = mutable.ArrayBuffer.empty[Wal.WalRecovery]
    try {
      val r = Wal.replay(dir, buffer,
        m => { buffer.drainTable(m.value, m.measurement); () },
        (sink, bid, _) => hwm(sink) = math.max(hwm.getOrElse(sink, -1L), bid),
        force, recoveries += _)
      Outcome(Right((r.highest, r.segments, r.records)), bufferRows(buffer),
        hwm.toMap, recoveries.toSeq, files(dir))
    } catch {
      case e: Exception =>
        Outcome(Left((e.getClass.getName, e.getMessage)), Map.empty,
          Map.empty, Nil, files(dir))
    }
  }

  private val genStr: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    3 -> Gen.alphaNumStr.map(_.take(6)),
    3 -> Gen.listOf(Gen.oneOf("é", "ß", "世界", "→", "😀", "é",
      "\u0000", "ÿ", "a", " ")).map(_.take(5).mkString))

  private val genTags: Gen[Map[String, TagValue]] = for {
    n <- Gen.choose(0, 6)
    keys <- Gen.listOfN(n, Gen.oneOf(Gen.const(""), Gen.const("host"),
      Gen.const("région"), genStr))
    vals <- Gen.listOfN(n, Gen.oneOf(genStr.map(TagString.apply),
      Gen.oneOf(Gen.long, Gen.const(0L), Gen.const(-1L))
        .map(TagNumber.apply)))
  } yield keys.zip(vals).toMap

  private val DayUs = 86400L * 1000000L

  private val genRow: Gen[WriteRequest] = for {
    ns <- Gen.oneOf(Gen.const("ns"), Gen.const("名前"), Gen.const(""), genStr)
    table <- Gen.oneOf("t", "cpu", "Ünï")
    value <- genStr
    tags <- genTags
    ts <- Gen.choose(-3 * DayUs, 3 * DayUs)
  } yield WriteRequest(ns, table, value, tags, ts)

  private val genSink = Gen.oneOf("s0", "s1")
  private val genQid = Gen.oneOf("", "q1", "q2")

  /** One WAL append: plain rows, a seal marker, a stray bracket record,
    * or a whole bracket.
    */
  private val genAppend: Gen[Seq[WriteRequest]] = Gen.frequency(
    6 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, genRow)),
    1 -> Gen.zip(Gen.oneOf("ns", "名前", ""), Gen.oneOf("t", "cpu", "Ünï"))
      .map { case (ns, t) => Seq(SealMarker(ns, t)) },
    2 -> Gen.zip(genSink, Gen.choose(0L, 3L), genQid, Gen.choose(0, 3))
      .map { case (s, id, q, kind) =>
        Seq(kind match {
          case 0 => StreamBatch.begin(s, id, q)
          case 1 => StreamBatch.commit(s, id, q)
          case _ => StreamBatch.hwm(s, id, q)
        })
      },
    3 -> (for {
      s <- genSink
      id <- Gen.choose(0L, 5L)
      q <- genQid
      rows <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, genRow))
    } yield (StreamBatch.begin(s, id, q) +: rows) :+
      StreamBatch.commit(s, id, q)))

  /** (max segment size, appends, damage, force): damage 0 leaves the
    * files alone, 1 truncates a segment, 2 changes one byte of one.
    */
  private val genCase = for {
    maxSeg <- Gen.choose(40L, 700L)
    appends <- Gen.choose(1, 30).flatMap(Gen.listOfN(_, genAppend))
    damage <- Gen.choose(0, 2)
    force <- Gen.oneOf(true, false)
  } yield (maxSeg, appends, damage, force)

  /** Writes `appends` into segments of `maxSeg` bytes, damages one
    * segment (`damage` 1 truncates it, 2 changes one byte), and checks
    * replay against the model. True when the model expects a failure.
    */
  private def check(seed: Int, maxSeg: Long, appends: Seq[Seq[WriteRequest]],
      damage: Int, force: Boolean): Boolean = {
    val dir = Files.createTempDirectory("wal-decode").toFile
    val wal = new Wal(dir, 0, maxSeg)
    appends.foreach(wal.writeAll)
    wal.close()
    val rnd = new scala.util.Random(seed)
    val segs = segments(dir)
    val f = segs(rnd.nextInt(segs.size))._2
    val raf = new java.io.RandomAccessFile(f, "rw")
    try damage match {
      case 1 => raf.setLength(rnd.nextInt(raf.length().toInt + 1).toLong)
      case 2 =>
        val pos = rnd.nextInt(raf.length().toInt).toLong
        raf.seek(pos)
        val b = raf.readByte()
        raf.seek(pos)
        raf.writeByte(b ^ (1 + rnd.nextInt(255)))
      case _ =>
    } finally raf.close()
    val want = model(dir, force)
    val got = replay(dir, force)
    assert(got == want, s"seed $seed (damage $damage in ${f.getName}, " +
      s"force $force)")
    want.result.isLeft
  }

  test("property: replay decodes, recovers and fails exactly like the " +
    "stream decoder's model, over random segments, truncations and " +
    "changed bytes") {
    var damaged, failed = 0
    (1 to 300).foreach { seed =>
      val (maxSeg, appends, damage, force) =
        genCase.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      if (check(seed, maxSeg, appends, damage, force)) failed += 1
      if (damage > 0) damaged += 1
    }
    // the cases reach both the recovering and the failing paths
    assert(damaged > 100 && failed > 10, s"$damaged damaged, $failed failed")
  }

  test("frames that straddle replay's read window or outgrow it decode " +
    "and recover like the model") {
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // mostly small values, some of hundreds of KiB, a few past 1 MiB
      val appends = (0 until 60).map { i =>
        val n = rnd.nextInt(10) match {
          case 0 => (1 << 20) + rnd.nextInt(3 << 19)
          case 1 | 2 => rnd.nextInt(300 << 10)
          case _ => rnd.nextInt(200)
        }
        val value = new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
        Seq(WriteRequest("ns", "t", value, Map("k" -> TagString("é")),
          i.toLong))
      }
      check(seed, 3L << 20, appends, rnd.nextInt(3), rnd.nextBoolean())
    }
  }
}
