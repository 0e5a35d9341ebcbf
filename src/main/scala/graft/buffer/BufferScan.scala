package graft.buffer

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.TreeMap

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark scan over buffer snapshots: each input partition is a run of
  * chunk slices, and each task builds Catalyst rows straight from its
  * own slices. The frame is built from chunk references alone, so its
  * cost does not grow with the row count; rows are only touched by
  * the tasks (and by task serialization, which writes just the rows
  * `[0, len)` of each slice in a compact encoding).
  */
object BufferScan {
  /** Rows per input partition: one full chunk. Rows of three short
    * tags and a short value encode to ~11 bytes, so such a task stays
    * below Spark's 1000 KiB task-size warning.
    */
  val SplitRows: Int = Measurements.MaxChunk

  /** Fixed non-nullable `timestamp`/`value` columns, then one
    * nullable string column per tag key carried by any row, sorted
    * (reference lynx.rs:93-134 infers the same from the rows).
    */
  def schema(parts: TreeMap[String, MeasurementsView]): StructType = {
    val tagKeys = parts.valuesIterator.flatMap(_.tagKeys).toSeq.distinct.sorted
    StructType(
      StructField("timestamp", TimestampType, nullable = false) +:
      StructField("value", StringType, nullable = false) +:
      tagKeys.map(k => StructField(k, StringType, nullable = true)))
  }

  /** The DataFrame over `parts`. `splitPerDay` puts every day's rows
    * in one input partition (packing small days together), so a
    * partitioned write of the frame yields one file per day.
    */
  def frame(spark: SparkSession, parts: TreeMap[String, MeasurementsView],
      splitPerDay: Boolean = false): DataFrame = {
    val sch = schema(parts)
    val tags = sch.fieldNames.drop(2)
    val units: Iterator[Seq[Piece]] = parts.valuesIterator.flatMap { v =>
      val cols = tags.map(t => v.keys.indexOf(t))
      val pieces = v.slices.map(s => Piece(s, cols, v.dict))
      if (splitPerDay) Iterator.single(pieces) else pieces.iterator.map(Seq(_))
    }
    // greedy packing of consecutive units up to SplitRows rows
    val splits = Vector.newBuilder[Array[Piece]]
    var cur = Vector.empty[Piece]
    var curRows = 0L
    units.foreach { u =>
      val n = u.iterator.map(_.slice.len.toLong).sum
      if (cur.nonEmpty && curRows + n > SplitRows) {
        splits += cur.toArray
        cur = Vector.empty
        curRows = 0L
      }
      cur ++= u
      curRows += n
    }
    if (cur.nonEmpty) splits += cur.toArray
    val built = splits.result()
    val rdd = new BufferScanRDD(spark.sparkContext,
      built.zipWithIndex.map { case (ps, i) =>
        new BufferSplit(i, ps, tags.length): Partition
      }.toArray)
    GraftSqlBridge.ofInternalRows(spark, rdd, sch,
      parts.valuesIterator.map(_.size.toLong).sum)
  }

  /** A slice plus, per output tag column, the view's key number for
    * it (-1: the view never saw that key) and the view's dictionary.
    */
  private[buffer] final case class Piece(slice: ChunkSlice,
      cols: Array[Int], dict: DictView)

  /** The decoded rows of one split: `dict` is the split's local
    * dictionary, `rows` the row records — per row a zigzag-varint
    * micros delta, the value as varint length + UTF-8, then one varint
    * per tag column (local code + 1; 0 = NULL).
    */
  private[buffer] final class Encoded(val n: Int,
      val dict: Array[UTF8String], val rows: Array[Byte])

  /** Growable byte array with varint writes. */
  private[buffer] final class Bytes(initial: Int) {
    var buf = new Array[Byte](math.max(16, initial))
    var len = 0
    private def ensure(k: Int): Unit =
      if (len + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + k))
    def varint(x: Long): Unit = {
      ensure(10)
      var v = x
      while ((v & ~0x7fL) != 0L) {
        buf(len) = ((v & 0x7f) | 0x80).toByte
        len += 1
        v >>>= 7
      }
      buf(len) = v.toByte
      len += 1
    }
    def raw(b: Array[Byte], n: Int): Unit = {
      ensure(n)
      System.arraycopy(b, 0, buf, len, n)
      len += n
    }
    def bytes(b: Array[Byte]): Unit = {
      varint(b.length)
      raw(b, b.length)
    }
  }

  /** Reads varints from `buf` at `pos`. */
  private final class Cursor(val buf: Array[Byte], var pos: Int) {
    def varint(): Long = {
      var shift = 0
      var r = 0L
      var b = 0
      while ({ b = buf(pos); pos += 1; (b & 0x80) != 0 }) {
        r |= (b & 0x7fL) << shift
        shift += 7
      }
      r | (b.toLong << shift)
    }
  }

  /** Encodes the rows `[0, len)` of every piece into a header (row
    * count + local dictionary) and the row records.
    */
  private[buffer] def encode(pieces: Array[Piece], nCols: Int): (Bytes, Bytes) = {
    val n = pieces.iterator.map(_.slice.len).sum
    val rows = new Bytes(n * (8 + nCols))
    val localDict = new Bytes(256)
    var localSize = 0
    // per-dictionary remap from global code to local code + 1 (0 = unseen)
    val remaps = new java.util.IdentityHashMap[DictView, Array[Int]]
    var prev = 0L
    pieces.foreach { p =>
      val s = p.slice
      var remap = remaps.get(p.dict)
      if (remap == null) {
        remap = new Array[Int](p.dict.size)
        remaps.put(p.dict, remap)
      }
      val cols = p.cols.map(k => if (k < 0) null else s.codeColumn(k))
      var i = 0
      while (i < s.len) {
        val m = s.micros(i)
        val d = m - prev
        rows.varint((d << 1) ^ (d >> 63))
        prev = m
        rows.bytes(s.values(i).getBytes(UTF_8))
        var c = 0
        while (c < nCols) {
          val col = cols(c)
          val code = if (col == null) -1 else col(i)
          if (code < 0) rows.varint(0)
          else {
            if (remap(code) == 0) {
              localDict.bytes(p.dict.rendered(code).getBytes(UTF_8))
              localSize += 1
              remap(code) = localSize
            }
            rows.varint(remap(code))
          }
          c += 1
        }
        i += 1
      }
    }
    val head = new Bytes(localDict.len + 16)
    head.varint(n)
    head.varint(localSize)
    head.raw(localDict.buf, localDict.len)
    (head, rows)
  }

  private[buffer] def decode(head: Array[Byte], rows: Array[Byte]): Encoded = {
    val h = new Cursor(head, 0)
    val n = h.varint().toInt
    val dict = Array.fill(h.varint().toInt) {
      val len = h.varint().toInt
      val u = UTF8String.fromBytes(head, h.pos, len)
      h.pos += len
      u
    }
    new Encoded(n, dict, rows)
  }

  /** Iterates the decoded rows, reusing one mutable row (the scan
    * node projects every row to an UnsafeRow before passing it on).
    */
  private[buffer] def rowIterator(e: Encoded, nCols: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val row = new SpecificInternalRow(
        Seq(TimestampType, StringType) ++ Seq.fill(nCols)(StringType))
      private val cur = new Cursor(e.rows, 0)
      private var i = 0
      private var micros = 0L
      def hasNext: Boolean = i < e.n
      def next(): InternalRow = {
        if (i >= e.n) throw new NoSuchElementException
        val z = cur.varint()
        micros += (z >>> 1) ^ -(z & 1)
        row.setLong(0, micros)
        val len = cur.varint().toInt
        row.update(1, UTF8String.fromBytes(cur.buf, cur.pos, len))
        cur.pos += len
        var c = 0
        while (c < nCols) {
          val code = cur.varint().toInt
          if (code == 0) row.setNullAt(2 + c) else row.update(2 + c, e.dict(code - 1))
          c += 1
        }
        i += 1
        row
      }
    }
}

/** One input partition of a [[BufferScanRDD]]. Where it is built it
  * holds the snapshot's chunk slices; serialization writes only their
  * rows `[0, len)`, encoded, and the task side keeps the decoded form.
  */
private[buffer] final class BufferSplit(val index: Int,
    @transient private val pieces: Array[BufferScan.Piece],
    private val nCols: Int) extends Partition {
  @transient private var decoded: BufferScan.Encoded = _

  def rows: Iterator[InternalRow] = {
    // a split computed where it was built (never serialized) decodes
    // its own encoding, so both paths read the same bytes
    if (decoded == null) {
      val (h, r) = BufferScan.encode(pieces, nCols)
      decoded = BufferScan.decode(h.buf, r.buf)
    }
    BufferScan.rowIterator(decoded, nCols)
  }

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val (h, r) = BufferScan.encode(pieces, nCols)
    out.writeInt(h.len)
    out.write(h.buf, 0, h.len)
    out.writeInt(r.len)
    out.write(r.buf, 0, r.len)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    val h = new Array[Byte](in.readInt())
    in.readFully(h)
    val r = new Array[Byte](in.readInt())
    in.readFully(r)
    decoded = BufferScan.decode(h, r)
  }
}

/** The RDD behind a buffer frame. Its splits are transient: the task
  * binary carries none of them, each task only its own.
  */
private[buffer] final class BufferScanRDD(sc: SparkContext,
    @transient private val splits: Array[Partition])
    extends RDD[InternalRow](sc, Nil) {
  override protected def getPartitions: Array[Partition] = splits
  override def compute(split: Partition, context: TaskContext)
      : Iterator[InternalRow] =
    split.asInstanceOf[BufferSplit].rows
}
