package graft.buffer

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.immutable.TreeMap
import scala.collection.mutable

import graft.core.{TagValue, WriteRequest}

/** Append-only dictionary of one table's tag values: code `i` is the
  * i-th distinct typed value, kept with its query-time rendering
  * (rendered once, when first seen). Entries never change once
  * written, so a view of `[0, size)` over the current arrays stays
  * valid after later growth (growth copies into new arrays).
  */
private[buffer] final class TagDict {
  private val index = new java.util.HashMap[TagValue, Integer]
  private var typed = new Array[TagValue](16)
  private var rendered = new Array[String](16)
  private var size = 0

  def code(v: TagValue): Int = {
    val c = index.get(v)
    if (c != null) c.intValue
    else {
      if (size == typed.length) {
        typed = java.util.Arrays.copyOf(typed, size * 2)
        rendered = java.util.Arrays.copyOf(rendered, size * 2)
      }
      typed(size) = v
      rendered(size) = v.render
      index.put(v, size)
      size += 1
      size - 1
    }
  }

  def view: DictView = new DictView(typed, rendered, size)
}

/** The first `size` entries of a [[TagDict]] at snapshot time. */
final class DictView private[buffer] (
    private[graft] val typed: Array[TagValue],
    private[graft] val rendered: Array[String],
    private[graft] val size: Int)

/** Fixed-capacity column chunk: timestamps, values and one code
  * column per tag key (indexed by the table's key number; null until
  * the key first occurs in this chunk, then pre-filled with -1 =
  * NULL). Rows are only ever appended, so `[0, len)` never changes
  * once published.
  */
private[buffer] final class Chunk(val capacity: Int) {
  val micros = new Array[Long](capacity)
  val values = new Array[String](capacity)
  var codes: Array[Array[Int]] = new Array[Array[Int]](0)
  var len = 0

  def codesFor(key: Int): Array[Int] = {
    if (key >= codes.length)
      codes = java.util.Arrays.copyOf(codes, math.max(key + 1, codes.length * 2))
    var col = codes(key)
    if (col == null) {
      col = new Array[Int](capacity)
      java.util.Arrays.fill(col, -1)
      codes(key) = col
    }
    col
  }

  def slice: ChunkSlice = new ChunkSlice(micros, values, codes.clone(), len)
}

/** Rows `[0, len)` of a chunk: references to its arrays, no copy.
  * `codes` is a copy of the chunk's (small) per-key array-of-arrays
  * taken with the length, so a key first seen after the snapshot is
  * absent here.
  */
final class ChunkSlice private[buffer] (
    private[graft] val micros: Array[Long],
    private[graft] val values: Array[String],
    private[graft] val codes: Array[Array[Int]],
    private[graft] val len: Int) {
  private[graft] def codeColumn(key: Int): Array[Int] =
    if (key < codes.length) codes(key) else null
}

/** One table's buffered state: its tag keys (numbered in order of
  * first appearance), its value dictionary and its day partitions.
  */
private[buffer] final class TableBuf {
  val dict = new TagDict
  private val keyIndex = new java.util.HashMap[String, Integer]
  private var keys = new Array[String](8)
  private var nKeys = 0
  val days = mutable.TreeMap.empty[String, Measurements]
  var rows = 0

  def keyOf(k: String): Int = {
    val i = keyIndex.get(k)
    if (i != null) i.intValue
    else {
      if (nKeys == keys.length) keys = java.util.Arrays.copyOf(keys, nKeys * 2)
      keys(nKeys) = k
      keyIndex.put(k, nKeys)
      nKeys += 1
      nKeys - 1
    }
  }

  /** Views of every day partition, sharing one key list and one
    * dictionary view. Caller holds the buffer lock.
    */
  def views: TreeMap[String, MeasurementsView] = {
    val ks = java.util.Arrays.copyOf(keys, nKeys)
    val d = dict.view
    TreeMap.from(days.iterator.map { case (day, m) => day -> m.view(ks, d) })
  }
}

/** Column chunks of one (table, day) partition (reference
  * lynx.rs:21-26 keeps parallel vectors). Chunk capacities grow
  * geometrically from [[Measurements.MinChunk]] to
  * [[Measurements.MaxChunk]] rows, so a small partition stays small
  * and an append never copies rows.
  */
final class Measurements private[buffer] (table: TableBuf) {
  private val chunks = mutable.ArrayBuffer.empty[Chunk]
  private var tail: Chunk = null

  def append(w: WriteRequest): Unit = {
    if (tail == null || tail.len == tail.capacity) {
      tail = new Chunk(math.min(Measurements.MaxChunk,
        Measurements.MinChunk << math.min(chunks.size, 16)))
      chunks += tail
    }
    val c = tail
    val i = c.len
    c.micros(i) = w.timestamp
    c.values(i) = w.value
    w.metadata.foreachEntry((k, v) =>
      c.codesFor(table.keyOf(k))(i) = table.dict.code(v))
    c.len = i + 1
  }

  private[buffer] def view(keys: Array[String], dict: DictView)
      : MeasurementsView =
    new MeasurementsView(chunks.iterator.map(_.slice).toVector, keys, dict)
}

object Measurements {
  val MinChunk = 256
  val MaxChunk = 65536
}

/** Immutable snapshot of one day partition: chunk references plus
  * the lengths published when it was taken — no rows are copied, and
  * later appends (which only write past those lengths) never show.
  * `timestamps`/`values`/`metadata` materialize row vectors on demand
  * for callers that want rows rather than a scan.
  */
final class MeasurementsView private[graft] (
    private[graft] val slices: Vector[ChunkSlice],
    private[graft] val keys: Array[String],
    private[graft] val dict: DictView) {
  def size: Int = slices.iterator.map(_.len).sum

  /** Tag keys carried by at least one row of this view. */
  def tagKeys: Seq[String] =
    keys.indices.filter(k => slices.exists(_.codeColumn(k) != null))
      .map(keys(_))

  lazy val timestamps: Vector[Long] =
    slices.flatMap(s => s.micros.iterator.take(s.len))
  lazy val values: Vector[String] =
    slices.flatMap(s => s.values.iterator.take(s.len))
  lazy val metadata: Vector[Map[String, TagValue]] =
    slices.flatMap { s =>
      Iterator.range(0, s.len).map { i =>
        keys.indices.iterator.flatMap { k =>
          val col = s.codeColumn(k)
          if (col == null || col(i) < 0) None
          else Some(keys(k) -> dict.typed(col(i)))
        }.toMap
      }
    }
}

object PartitionKey {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  /** UTC day key from a microsecond timestamp (reference buffer.rs:11,
    * 23-27; daily granularity is fixed, README.md:11).
    */
  def fromMicros(micros: Long): String = {
    val instant = Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    LocalDate.ofInstant(instant, ZoneOffset.UTC).format(fmt)
  }
}

/** In-memory buffer: namespace → table → day partition → column
  * chunks (reference buffer.rs:38-42). A single lock guards the
  * hierarchy, like the reference's `Arc<Mutex<…>>`. Appends write past
  * each chunk's published length under the lock; a snapshot
  * (reference buffer.rs:110-115) takes chunk references plus those
  * lengths under the lock, so it copies no rows, costs the same at any
  * row count, and never sees in-flight appends.
  */
final class MemBuffer {
  private val root =
    mutable.TreeMap.empty[String, mutable.TreeMap[String, TableBuf]]
  private val lock = new Object

  // Per-(ns, table) mutation counter: strictly increases on every
  // insert and drain, so any cache keyed on (revision, tier version)
  // can never serve stale buffered rows (see LynxEngine's result
  // cache). Read it under the same engine lock as the snapshot.
  private val revs = mutable.Map.empty[(String, String), Long]

  def revision(namespace: String, table: String): Long =
    lock.synchronized(revs.getOrElse((namespace, table), 0L))

  def insert(w: WriteRequest): Unit = insertAll(w :: Nil)

  /** The one append path: ONE lock hold for the whole batch, the
    * (ns, table, day) partition resolved once per run of
    * same-destination rows (a batch body is almost always one table,
    * one or two days), and the micros→day-string formatting memoized
    * per distinct epoch day instead of paid per row. Row order within
    * every partition is exactly ws order, and per-(ns, table)
    * revisions advance by each run's row count — the strict
    * monotonicity the MVCC result cache needs.
    */
  def insertAll(ws: Seq[WriteRequest]): Unit =
    if (ws.nonEmpty) lock.synchronized {
      val dayMemo = mutable.LongMap.empty[String]
      var lastNs: String = null
      var lastTable: String = null
      var lastDay: String = null
      var lastTb: TableBuf = null
      var lastPart: Measurements = null
      var run = 0
      def endRun(): Unit = if (run > 0) {
        val key = (lastNs, lastTable)
        revs(key) = revs.getOrElse(key, 0L) + run
        lastTb.rows += run
        run = 0
      }
      ws.foreach { w =>
        val epochDay = Math.floorDiv(w.timestamp, 86400000000L)
        val day = dayMemo.getOrElseUpdate(epochDay,
          PartitionKey.fromMicros(w.timestamp))
        // day strings come from the memo, so `ne` is enough there
        if (lastPart == null || w.namespace != lastNs ||
            w.measurement != lastTable || (day ne lastDay)) {
          if (w.namespace != lastNs || w.measurement != lastTable) {
            endRun()
            lastTb = root.getOrElseUpdate(w.namespace, mutable.TreeMap.empty)
              .getOrElseUpdate(w.measurement, new TableBuf)
            lastNs = w.namespace
            lastTable = w.measurement
          }
          lastPart = lastTb.days.getOrElseUpdate(day, new Measurements(lastTb))
          lastDay = day
        }
        lastPart.append(w)
        run += 1
      }
      endRun()
    }

  /** Snapshot of all tables of a namespace (None if unknown —
    * surfaces as HTTP 404, reference lynx.rs:144-148).
    */
  def tables(namespace: String)
      : Option[TreeMap[String, TreeMap[String, MeasurementsView]]] =
    lock.synchronized {
      root.get(namespace).map(ns =>
        TreeMap.from(ns.iterator.map { case (t, tb) => t -> tb.views }))
    }

  /** Snapshot of just the named tables of a namespace (the ones a
    * query references); None if the namespace is unknown.
    */
  def tables(namespace: String, names: Iterable[String])
      : Option[TreeMap[String, TreeMap[String, MeasurementsView]]] =
    lock.synchronized {
      root.get(namespace).map(ns =>
        TreeMap.from(names.iterator.flatMap(t =>
          ns.get(t).map(tb => t -> tb.views))))
    }

  /** Drain a table's partitions (used by the parquet tier when sealing
    * buffered data to columnar storage; not part of the reference,
    * which never evicts — SURVEY.md §3.3).
    */
  def drainTable(namespace: String, table: String)
      : Option[TreeMap[String, MeasurementsView]] = lock.synchronized {
    root.get(namespace).flatMap { ns =>
      ns.remove(table).map { tb =>
        val key = (namespace, table)
        revs(key) = revs.getOrElse(key, 0L) + 1
        tb.views
      }
    }
  }

  /** True when no rows are buffered (empty namespaces left by drains
    * count as empty) — the WAL-truncation precondition.
    */
  def isEmpty: Boolean = lock.synchronized {
    root.valuesIterator.flatMap(_.valuesIterator).forall(_.rows == 0)
  }

  /** Buffered row count per (namespace, table) — used by the engine
    * to rebuild its auto-seal counters after WAL replay.
    */
  def rowCounts: Map[(String, String), Int] = lock.synchronized {
    root.iterator.flatMap { case (ns, tables) =>
      tables.iterator.map { case (t, tb) => (ns, t) -> tb.rows }
    }.toMap
  }

  // Introspection (reference buffer.rs:120-144).
  def partitions(namespace: String, table: String): Int = lock.synchronized {
    root.get(namespace).flatMap(_.get(table)).map(_.days.size).getOrElse(0)
  }
  def namespaceCount: Int = lock.synchronized(root.size)
  def tableCount(namespace: String): Int =
    lock.synchronized(root.get(namespace).map(_.size).getOrElse(0))
  def containsNamespace(namespace: String): Boolean =
    lock.synchronized(root.contains(namespace))
}
