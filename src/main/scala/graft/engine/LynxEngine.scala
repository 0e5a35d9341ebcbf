package graft.engine

import java.io.File
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias,
  UnresolvedAttribute, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Cast,
  EqualTo, EvalMode, Expression, GreaterThan, GreaterThanOrEqual, In,
  LessThan, LessThanOrEqual, Literal, Or, SubqueryExpression,
  UnresolvedWindowExpression, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Filter, Join,
  LogicalPlan, Project, Sort, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.types._

import graft.buffer.{BufferScan, MemBuffer, MeasurementsView, PartitionKey}
import graft.core.WriteRequest
import graft.engine.BloomStore.{Bounds, Interval}
import graft.tier.ParquetTier
import graft.wal.Wal

/** Query result: schema + rows, ready for a sink adapter. */
final case class QueryResult(schema: StructType, rows: Seq[Row])

/** The engine: Spark-native rebuild of the reference's `Lynx` struct
  * (reference lynx.rs:28-150).
  *
  * Write path (reference lynx.rs:63-68): WAL append FIRST — "Data MUST
  * be appended to the WAL before making its way into the in-memory
  * buffer" (lynx.rs:32-33) — then buffer insert.
  *
  * Query path (reference lynx.rs:70-148): gatekeeper-parse the SQL,
  * harvest what its WHERE clauses prove about each table in one walk
  * ([[LynxEngine.pruning]]), snapshot the buffered tables it
  * references (chunk references plus published lengths — no rows are
  * copied under the locks) and pin their tier versions, scan each
  * snapshot as a DataFrame of chunk-sized input partitions with the
  * dynamically inferred schema, union it with a read of the pinned
  * tier files its pruning keeps, bind each frame into the parsed plan
  * in place of its table reference ([[LynxEngine.bindTables]]) and run
  * that plan on the engine's one query session — Catalyst plays the
  * role DataFusion plays behind lynx.rs:141, which hands DataFusion one
  * Arrow batch.
  *
  * Improvements over the reference, by design (SURVEY.md §3.4):
  *  - a query's tables live only in its own plan, never in a shared
  *    catalog, fixing the shared-SessionContext race between
  *    concurrent queries on the same table name;
  *  - every table referenced by the query is bound (multi-table
  *    joins work instead of depending on stale registrations);
  *  - CTEs and derived tables pass the gatekeeper;
  *  - tag columns appear in deterministic sorted order (the reference
  *    iterates a HashSet — nondeterministic across runs, lynx.rs:110).
  *
  * Startup (reference lynx.rs:45-53): [[LynxEngine.recover]] rebuilds
  * the buffer, segment ids, stream high-water marks and tail repairs
  * from the WAL without Spark. The constructor runs it unless handed
  * its result as `recovered`, which lets `LynxServerMain` replay while
  * Spark starts.
  *
  * At scale the buffer tiers to day-partitioned parquet via
  * [[graft.tier.ParquetTier]]; queries union the sealed segments with
  * the in-RAM tail and skip the day partitions and the files whose
  * blooms/zones exclude the predicate, which the reference always
  * scans (SURVEY.md §4.1).
  */
class LynxEngine(
    val spark: SparkSession,
    walDir: File,
    maxSegmentSize: Long = 50L * 1024 * 1024,
    tier: Option[ParquetTier] = None,
    maxBufferedRows: Int = Int.MaxValue,
    maxResultRows: Int = Int.MaxValue,
    walGroupCommitMillis: Long = 0L,
    walFsync: Boolean = false,
    resultCacheEntries: Int = 64,
    autoCompactFileThreshold: Int = 0,
    autoBloomColumns: Seq[String] = Nil,
    annRebuildThreshold: Option[Double] = None,
    walForceTailTruncate: Boolean = false,
    annPlacement: Option[(String, Seq[(String, String)])] = None,
    recovered: Option[LynxEngine.Recovered] = None) {

  // The state replay rebuilt from the WAL directory: recovered here
  // unless the caller already ran LynxEngine.recover on this directory
  // and tier (LynxServerMain replays while Spark starts).
  private val recovery: LynxEngine.Recovered = recovered match {
    case Some(r) =>
      require(r.walDir.getAbsolutePath == walDir.getAbsolutePath,
        s"recovered ${r.walDir}, not $walDir")
      r
    case None => LynxEngine.recover(walDir, tier, walForceTailTruncate)
  }
  val buffer: MemBuffer = recovery.buffer

  // The one session every query of this engine runs on. A bare
  // newSession starts from the context conf. Nothing changes it after
  // this block: the gate rejects every command, so no SET, view or
  // cache statement reaches it.
  private val querySession: SparkSession = {
    val s = spark.newSession()
    // no file-path relations for untrusted SQL (SELECT * FROM
    // parquet.`/path` would read arbitrary host files)
    s.conf.set("spark.sql.runSQLOnFiles", "false")
    // no per-session artifact classloader: with one, tasks run under a
    // classloader of their own, and the codegen cache (keyed on the
    // classloader) compiles the classes anew. The SQL surface cannot
    // add artifacts anyway.
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    // the native graft functions, also for engines hosted on a session
    // built without GraftExtensions
    graft.functions.GraftFunctions.register(s)
    s
  }

  // MVCC-keyed result cache: key = (ns, sql, per-referenced-table
  // (buffer revision, tier manifest version)). Revisions strictly
  // increase on every write/seal and the manifest version on every
  // seal/compaction, so a stale entry can never be served — no TTLs,
  // no explicit invalidation hooks. Bounded LRU of small results only
  // (the cap keeps a cached SELECT * from pinning heap).
  private val MaxCachedResultRows = 10000
  private[graft] val resultCacheHits =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val resultCacheMisses =
    new java.util.concurrent.atomic.AtomicLong
  /** (hits, misses) of the tier's per-version schema cache. */
  private[graft] def tierSchemaCacheCounts: (Long, Long) =
    tier.fold((0L, 0L))(t =>
      (t.schemaCacheHits.get, t.schemaCacheMisses.get))
  private val resultCache =
    new java.util.LinkedHashMap[AnyRef, QueryResult](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, QueryResult]): Boolean =
        size > resultCacheEntries
    }
  // Per-sink streaming high-water marks, DERIVED FROM THE WAL: replay
  // surfaces the highest committed stream-batch id per sink
  // (graft.core.StreamBatch brackets + hwm checkpoint records), and
  // writeStreamBatch advances it in the same writeLock hold that made
  // the batch durable. Guarded by writeLock after construction.
  private val streamHwm =
    scala.collection.mutable.Map.empty[String, Long] ++= recovery.streamHwm
  // Per-sink streaming-QUERY identity of the lane's committed
  // brackets (StreamBatch.QidTag; "" never stored). Replay surfaces
  // it in WAL order (last committed bracket wins); writeStreamBatch
  // records the writer's id. A batch at-or-below the hwm from a
  // DIFFERENT query id is a checkpoint RESET — fail loudly, never
  // silently skip (the one silent-data-loss path round 12 documented).
  // Guarded by writeLock after construction.
  private val streamQid =
    scala.collection.mutable.Map.empty[String, String] ++= recovery.streamQid
  /** Tail repairs replay performed at startup (torn-tail truncation,
    * forced frame-corrupt recovery, zombie-bracket removal) — surfaced
    * in /metrics so an operator sees data-affecting startup events
    * without grepping stderr.
    */
  def walRecoveries: Seq[Wal.WalRecovery] = recovery.recoveries
  /** Startup replay's wall time (ms) and the WAL frames it decoded. */
  def walReplayMs: Long = recovery.replayMs
  def walReplayedRecords: Long = recovery.records
  val wal = new Wal(walDir, recovery.highestSegment + 1, maxSegmentSize,
    groupCommitMillis = walGroupCommitMillis, fsyncOnFlush = walFsync)
  def replayedSegments: Seq[Long] = recovery.segments

  /** Incremental per-segment rollup maintenance over tiered tables —
    * see [[RollupStore]]; present only when a tier is configured
    * (the RAM tail has no immutable segments to cache against).
    */
  lazy val rollups: Option[RollupStore] =
    tier.map(new RollupStore(spark, _))

  /** Engine-plane IVF ANN serving — see [[AnnStore]]; like rollups,
    * present only when a tier is configured (indexes persist under
    * the tier root).
    */
  lazy val ann: Option[AnnStore] =
    tier.map(new AnnStore(spark, _, annRebuildThreshold,
      placement = annPlacement))

  /** Per-file value blooms for equality-predicate file skipping —
    * see [[BloomStore]]; tier-only like rollups/ann. Once a column is
    * indexed (`valueBlooms.get.index(ns, table, col)`), the query
    * path consults it automatically for `col = 'literal'` conjuncts.
    */
  lazy val valueBlooms: Option[BloomStore] =
    tier.map(new BloomStore(spark, _))

  private val writeLock = new Object
  // Write-FENCED namespaces: every ingest door (row, batch, stream,
  // bulk) refuses them with NamespaceFencedException → HTTP 422 +
  // Retry-After. The fence is the drain barrier of namespace
  // migration (fence → checkpoint → export → import → router flip):
  // it must survive an engine restart mid-migration, or writes would
  // resume on the old owner after the copy and vanish at cutover —
  // so each fence is ALSO a marker file under the WAL dir (non-*.wal
  // names are invisible to replay), loaded here at startup.
  private val fencedNs: scala.collection.mutable.Set[String] = {
    val s = scala.collection.mutable.Set.empty[String]
    Option(walDir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isFile && f.getName.startsWith("fence-"))
        s += java.net.URLDecoder.decode(
          f.getName.stripPrefix("fence-"), "UTF-8")
    }
    s
  }
  private def fenceFile(ns: String) = new File(walDir,
    "fence-" + java.net.URLEncoder.encode(ns, "UTF-8"))

  /** Fence a namespace: all writes to it fail with
    * [[LynxEngine.NamespaceFencedException]] until [[unfence]].
    * Durable across restarts (marker file beside the WAL) AND across
    * power loss: the marker and its directory entry are fsynced
    * before fence() acks — a migration fences, copies, and flips on
    * the strength of this ack, so a fence living only in the page
    * cache could reopen the old owner to writes that then vanish at
    * cutover (the same power-loss class the WAL's fsync rung
    * covers). Reads are unaffected — a fenced namespace still
    * serves queries.
    */
  def fence(namespace: String): Unit = writeLock.synchronized {
    fencedNs += namespace
    val f = fenceFile(namespace)
    val ch = java.nio.channels.FileChannel.open(f.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try ch.force(true) finally ch.close()
    fsyncDir(f.getParentFile)
  }

  /** Lift a namespace's write fence (migration rollback, or operator
    * cleanup of a decommissioned copy). The removal is fsynced too —
    * a resurrected fence after a crash would only refuse writes
    * (safe), but silently flip-flopping state is worse to operate.
    */
  def unfence(namespace: String): Unit = writeLock.synchronized {
    fencedNs -= namespace
    fenceFile(namespace).delete()
    fsyncDir(walDir)
  }

  private def fsyncDir(dir: File): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir.toPath,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () } // non-POSIX FS

  def isFenced(namespace: String): Boolean =
    writeLock.synchronized(fencedNs(namespace))

  /** Caller holds writeLock. */
  private def checkFence(ns: String): Unit =
    if (fencedNs(ns))
      throw new LynxEngine.NamespaceFencedException(ns)
  // RAM-tail row counts per (namespace, table), seeded from the
  // replayed buffer so a restarted engine still honors the threshold
  private val bufferedPerTable = {
    val m = scala.collection.mutable.Map.empty[(String, String), Int]
    m ++= buffer.rowCounts
    m
  }
  // replayed tables may already exceed the threshold — seal them now
  if (tier.isDefined && maxBufferedRows != Int.MaxValue)
    bufferedPerTable.filter(_._2 >= maxBufferedRows).keys.toSeq
      .foreach { case (ns, t) =>
        seal(ns, t)
        bufferedPerTable.remove((ns, t))
      }

  /** Batch ingest: validate EVERY request up-front (any invalid row
    * rejects the whole batch before a single side effect — no partial
    * batches to reconcile), then append all to the WAL with one
    * flush/fsync (Wal.writeAll — the group-commit rung: N records,
    * one durability round-trip) and buffer them. Auto-seal runs once
    * per affected table at the end, not per row.
    */
  def writeBatch(ws: Seq[WriteRequest]): Unit = writeLock.synchronized {
    ws.foreach(w => checkFence(w.namespace))
    validateTags(ws)
    wal.writeAll(ws) // WAL-first invariant (reference lynx.rs:32-33,64)
    buffer.insertAll(ws) // one lock hold + memoized day keys
    autoSealAfter(ws)
  }

  /** Namespace/table names materialize as tier path segments at seal
    * time; a pathy name ("..", "a/b") accepted at ingest would later
    * make the seal throw with the rows already acknowledged — so the
    * ingest doors reject them up front (ParquetTier.safeSeg is the
    * storage-side choke point; this keeps acknowledged rows always
    * sealable). Documented deviation: the RAM-only reference accepts
    * any name (lynx.rs stores them as map keys only).
    */
  private def isStorableName(s: String): Boolean =
    s.nonEmpty && s != "." && s != ".." &&
      !s.contains('/') && !s.contains('\\')

  private def requireStorableName(s: String, what: String): Unit =
    require(isStorableName(s),
      s"$what is not a storable name (path separators and '..' are " +
        s"not allowed): '$s'")

  /** Refuses a batch before anything is logged, with an
    * [[LynxEngine.InvalidWriteException]] naming the first bad row.
    */
  private def validateTags(ws: Seq[WriteRequest]): Unit =
    try ws.foreach { w =>
      // the NUL prefix is the WAL marker class (seal markers, stream
      // brackets, hwm records): a data row carrying it would replay
      // as a marker — poisoning a sink's high-water mark or opening
      // a phantom bracket — so it is rejected at every ingest door
      // (the HTTP layer rejects it too; this guards embedded callers)
      require(!w.namespace.startsWith("\u0000"),
        "reserved namespace")
      requireStorableName(w.namespace, "namespace")
      requireStorableName(w.measurement, "measurement")
      // a `timestamp`/`value` tag would collide in the inferred
      // schema, and a `__lynx_day` tag would be overwritten at seal
      w.metadata.keys.foreach(k => require(
        k != "timestamp" && k != "value" && !k.startsWith("__lynx"),
        s"reserved tag key: $k"))
    } catch {
      case e: IllegalArgumentException =>
        throw new LynxEngine.InvalidWriteException(e.getMessage)
    }

  /** Caller holds writeLock and has already buffered `ws`. A table
    * whose RAM tail reached the threshold is sealed to the
    * day-partitioned tier (the reference keeps everything in RAM
    * forever, SURVEY.md §3.3).
    */
  private def autoSealAfter(ws: Seq[WriteRequest]): Unit =
    if (tier.isDefined && maxBufferedRows != Int.MaxValue) {
      ws.groupBy(w => (w.namespace, w.measurement)).foreach {
        case (key, rows) =>
          val n = bufferedPerTable.getOrElse(key, 0) + rows.size
          if (n >= maxBufferedRows) {
            seal(key._1, key._2)
            bufferedPerTable.remove(key)
          } else bufferedPerTable.update(key, n)
      }
    }

  /** EXACTLY-ONCE streaming ingest: apply micro-batch `batchId` of
    * stream `sinkId` unless the WAL-derived high-water mark proves it
    * already landed. The rows are bracketed between
    * [[graft.core.StreamBatch]] BEGIN/COMMIT markers inside ONE WAL
    * group commit (then force-flushed, so durability precedes the
    * caller's offset commit): replay inserts the rows only when the
    * commit marker survived, so a crash at ANY point either keeps the
    * whole batch (hwm advanced — the re-delivery is a no-op) or none
    * of it (hwm unchanged — the re-delivery applies it fresh). No
    * separate mark file, no window between "applied" and "marked".
    *
    * Returns true when applied, false when the hwm proves `batchId`
    * was already committed. Empty batches still commit their bracket
    * (the hwm must advance, or the source re-delivers forever).
    */
  def writeStreamBatch(sinkId: String, batchId: Long,
      ws: Seq[WriteRequest], queryId: String = ""): Boolean =
    writeLock.synchronized {
      require(sinkId.nonEmpty, "sinkId must be non-empty")
      if (batchId <= streamHwm.getOrElse(sinkId, -1L)) {
        checkStreamReset(sinkId, batchId, queryId)
        false
      } else {
        ws.foreach(w => checkFence(w.namespace))
        validateTags(ws)
        wal.writeAll(
          graft.core.StreamBatch.begin(sinkId, batchId, queryId) +:
            ws :+
            graft.core.StreamBatch.commit(sinkId, batchId, queryId))
        // under group commit writeAll only buffers — force the bracket
        // durable BEFORE advancing the hwm / acking the batch, or a
        // crash could lose rows the streaming checkpoint thinks landed
        wal.flush()
        buffer.insertAll(ws)
        streamHwm(sinkId) = batchId
        if (queryId.nonEmpty) streamQid(sinkId) = queryId
        autoSealAfter(ws)
        true
      }
    }

  /** Caller holds writeLock and has established batchId <= hwm. A
    * batch at-or-below the mark from a DIFFERENT streaming query than
    * the one whose brackets set it means the checkpoint was wiped and
    * recreated at the same path (batch ids restarted at 0 while the
    * WAL kept the lane's mark): Spark is NOT re-delivering — it is
    * replaying the source from scratch. Skipping would silently drop
    * the restarted batches; applying would duplicate already-landed
    * rows. Fail loudly instead — detection degrades gracefully when
    * either id is unknown (pre-qid WALs, callers without a checkpoint
    * identity).
    */
  private def checkStreamReset(sinkId: String, batchId: Long,
      queryId: String): Unit =
    if (queryId.nonEmpty) {
      val laneQid = streamQid.getOrElse(sinkId, "")
      if (laneQid.nonEmpty && laneQid != queryId)
        throw new IllegalStateException(
          s"stream reset detected for sink '$sinkId': batch " +
            s"$batchId is at-or-below the lane's high-water mark " +
            s"${streamHwm.getOrElse(sinkId, -1L)}, but it comes " +
            s"from streaming query '$queryId' while the lane's " +
            s"committed batches came from '$laneQid' — the " +
            "checkpoint was deleted and recreated at the same " +
            "path, so this is a restart-from-scratch, not a " +
            "re-delivery. Skipping would silently drop the " +
            "restarted batches; restart the stream with a fresh " +
            "checkpoint directory (or a new explicit sinkId) " +
            "instead.")
    }

  /** The reset probe behind the sink's cheap already-applied check —
    * same contract as the check inside [[writeStreamBatch]], exposed
    * so the caller's fast path (skip before collecting the batch)
    * cannot skip a reset silently.
    */
  private[graft] def assertNoStreamReset(sinkId: String, batchId: Long,
      queryId: String): Unit = writeLock.synchronized {
    if (batchId <= streamHwm.getOrElse(sinkId, -1L))
      checkStreamReset(sinkId, batchId, queryId)
  }

  /** The lane's recorded streaming-query id; "" before any
    * qid-carrying bracket committed (observability + specs).
    */
  private[graft] def streamQueryId(sinkId: String): String =
    writeLock.synchronized(streamQid.getOrElse(sinkId, ""))

  /** Highest committed stream-batch id for `sinkId`; -1 before the
    * first commit. Derived from the WAL at construction (replay) and
    * advanced under the write lock.
    */
  def streamHighWaterMark(sinkId: String): Long =
    writeLock.synchronized(streamHwm.getOrElse(sinkId, -1L))

  /** Every sink's high-water mark — the /metrics observability face
    * (a stalled stream shows as a mark that stops advancing).
    */
  def streamHighWaterMarks: Map[String, Long] =
    writeLock.synchronized(streamHwm.toMap)

  /** Single-row ingest: the one-element batch of [[writeBatch]] — the
    * same validation, fence check, WAL append and auto-seal.
    */
  def write(w: WriteRequest): Unit = writeBatch(Seq(w))

  /** Seal a table's buffered partitions to the parquet tier (absent
    * in the reference, which keeps all data in RAM forever —
    * SURVEY.md §3.3; this is the 100 TB path). Runs under the write
    * lock — query snapshots also synchronize on it, so a query sees
    * either the pre-seal RAM tail or the post-seal tier, never the
    * in-between.
    *
    * Crash-atomic commit order: stage the parquet (invisible to
    * readers), make the seal durable with a WAL marker carrying the
    * staged file list, then publish. Replay completes a marked-but-
    * unpublished seal (publish is idempotent) and discards markerless
    * staging — so a crash at any point neither loses nor
    * double-counts the sealed rows.
    */
  def seal(namespace: String, table: String): Unit =
    writeLock.synchronized {
      tier.foreach { t =>
        buffer.drainTable(namespace, table).foreach { parts =>
          // one input partition per day: the partitioned write below
          // then stages one file per day, however many chunks it spans
          val df = BufferScan.frame(spark, parts, splitPerDay = true).withColumn(
            ParquetTier.DayCol,
            org.apache.spark.sql.functions.date_format(
              org.apache.spark.sql.functions.col("timestamp"),
              "yyyy-MM-dd"))
          val (stagingId, files) = t.stage(spark, namespace, table, df)
          wal.write(
            graft.core.SealMarker(namespace, table, stagingId, files))
          // under group commit the marker is only buffered — force it
          // durable BEFORE publish, or a crash in between leaves
          // published files with no marker and replay double-counts
          wal.flush()
          t.publish(namespace, table, stagingId, files)
          // every seal appends a file per day; at 100 TB the
          // small-file count, not data volume, becomes the scan
          // bottleneck. With a threshold configured, compact inline
          // once the manifest holds `threshold` files BEYOND
          // compaction's floor of one per day — thresholding on the
          // total would fire on every seal once the table spans that
          // many days (a full rewrite per seal). Amortized one
          // rewrite per `threshold` seals, under the same write lock
          // every compaction already requires; in-flight queries
          // keep reading their pinned pre-compaction manifest.
          if (autoCompactFileThreshold > 0 &&
              t.redundantFileCount(namespace, table) >=
                autoCompactFileThreshold) {
            t.compact(spark, namespace, table)
            // same hygiene as explicit compact(): the rewrite
            // orphaned the originals' index entries — drop them now
            // (amortized: once per `threshold` seals, the same class
            // as the rewrite itself; scoped to THIS table)
            pruneIndexes(namespace, table)
          }
          // keep the configured bloom/zone indexes current: one
          // incremental build over JUST the files this seal (or its
          // inline compaction) published — O(new files), same cost
          // class as the staging write above, so pruning never lags
          // the data it should be pruning
          maintainBloomIndexes(namespace, table)
        }
      }
    }

  /** Executor-side BULK-INGEST lane — the backfill door. The HTTP /
    * streaming write plane is driver-side by design (WAL-first, RAM
    * tail, trigger-bounded batches); loading 100 TB of history
    * through it would serialize the whole corpus through one
    * driver's collect. This lane writes the dataset as
    * day-partitioned parquet DISTRIBUTED (tier staging — the same
    * executor-side write every seal uses), then commits it with ONE
    * WAL seal marker + ONE manifest flip: no row ever touches the
    * driver, the buffer, or the WAL. Visibility is atomic at the new
    * manifest version (time travel sees the pre/post versions), and
    * the crash contract is the seal's: marker-before-publish, replay
    * re-drives an unpublished marker, a markerless staging dir is
    * discarded at startup — so a caller whose ingestDataset returned
    * has durable data, and one that crashed mid-call retries the
    * whole dataset (nothing partial ever becomes visible).
    *
    * `df` must carry `timestamp` (castable to TIMESTAMP) and `value`
    * columns; every other column becomes a string tag (cast), same
    * dynamic-schema rules as the row plane (no `__lynx*` names, no
    * `timestamp`/`value` shadowing — enforced here like
    * validateTags). Rows keep the caller's partitioning: files per
    * day = input partitions that hold that day (repartition by a
    * day expression upstream for fewer, larger files; the auto-
    * compaction threshold also applies, same as seal). Returns the
    * number of data files published.
    */
  def ingestDataset(namespace: String, table: String,
      df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.functions.{col, date_format, expr}
    require(!namespace.startsWith("\u0000"), "reserved namespace")
    requireStorableName(namespace, "namespace")
    requireStorableName(table, "table")
    writeLock.synchronized(checkFence(namespace))
    val t = tier.getOrElse(throw new IllegalStateException(
      "bulk ingest requires a parquet tier"))
    val cols = df.columns
    require(cols.exists(_ == "timestamp") && cols.exists(_ == "value"),
      "bulk-ingest datasets must carry timestamp and value columns")
    val tagCols = cols.filterNot(c => c == "timestamp" || c == "value")
    tagCols.foreach(k => require(!k.startsWith("__lynx"),
      s"reserved tag key: $k"))
    val norm = df.select(
      (expr("try_cast(`timestamp` AS timestamp)").as("timestamp") +:
        col("value").cast("string").as("value") +:
        tagCols.sorted.map(c => col(c).cast("string").as(c))): _*)
      .withColumn(ParquetTier.DayCol,
        date_format(col("timestamp"), "yyyy-MM-dd"))
    // validateTags' fail-loud contract for the bulk lane's VALUES.
    // The normalization is try_cast BY DESIGN: a plain cast is
    // config-dependent — under ANSI it aborts the distributed stage
    // with an opaque SparkDateTimeException naming no rows, and with
    // ANSI off an unparseable timestamp silently becomes NULL and
    // lands in the null __lynx_day partition (invisible to every
    // day-pruned/time-range query but visible to full scans, a row
    // shape the row plane's i64-micros/non-null contract can never
    // produce). try_cast makes the bad rows OBSERVABLE, and this
    // validation count rejects the dataset whole BEFORE any side
    // effect — one extra source pass, never a corrupt commit.
    val bad = norm.filter(col("timestamp").isNull ||
      col("value").isNull).count()
    require(bad == 0,
      s"bulk ingest rejected: $bad row(s) with a null/unparseable " +
        "timestamp or null value — the row plane cannot represent " +
        "them (they would land in the null __lynx_day partition, " +
        "invisible to day-pruned queries); filter or fix them " +
        "before ingestDataset")
    // the heavy distributed write runs OUTSIDE the engine lock:
    // staging is invisible to readers, so concurrent writes/queries
    // proceed; only the metadata commit below serializes
    val (stagingId, files) = t.stage(spark, namespace, table, norm)
    writeLock.synchronized {
      // re-check at the commit point: a fence that arrived during
      // the distributed staging write must still win (the staged
      // files are invisible and cleaned at next startup)
      checkFence(namespace)
      wal.write(graft.core.SealMarker(namespace, table, stagingId,
        files, bulk = true))
      wal.flush() // marker durable BEFORE publish (the seal ordering)
      t.publish(namespace, table, stagingId, files)
      if (autoCompactFileThreshold > 0 &&
          t.redundantFileCount(namespace, table) >=
            autoCompactFileThreshold) {
        t.compact(spark, namespace, table)
        pruneIndexes(namespace, table)
      }
      maintainBloomIndexes(namespace, table)
    }
    files.size
  }

  /** Incrementally (re)index the configured bloom columns for a
    * table whose manifest just changed. ANY failure is logged and
    * swallowed (NonFatal): by the time this runs the rows are already
    * durably committed — a transient IO/Spark error in index
    * maintenance must never fail the write/seal it trails, or a
    * streaming caller would re-deliver an already-landed batch. The
    * index is conservative by design: an unindexed file is simply
    * read, so a skipped build costs a scan, never correctness.
    * (Misconfigured columns — non-string types under the dynamic
    * schema — surface here too, as warnings.)
    */
  private def maintainBloomIndexes(ns: String, table: String): Unit =
    for (bs <- valueBlooms; c <- autoBloomColumns)
      try bs.index(ns, table, c)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bloom-auto] skipping $table.$c: ${e.getMessage}")
      }

  /** Seal every buffered table, then truncate the WAL: once the
    * buffer is empty all closed segments are redundant (their data is
    * in the tier; replaying nothing reproduces the same empty
    * buffer), so they are deleted — bounding the WAL growth the
    * reference never addresses (SURVEY.md §3.3). No-op without a
    * tier.
    */
  def checkpoint(): Unit =
    if (tier.isDefined) {
      // seal table-by-table — each seal is individually atomic and
      // marker-protected — so writes/queries only block per table,
      // not for the whole multi-table flush
      buffer.rowCounts.keys.toSeq.foreach { case (ns, t) => seal(ns, t) }
      writeLock.synchronized {
        bufferedPerTable.filterInPlace((k, _) =>
          buffer.partitions(k._1, k._2) > 0)
        // truncate only if no new writes landed since the seals. The
        // sinks' high-water marks ride as carry-over records: the WAL
        // writes AND FLUSHES them into the fresh segment BEFORE any
        // bracket-carrying old segment is deleted — a crash anywhere
        // leaves either the old brackets (replay re-derives the same
        // marks) or the durable hwm records, never neither.
        if (buffer.isEmpty)
          wal.truncateClosed(streamHwm.toSeq.sortBy(_._1).map {
            case (sink, bid) => graft.core.StreamBatch.hwm(sink, bid,
              streamQid.getOrElse(sink, ""))
          })
      }
    }

  /** Compact the table's tier files (one file per day) while holding
    * the write lock, so no concurrent seal can append files that the
    * rewrite would drop. `clusterBy` sorts rows within each day on the
    * given tag columns so row-group stats prune selective tag
    * predicates (see ParquetTier.compact).
    */
  def compact(namespace: String, table: String,
      clusterBy: Seq[String] = Nil): Unit =
    writeLock.synchronized {
      tier.foreach(_.compact(spark, namespace, table, clusterBy))
      // the compacted files are new to the index; re-cover them now
      // so file skipping has no post-compaction blind window
      maintainBloomIndexes(namespace, table)
      // ...and drop the rewritten originals' entries from the
      // persisted index (memory + jsonl), so the index tracks the
      // manifest instead of accumulating dead files forever
      pruneIndexes(namespace, table)
    }

  /** Expire tier day-partitions older than `beforeDay` (exclusive,
    * "yyyy-MM-dd") under the write lock — no concurrent seal can
    * publish into a manifest the expiry is about to flip. Buffered
    * (unsealed) rows are untouched: retention is a tier policy, and
    * sealing still ages them out on the next pass. Returns files
    * dropped (0 without a tier).
    */
  def expire(namespace: String, table: String, beforeDay: String): Int =
    writeLock.synchronized {
      val dropped =
        tier.map(_.expire(namespace, table, beforeDay)).getOrElse(0)
      // retention GC'd whole day partitions: drop their bloom/zone
      // and rollup partials from the persisted indexes too, or the
      // jsonl grows forever with entries for files that no longer
      // exist (the same hygiene compaction gets)
      if (dropped > 0) pruneIndexes(namespace, table)
      dropped
    }

  /** Post-GC index hygiene: drop bloom/zone and rollup partials for
    * the table's files no longer in its live manifest (memory +
    * persisted jsonl). SCOPED to the table whose manifest changed:
    * the seal path must never stall ingest on a whole-index disk
    * sweep whose useful work is one table's dead entries (the global
    * store.prune() remains for explicit maintenance). Failures are
    * logged, never propagated — pruning is maintenance; a skipped
    * prune costs disk bytes, not correctness (dead entries key files
    * no query will ever list).
    */
  private def pruneIndexes(ns: String, table: String): Unit = {
    for (bs <- valueBlooms)
      try bs.prune(ns, table)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bloom-prune] skipped: ${e.getMessage}") }
    for (rs <- rollups)
      try rs.prune(ns, table)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[rollup-prune] skipped: ${e.getMessage}") }
  }

  /** Published tier manifest versions for a table, oldest first, with
    * file counts — the discovery call behind `version:`-pinned
    * (time-travel) queries. Empty without a tier or before the first
    * seal. Read-only: no write lock (manifest publishes are atomic
    * renames, so a concurrent seal yields either the old or the new
    * list, never a torn one).
    */
  def tierVersions(namespace: String, table: String): Seq[(Long, Int)] =
    tier.map(_.versions(namespace, table)).getOrElse(Nil)

  /** Export a table's pinned manifest version (None = current) as a
    * self-contained snapshot directory (see
    * [[graft.tier.ParquetTier.exportSnapshot]]). Buffered (unsealed)
    * rows are NOT included — a snapshot is of the durable tier; run
    * [[checkpoint]] first when the RAM tail must ride along. No
    * engine lock: the pin makes the copy consistent against
    * concurrent seals/compactions.
    */
  def exportSnapshot(namespace: String, table: String,
      version: Option[Long], dest: File): Int =
    tier.getOrElse(throw new IllegalStateException(
      "snapshot export requires a parquet tier"))
      .exportSnapshot(namespace, table, version, dest)

  /** Import a snapshot directory as (namespace, table) — fresh-table
    * strict, CRC-verified, one atomic manifest flip (see
    * [[graft.tier.ParquetTier.importSnapshot]]). Under the write
    * lock: no concurrent seal may create the table mid-import. The
    * configured bloom/zone indexes are rebuilt over the imported
    * files (derived artifacts travel as data, never as state).
    * Returns the published manifest version.
    */
  def importSnapshot(namespace: String, table: String,
      src: File): Long = writeLock.synchronized {
    val t = tier.getOrElse(throw new IllegalStateException(
      "snapshot import requires a parquet tier"))
    require(buffer.partitions(namespace, table) == 0,
      s"import target $namespace/$table already holds buffered rows")
    val v = t.importSnapshot(namespace, table, src)
    maintainBloomIndexes(namespace, table)
    v
  }

  /** Export EVERY tier table of a namespace (current versions) into
    * `dest/<table>/` — the migration/backup unit. Returns
    * (table, files) per table, alphabetical.
    */
  def exportNamespace(namespace: String,
      dest: File): Seq[(String, Int)] = {
    val t = tier.getOrElse(throw new IllegalStateException(
      "snapshot export requires a parquet tier"))
    t.tables(namespace).toSeq.sorted.map { table =>
      table -> exportSnapshot(namespace, table, None,
        new File(dest, table))
    }
  }

  /** Import every table snapshot under `src/<table>/` (the
    * [[exportNamespace]] layout) into this engine's namespace.
    * Each table import is individually atomic; a failure part-way
    * leaves already-imported tables published (re-running after
    * fixing the snapshot refuses them as non-fresh — drop and redo,
    * or import the missing tables one by one). Returns
    * (table, version) per imported table.
    */
  def importNamespace(namespace: String,
      src: File): Seq[(String, Long)] = {
    val subdirs = Option(src.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        new File(d, "_snapshot.json").isFile)
      .sortBy(_.getName)
    require(subdirs.nonEmpty, s"no table snapshots under $src")
    subdirs.toSeq.map(d =>
      d.getName -> importSnapshot(namespace, d.getName, d))
  }

  /** Pinned tier files of the referenced tables, and the ones queries
    * handed to the reader after pruning ([[tierFiles]]).
    */
  private[graft] val pruneFilesTotal =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val pruneFilesRead =
    new java.util.concurrent.atomic.AtomicLong

  /** The files of a table's pinned tier version a query reads: those in
    * its day range that pass the bloom/zone checks of every constrained
    * column, one [[BloomStore.skipFiles]] call per column. If nothing
    * is left, one file is kept so the scan has a path; its rows
    * provably fail the predicate, which the SQL re-applies. The
    * frame's columns are the pinned version's, whatever was kept.
    */
  private def tierFiles(ns: String, table: String, files: Seq[String],
      p: LynxEngine.Pruning): Seq[String] = {
    val inDays = files.filter(ParquetTier.inDays(p.days))
    val kept = valueBlooms match {
      case Some(bs) if p.columns.nonEmpty && bs.hasAnyIndex =>
        p.columns.foldLeft(inDays) { case (fs, (c, b)) =>
          bs.skipFiles(ns, table, c, b, fs)
        }
      case _ => inDays
    }
    val read = if (kept.nonEmpty) kept else files.take(1)
    pruneFilesTotal.addAndGet(files.size)
    pruneFilesRead.addAndGet(read.size)
    read
  }

  /** Run `sql` against namespace `namespace`. None = unknown
    * namespace/table → HTTP 404 (reference lynx.rs:144-148).
    *
    * `asOfVersion` = time travel (engine extension): every referenced
    * table reads exactly as its tier manifest `version` published it —
    * buffered (unsealed) rows are excluded by definition, the result
    * cache is bypassed, and a version that was never published for a
    * referenced table (or whose data files GC already removed) fails
    * with IllegalArgumentException rather than serving a partial scan
    * (the [[graft.tier.ParquetTier.readAt]] contract, lifted to SQL).
    */
  def query(namespace: String, sql: String,
      asOfVersion: Option[Long] = None): Option[QueryResult] = {
    val parsed = LynxEngine.parse(querySession, sql)
    // EXPLAIN <select> is allowed as an ops nicety (improvement over
    // the reference's SELECT-only surface): every gate below runs on
    // the EXPLAINED plan, so EXPLAIN cannot smuggle DML/banned
    // functions past the checks, and plan text is never cached
    val (plan, isExplain) = parsed match {
      case ec: ExplainCommand => (ec.logicalPlan, true)
      case p => (p, false)
    }
    // expression-level escape hatches: reflect()/java_method() invoke
    // arbitrary public static JVM methods (env/property exfiltration)
    // — a wider surface than the reference's DataFusion exposes; deny
    // them up front (untrusted SQL reaches this path over HTTP)
    val banned = LynxEngine.forbiddenCalls(plan)
    if (banned.nonEmpty)
      throw new IllegalArgumentException(
        s"function not allowed: ${banned.head}")
    val tables = LynxEngine.referencedTables(plan)
    // what the WHERE clauses prove about each table, in one walk:
    // the day range and the bloom/zone checks its tier files must pass
    // (the pruning the reference lacks, SURVEY.md §4.1)
    val pruning = LynxEngine.pruning(plan,
      querySession.sessionState.conf.sessionLocalTimeZone)
    // as-of reads bypass the cache: they are rare ops reads over
    // immutable manifests, not worth a key-shape extension
    val cacheable = resultCacheEntries > 0 && !isExplain &&
      asOfVersion.isEmpty && !LynxEngine.cacheUnsafe(plan)
    // buffer snapshot + pinned tier snapshots under the write lock:
    // atomic vs seal(), so rows are visible exactly once — and the
    // pins (not just the trash grace period) keep a concurrent
    // compaction from deleting the files this query is reading.
    // Only the tables the SQL references are pinned (a namespace can
    // hold hundreds of tables; pinning them all made every query's
    // lock hold time and release-side GC scan linear in namespace
    // size), and the acquisition loop releases what it already pinned
    // if a later snapshotPinned() throws — otherwise those pins would
    // leak for the life of the process and block trash GC forever.
    // Only the in-memory pin is taken under the lock; the lease FILE
    // (a disk write) happens after the lock is dropped — the pin
    // already blocks in-process GC, and a foreign compactor owes the
    // trash grace period across the sub-millisecond gap.
    val (snapshot, pinned, tierHasNs, cacheKey) = writeLock.synchronized {
      // a time-travel read sees ONLY what the pinned manifest version
      // published: unsealed buffer rows are by definition newer
      val bufTables = buffer.tables(namespace, tables)
      val mem = if (asOfVersion.isDefined) None else bufTables
      val (acq, hasNs) = tier match {
        case None =>
          if (asOfVersion.isDefined)
            throw new IllegalArgumentException(
              "time travel requires a parquet tier")
          (Map.empty[String, graft.tier.TierSnapshot], false)
        case Some(t) =>
          // a pathy "namespace" must never reach the tier as a path
          // (it would list arbitrary host dirs); it can only exist as
          // a buffer key, so the tier simply does not have it
          val present =
            if (isStorableName(namespace)) t.tables(namespace)
            else Set.empty[String]
          val acquired =
            scala.collection.mutable.Map.empty[String, graft.tier.TierSnapshot]
          try
            for (name <- tables) asOfVersion match {
              case None if present(name) =>
                acquired(name) = t.snapshotPinned(namespace, name)
              case Some(v) if present(name) =>
                acquired(name) = t.snapshotPinnedAt(namespace, name, v)
                  .getOrElse(throw new IllegalArgumentException(
                    s"version $v was never published for table $name"))
              case Some(v)
                  if bufTables.exists(_.contains(name)) =>
                // the table exists (buffered, never sealed) — an
                // as-of read must say "no such version", not 404 as
                // if the table itself were unknown
                throw new IllegalArgumentException(
                  s"version $v was never published for table $name")
              case _ => // fully unknown table → the 404 path below
            }
          catch {
            case e: Throwable =>
              acquired.values.foreach(t.release)
              throw e
          }
          (acquired.toMap, present.nonEmpty)
      }
      // the cache key reads buffer revisions INSIDE the lock, atomic
      // with the snapshot — a write racing this query either bumps the
      // revision before the key is built (miss, fresh read) or lands
      // after the snapshot (invisible to this query AND this key).
      // `cacheable` was computed before the lock: the plan walk is a
      // pure function and must not extend the write-lock hold time
      val key: AnyRef =
        if (!cacheable) null
        else (namespace, sql, tables.toSeq.sorted.map(t =>
          (t, buffer.revision(namespace, t),
            acq.get(t).map(_.version).getOrElse(-1L))))
      (mem, acq, hasNs, key)
    }
    if (cacheKey != null) {
      val hit = resultCache.synchronized(Option(resultCache.get(cacheKey)))
      hit match {
        case Some(r) =>
          tier.foreach(t => pinned.values.foreach(t.release))
          resultCacheHits.incrementAndGet()
          return Some(r)
        case None => resultCacheMisses.incrementAndGet()
      }
    }
    // lease() is documented never-throwing, but anything escaping this
    // loop (OOM, runtime bug) would otherwise leak every pin until the
    // pin-age backstop — release defensively, and release the LEASED
    // snapshot for entries already leased (releasing the pre-lease pin
    // would strand their lease files on disk until lease expiry)
    val tierSnaps = tier match {
      case None => pinned
      case Some(t) =>
        val leased = scala.collection.mutable.Map.empty[String,
          graft.tier.TierSnapshot]
        try {
          pinned.foreach { case (k, v) => leased(k) = t.lease(v) }
          leased.toMap
        } catch {
          case e: Throwable =>
            pinned.foreach { case (k, v) =>
              t.release(leased.getOrElse(k, v))
            }
            throw e
        }
    }
    try {
      if (snapshot.isEmpty && !tierHasNs) return None
      // the readAt contract at the SQL layer: files superseded before
      // this query pinned the version may be physically gone — fail
      // whole, never serve a partial scan
      for (v <- asOfVersion; (name, snap) <- tierSnaps)
        if (!snap.files.forall(p => new File(p).isFile))
          throw new IllegalArgumentException(
            s"version $v of table $name is past the GC window")

      val inMem = snapshot.getOrElse(
        TreeMap.empty[String, TreeMap[String, MeasurementsView]])
      val frames = tables.map { t =>
        val mem: Option[DataFrame] =
          inMem.get(t).map(LynxEngine.toDataFrame(querySession, _))
        val sealedDf: Option[DataFrame] =
          tierSnaps.get(t).filter(_.files.nonEmpty).flatMap { snap =>
            val p = pruning.getOrElse(t.toLowerCase, LynxEngine.Pruning())
            tier.map(_.readPinned(querySession, snap,
              tierFiles(namespace, t, snap.files, p), p.days))
          }
        val df = (mem, sealedDf) match {
          case (Some(m), Some(sd)) =>
            m.unionByName(sd, allowMissingColumns = true)
          case (Some(m), None) => m
          case (None, Some(sd)) => sd
          case (None, None) => return None // table unknown → 404
        }
        // Deterministic column order regardless of tier/buffer mix:
        // timestamp, value, then tags sorted (SURVEY.md §1.4 deviation).
        val ordered = Seq("timestamp", "value") ++
          df.columns.filterNot(Set("timestamp", "value")).sorted
        t.toLowerCase -> df.select(
          ordered.map(org.apache.spark.sql.functions.col): _*)
          .queryExecution.analyzed
      }
      // names bind case-insensitively: on a case-only clash the table
      // listed last binds every spelling
      val bound = LynxEngine.bindTables(plan, frames.toMap)
      val df = GraftSqlBridge.ofRows(querySession, parsed match {
        case ec: ExplainCommand => ec.copy(logicalPlan = bound)
        case _ => bound
      })
      // The reference collects unboundedly (lynx.rs:142); at scale a
      // `SELECT * FROM big` over the tier would OOM the driver, so the
      // engine can cap the materialized result (documented deviation:
      // an over-limit query fails cleanly instead of ballooning).
      val rows =
        if (maxResultRows == Int.MaxValue) df.collect().toSeq
        else {
          val r = df.limit(maxResultRows + 1).collect()
          if (r.length > maxResultRows)
            throw new IllegalStateException(
              s"query result exceeds the $maxResultRows-row cap; " +
                "add a LIMIT or raise LYNX_MAX_RESULT_ROWS")
          r.toSeq
        }
      // EXPLAIN text embeds absolute scan locations (tier/WAL roots) —
      // host filesystem layout must not cross the untrusted HTTP
      // boundary, so redact the roots (namespace/table-relative layout
      // under them is the caller's own data and stays visible)
      val outRows =
        if (!isExplain) rows
        else {
          val roots = tier.map(_.rootPath).toSeq :+ walDir.getAbsolutePath
          rows.map { r =>
            Row.fromSeq(r.toSeq.map {
              case s: String =>
                roots.foldLeft(s)((acc, p) => acc.replace(p, "<data-dir>"))
              case v => v
            })
          }
        }
      val result = QueryResult(df.schema, outRows)
      if (cacheKey != null && rows.length <= MaxCachedResultRows)
        resultCache.synchronized { resultCache.put(cacheKey, result); () }
      Some(result)
    } finally tier.foreach(t => tierSnaps.values.foreach(t.release))
  }
}

object LynxEngine {

  /** An engine's state rebuilt from its WAL directory by [[recover]]:
    * the replayed buffer, the highest and every observed segment id,
    * the per-sink stream high-water marks and streaming-query ids, the
    * tail repairs replay made, its wall time and the frames it decoded.
    * One engine takes it over; the buffer is that engine's from then on.
    */
  final case class Recovered(walDir: File, buffer: MemBuffer,
      highestSegment: Long, segments: Seq[Long],
      streamHwm: Map[String, Long], streamQid: Map[String, String],
      recoveries: Seq[Wal.WalRecovery], replayMs: Long, records: Long)

  /** Crash recovery, without Spark: replay every WAL segment in
    * `walDir` into a fresh buffer (reference lynx.rs:45-53), re-drive
    * the tier publish each seal marker records, then drop the tier's
    * staging dirs whose marker never became durable (their rows just
    * replayed into the buffer). `forceTailTruncate` is
    * [[Wal.replay]]'s operator override for refused tail recoveries.
    * The engine constructor runs this unless it is handed the result.
    */
  def recover(walDir: File, tier: Option[ParquetTier],
      forceTailTruncate: Boolean = false): Recovered = {
    val t0 = System.nanoTime()
    val buffer = new MemBuffer
    val hwm = scala.collection.mutable.Map.empty[String, Long]
    val qids = scala.collection.mutable.Map.empty[String, String]
    val repairs = scala.collection.mutable.ArrayBuffer.empty[Wal.WalRecovery]
    val replayed = Wal.replay(walDir, buffer, m => {
      // a BULK marker's staged files never came from the buffer:
      // draining here would lose acknowledged plain writes buffered
      // before the marker (they were never part of the bulk seal)
      if (!graft.core.SealMarker.isBulk(m))
        buffer.drainTable(m.value, m.measurement)
      // re-drive the tier publish recorded in the marker: idempotent,
      // so a crash anywhere between marker and publish converges here
      for {
        t <- tier
        sid <- m.metadata.get(graft.core.SealMarker.StagingTag)
      } {
        val files = m.metadata.get(graft.core.SealMarker.FilesTag)
          .map(_.render.split("\n").toSeq.filter(_.nonEmpty))
          .getOrElse(Nil)
        t.publish(m.value, m.measurement, sid.render, files)
      }
    }, (sink, bid, qid) => {
      if (bid > hwm.getOrElse(sink, -1L)) hwm(sink) = bid
      if (qid.nonEmpty) qids(sink) = qid // WAL order: last wins
    }, forceTailTruncate, repairs += _)
    tier.foreach(_.cleanStaging())
    Recovered(walDir, buffer, replayed.highest, replayed.segments,
      hwm.toMap, qids.toMap, repairs.toSeq,
      (System.nanoTime() - t0) / 1000000, replayed.records)
  }

  /** A write refused by validation before its WAL append (nothing of
    * it is logged or buffered) — a client error, HTTP 422.
    */
  final class InvalidWriteException(msg: String)
      extends IllegalArgumentException(msg)

  /** A write refused because its namespace is migration-fenced — the
    * HTTP layer maps this to 422 + Retry-After (transient for a
    * racing writer: retry lands on the new owner once the router
    * flips), never a generic 500.
    */
  final class NamespaceFencedException(val namespace: String)
      extends IllegalStateException(
        s"namespace '$namespace' is write-fenced (migration in " +
          "progress) — retry shortly")

  /** Gatekeeper (reference parse_table_name, lynx.rs:153-172): parse
    * the SQL with Spark's parser, reject DML/DDL, and collect every
    * base relation the query reads. The reference takes only the
    * first FROM table and rejects CTEs/derived tables; we accept them
    * (documented improvement, SURVEY.md §2B).
    */
  def parse(spark: SparkSession, sql: String): LogicalPlan =
    try spark.sessionState.sqlParser.parsePlan(sql)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"failed to parse query: ${e.getMessage}")
    }

  def referencedTables(plan: LogicalPlan): Seq[String] = {
    // Reject anything that is not a pure query. The Command trait
    // covers DDL including CREATE TABLE ... AS SELECT (which contains
    // an UnresolvedRelation and would slip past a node-name
    // blacklist); ParsedStatement covers INSERT and other unresolved
    // DML statements.
    if (plan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Command => true
        case _: org.apache.spark.sql.catalyst.plans.logical.ParsedStatement
          => true
        case _ => false
      })
      throw new IllegalArgumentException(
        "only SELECT queries are supported")
    // a query must read FROM something, a table or a WITH definition;
    // the tables are the references no WITH definition shadows
    val refs = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    mapRelations(plan) { (r, isCte) =>
      refs += ((r.multipartIdentifier.last, isCte))
      r
    }
    if (refs.isEmpty)
      throw new IllegalArgumentException(
        "only basic 'SELECT .. FROM' style queries are supported")
    refs.collect { case (name, false) => name }.distinct.toSeq
  }

  /** Bind each table's frame into a parsed query: every single-part,
    * non-streaming table reference named in `frames` (keys lower-case)
    * becomes `SubqueryAlias(name, frame)`, so the query runs without a
    * catalog entry, binding exactly where a temp view of that name
    * would resolve ([[mapRelations]]).
    */
  def bindTables(plan: LogicalPlan,
      frames: Map[String, LogicalPlan]): LogicalPlan =
    mapRelations(plan) {
      case (r, false) if r.multipartIdentifier.size == 1 && !r.isStreaming =>
        val name = r.multipartIdentifier.head
        frames.get(name.toLowerCase).fold[LogicalPlan](r)(SubqueryAlias(name, _))
      case (r, _) => r
    }

  /** Rebuild a parsed query with `f(relation, isCte)` applied to each
    * relation it reads, in CTE definitions and subquery expressions
    * too. `isCte` follows Spark's CTE substitution: a WITH definition
    * (case-insensitively) shadows a single-part reference of its name
    * in the definitions after it and in the WITH's body, a recursive
    * definition also in itself, and scopes reach into subquery
    * expressions.
    */
  private def mapRelations(plan: LogicalPlan)(
      f: (UnresolvedRelation, Boolean) => LogicalPlan): LogicalPlan = {
    def go(p: LogicalPlan, shadowed: Set[String]): LogicalPlan = p match {
      case r: UnresolvedRelation =>
        f(r, r.multipartIdentifier.size == 1 &&
          shadowed(r.multipartIdentifier.head.toLowerCase))
      case w: UnresolvedWith =>
        var scope = shadowed
        val defs = w.cteRelations.map { case (name, sub, depth) =>
          val key = name.toLowerCase
          val inner = if (w.allowRecursion) scope + key else scope
          scope += key
          (name, sub.copy(child = go(sub.child, inner)), depth)
        }
        w.copy(child = go(w.child, scope), cteRelations = defs)
      case other =>
        other.mapChildren(go(_, shadowed)).transformExpressions {
          case e: SubqueryExpression => e.withNewPlan(go(e.plan, shadowed))
        }
    }
    go(plan, Set.empty)
  }

  /** Expression-level deny list for the untrusted-SQL path. Spark's
    * reflect/java_method call arbitrary public static JVM methods —
    * System.getenv, System.getProperty, … — which the reference's
    * DataFusion surface simply doesn't have; a gatekeeper that only
    * blocks DDL/DML would let them through inside a SELECT.
    */
  private val BannedFunctions = Set("reflect", "java_method")

  /** Functions whose value depends on when/where the query runs —
    * caching a result containing one would freeze it. The engine's
    * result cache skips any query calling these (conservative
    * name-based check on the unresolved plan).
    */
  private val NondeterministicFunctions = Set(
    "now", "current_timestamp", "current_date", "current_timezone",
    "localtimestamp", "curdate", "current_localdatetime", "unix_timestamp",
    "rand", "random", "randn", "uuid", "shuffle", "monotonically_increasing_id",
    "spark_partition_id", "input_file_name", "rand_str", "uniform",
    "session_user", "current_user", "user", "version")

  /** Names of banned function calls anywhere in the plan, including
    * inside CTE definitions and subquery expressions (both invisible
    * to a plain plan traversal).
    */
  def forbiddenCalls(plan: LogicalPlan): Seq[String] =
    callsMatching(plan, BannedFunctions, matchAttributes = false)

  /** True when the query calls any time/run-dependent function — such
    * results must not enter the result cache. Paren-less temporal
    * keywords (`current_date`, `current_timestamp`, ...) do NOT parse
    * as UnresolvedFunction: under the default parser conf they arrive
    * as UnresolvedAttribute (resolved later by literal-function
    * resolution), under ANSI-reserved-keywords as CurrentDate/
    * CurrentTimestamp expression nodes — both are matched here too. A
    * tag column literally named `current_date` loses caching, which is
    * the safe direction.
    */
  def cacheUnsafe(plan: LogicalPlan): Boolean =
    callsMatching(plan, NondeterministicFunctions,
      matchAttributes = true).nonEmpty

  private def callsMatching(plan: LogicalPlan, names: Set[String],
      matchAttributes: Boolean): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Expression,
      SubqueryExpression}
    def fromExpr(e: Expression): Seq[String] = {
      val here = e match {
        case f: UnresolvedFunction
          if names(f.nameParts.last.toLowerCase) =>
          Seq(f.nameParts.last.toLowerCase)
        // paren-less temporal keywords: UnresolvedAttribute under the
        // default parser conf (literal-function resolution happens
        // post-parse), direct expression nodes (CurrentDate, Now, ...)
        // under ANSI reserved keywords. ONLY for the cache-safety
        // check: the banned-function gate must not reject a user
        // column that merely shares a banned function's name (the
        // attribute case would turn `SELECT reflect FROM t` into a
        // 400 for data already written with a `reflect` tag)
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if matchAttributes && names(a.nameParts.last.toLowerCase) =>
          Seq(a.nameParts.last.toLowerCase)
        case other if matchAttributes && {
          val cls = other.getClass.getSimpleName.toLowerCase.stripSuffix("$")
          names.exists(n => n.replace("_", "") == cls)
        } =>
          Seq(other.getClass.getSimpleName.toLowerCase.stripSuffix("$"))
        case _ => Nil
      }
      val nested = e match {
        case s: SubqueryExpression => fromPlan(s.plan)
        case _ => Nil
      }
      here ++ nested ++ e.children.flatMap(fromExpr)
    }
    def fromPlan(p: LogicalPlan): Seq[String] = {
      val ctePlans = p.collect {
        case w: UnresolvedWith => w.cteRelations.map(_._2)
      }.flatten
      p.flatMap(_.expressions.flatMap(fromExpr)) ++
        ctePlans.flatMap(fromPlan)
    }
    fromPlan(plan).distinct
  }

  /** Inline (non-recursive) WITH definitions so a CTE-wrapped query
    * still exposes its Filter-over-scan shape to [[pruning]]. Later
    * CTEs may reference earlier ones; a CTE name shadows an engine
    * table within the substituted scope, which matches SQL resolution
    * order.
    */
  private def inlineCtes(plan: LogicalPlan): LogicalPlan = {
    def substitute(p: LogicalPlan,
        defs: Map[String, LogicalPlan]): LogicalPlan =
      if (defs.isEmpty) p
      else p.transformUp {
        case r: UnresolvedRelation if r.multipartIdentifier.size == 1 &&
            defs.contains(r.multipartIdentifier.head.toLowerCase) =>
          defs(r.multipartIdentifier.head.toLowerCase)
      }
    plan.transformUp {
      case w: UnresolvedWith if !w.allowRecursion =>
        var defs = Map.empty[String, LogicalPlan]
        w.cteRelations.foreach { case (name, sub, _) =>
          defs += name.toLowerCase -> substitute(sub.child, defs)
        }
        substitute(w.child, defs)
    }
  }

  /** What a query's WHERE clauses prove about the rows it uses of one
    * table: the range of its `timestamp` (`time`, micros, bounds
    * inclusive) and, per lower-cased column, the checks a tier file
    * must pass to be read ([[BloomStore.skipFiles]]).
    */
  final case class Pruning(time: Option[Interval[Long]] = None,
      columns: Map[String, Bounds] = Map.empty) {
    /** `time` as inclusive UTC days, an open end as the extreme day. */
    def days: Option[(String, String)] = time.map(r => (
      r.lo.fold("0000-01-01")(PartitionKey.fromMicros),
      r.hi.fold("9999-12-31")(PartitionKey.fromMicros)))
  }

  /** One output column of a plan node, as [[pruning]] names it. */
  private sealed trait Out
  /** Every column of a table, each under its own name. */
  private final case class Scan(quals: Set[String], table: String)
      extends Out
  /** One column; `raw` = (table, column) when it is a scan column. */
  private final case class Named(quals: Set[String], name: String,
      raw: Option[(String, String)]) extends Out
  /** Columns the walk cannot see: any name, and any qualifier when
    * `quals` is None.
    */
  private final case class Opaque(quals: Option[Set[String]]) extends Out

  private def answers(o: Out, qual: Option[String]): Boolean = o match {
    case Scan(qs, _) => qual.forall(qs)
    case Named(qs, _, _) => qual.forall(qs)
    case Opaque(qs) => qual.forall(q => qs.forall(_(q)))
  }

  /** The (table, column) a column reference denotes among `outs`: only
    * when exactly one output answers to it and that one is a scan
    * column. So an unqualified name over two relations, or over
    * anything the walk cannot see, denotes nothing.
    */
  private def resolve(outs: Seq[Out],
      parts: Seq[String]): Option[(String, String)] = {
    val (qual, name) = parts.map(_.toLowerCase) match {
      case Seq(n) => (None, n)
      case Seq(q, n) => (Some(q), n)
      case _ => return None
    }
    outs.filter {
      case o @ Named(_, n, _) => n == name && answers(o, qual)
      case o => answers(o, qual)
    } match {
      case Seq(Scan(_, t)) => Some((t, name))
      case Seq(Named(_, _, raw)) => raw
      case _ => None
    }
  }

  /** A node's outputs, following each table's scan columns up through
    * row-preserving nodes only: each row they output is one input row
    * (or, above an outer join, one null-extended), so a null-rejecting
    * predicate on a scan column drops above them exactly the rows a
    * pruned scan drops below. A SubqueryAlias re-qualifies, and a
    * Project passes, renames or computes each column. Every other node
    * is a barrier whose columns are [[Opaque]]: LIMIT is one (a pruned
    * scan would change which rows the limit keeps), as are aggregates,
    * windows, generators, set operations, samples and column-alias
    * lists.
    */
  private def outputs(p: LogicalPlan): Seq[Out] = p match {
    case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
      val t = r.multipartIdentifier.head.toLowerCase
      Seq(Scan(Set(t), t))
    case a: SubqueryAlias =>
      val q = Set(a.alias.toLowerCase)
      outputs(a.child).map {
        case Scan(_, t) => Scan(q, t)
        case Named(_, n, raw) => Named(q, n, raw)
        case Opaque(_) => Opaque(Some(q))
      }
    case f: Filter => outputs(f.child)
    case s: Sort => outputs(s.child)
    case d: Distinct => outputs(d.child)
    case j: Join => outputs(j.left) ++ outputs(j.right)
    case pr: Project if !pr.projectList.exists(windowed) =>
      val in = outputs(pr.child)
      pr.projectList.flatMap {
        case UnresolvedStar(None) => in
        case UnresolvedStar(Some(Seq(q))) =>
          in.filter(answers(_, Some(q.toLowerCase)))
        case a: UnresolvedAttribute => Seq(Named(Set.empty,
          a.nameParts.last.toLowerCase, resolve(in, a.nameParts)))
        case Alias(a: UnresolvedAttribute, n) =>
          Seq(Named(Set.empty, n.toLowerCase, resolve(in, a.nameParts)))
        case Alias(_, n) => Seq(Named(Set.empty, n.toLowerCase, None))
        // an unaliased CAST takes its column's name, not its values
        case UnresolvedAlias(Cast(a: UnresolvedAttribute, _, _, _), _) =>
          Seq(Named(Set.empty, a.nameParts.last.toLowerCase, None))
        // any other unaliased expression gets a generated name
        case _ => Seq(Opaque(None))
      }
    case _ => Seq(Opaque(None))
  }

  /** The one predicate harvest behind tier file skipping: per table,
    * what the conjuncts of the query's Filters prove ([[Pruning]]).
    * CTEs are inlined first. A Filter's column references are
    * resolved against its child's [[outputs]], so the harvest follows
    * qualified names through joins, and any name through derived
    * tables, CTEs and projections that pass or rename a scan column.
    * Never over-prunes: the SQL re-applies the full predicate after
    * the skip, and any shape this walk cannot prove is left unpruned.
    * Day bounds come from `timestamp` comparisons with a TIMESTAMP,
    * DATE or string literal (or CASTs of one), read in the session
    * time zone `zone` ([[timeBounds]]); the string checks from `=`, IN,
    * OR-of-equalities on one column and ranges with string literals;
    * numeric zones from `try_cast` ranges. `>`/`<` widen to their
    * inclusive forms (the boundary is kept), and bounds on one column
    * intersect, matching AND. `zone` defaults to that of the thread's
    * active session, and to UTC on a thread with none (never the JVM
    * default zone, which no query session reads in unless configured).
    */
  def pruning(rawPlan: LogicalPlan,
      zone: String = activeZone): Map[String, Pruning] = {
    val plan = inlineCtes(rawPlan)
    // a subquery expression could carry outer references past the
    // walk, and a recursive WITH (never inlined) derives the rows it
    // reads from its own output
    if (plan.exists(p => p.isInstanceOf[UnresolvedWith] ||
        p.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression]))))
      return Map.empty
    // Self-joins and UNION arms are not pruned: each name binds one
    // frame (bindTables), so every reference of a table read twice
    // shares one file list, and a predicate on one reference could
    // drop rows another reads.
    val acc = scala.collection.mutable.Map.empty[String, Pruning] ++=
      plan.collect { case r: UnresolvedRelation => r.multipartIdentifier }
        .collect { case Seq(t) => t.toLowerCase }
        .groupBy(identity).collect { case (t, Seq(_)) => t -> Pruning() }
    def narrow(t: String, c: String)(f: Bounds => Bounds): Unit =
      acc.get(t).foreach(p => acc(t) = p.copy(columns =
        p.columns.updated(c, f(p.columns.getOrElse(c, Bounds())))))
    def and[T: Ordering](r: Option[Interval[T]], lo: Option[T],
        hi: Option[T]): Option[Interval[T]] =
      Some(r.fold(Interval(lo, hi))(_.and(Interval(lo, hi))))
    // ON clauses are never harvested (only Filters are walked): an
    // outer join's ON predicate on its preserved side must not drop
    // scan rows, which survive it null-extended. Every shape harvested
    // is null-rejecting, which keeps Filter conjuncts above any join
    // sound: a null-extended row fails the predicate exactly as the
    // pruned scan row would.
    plan.foreach {
      case f: Filter =>
        val outs = outputs(f.child)
        def col(e: Expression): Option[(String, String)] = e match {
          case a: UnresolvedAttribute => resolve(outs, a.nameParts)
          case _ => None
        }
        // `timestamp` is the one column that is not a string: a string
        // literal compared with it is cast to a timestamp, so it feeds
        // the day range, never the string checks
        def strCol(e: Expression) = col(e).filter(_._2 != "timestamp")
        def equality(e: Expression) = e match {
          case EqualTo(x, y) =>
            (for (k <- strCol(x); v <- strLit(y)) yield (k, Seq(v)))
              .orElse(for (k <- strCol(y); v <- strLit(x)) yield (k, Seq(v)))
          // all-or-nothing: one non-string element voids the IN
          case In(x, vs) if vs.nonEmpty && vs.forall(strLit(_).isDefined) =>
            strCol(x).map(_ -> vs.flatMap(strLit))
          case _ => None
        }
        conjuncts(f.condition).foreach { c =>
          // an OR of equalities on ONE column harvests as the IN it is:
          // a file excluded for every listed value satisfies no
          // disjunct. Any other disjunct voids the whole OR.
          val eqs = disjuncts(c).map(equality)
          if (eqs.forall(_.isDefined) &&
              eqs.flatten.map(_._1).toSet.size == 1) {
            val (t, cn) = eqs.head.get._1
            val vs = eqs.flatten.flatMap(_._2).distinct
            narrow(t, cn)(b => b.copy(anyOf = (b.anyOf :+ vs).distinct))
          }
          for ((x, l, lower, upper) <- comparisons(c)) {
            def lo[T](v: T) = Option.when(lower)(v)
            def hi[T](v: T) = Option.when(upper)(v)
            for ((ts, from, to) <- timeBounds(x, l, zone);
                (t, "timestamp") <- col(ts))
              acc.get(t).foreach(p =>
                acc(t) = p.copy(time = and(p.time, lo(from), hi(to))))
            // `=` on a string column is the equality above
            if (!c.isInstanceOf[EqualTo])
              for ((t, cn) <- strCol(x); v <- strLit(l))
                narrow(t, cn)(b => b.copy(str = and(b.str, lo(v), hi(v))))
            // ONLY try_cast feeds the numeric zones: a bare coercing
            // comparison (`col = 5`) and a plain CAST both error at
            // runtime on uncastable rows under ANSI, so skipping a file
            // would suppress an error the scan raises, while try_cast
            // is total (null on failure) and each zone records min/max
            // of exactly that projection. A narrower integral cast
            // checks against the BIGINT zone (widening is exact).
            x match {
              case cast: Cast if cast.evalMode == EvalMode.TRY =>
                for ((t, cn) <- col(cast.child)) cast.dataType match {
                  case ByteType | ShortType | IntegerType | LongType =>
                    longLit(l).foreach(v => narrow(t, cn)(b =>
                      b.copy(long = and(b.long, lo(v), hi(v)))))
                  case DoubleType =>
                    dblLit(l).foreach(v => narrow(t, cn)(b =>
                      b.copy(dbl = and(b.dbl, lo(v), hi(v))(
                        Ordering.Double.TotalOrdering))))
                  case _ =>
                }
              case _ =>
            }
          }
        }
      case _ =>
    }
    acc.toMap
  }

  /** A window function's value depends on the other rows of its frame,
    * so a Project computing one does not let a pruned scan through.
    */
  private def windowed(e: Expression): Boolean = e.exists {
    case _: WindowExpression | _: UnresolvedWindowExpression => true
    case _ => false
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def disjuncts(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => disjuncts(l) ++ disjuncts(r)
    case other => Seq(other)
  }

  /** A comparison as (x, y, y bounds x from below, from above), in both
    * orientations: only the one whose `x` is a column and `y` a literal
    * matches a harvest, so a literal-first comparison flips the bound.
    */
  private def comparisons(
      c: Expression): Seq[(Expression, Expression, Boolean, Boolean)] = {
    val (x, y, lo, hi) = c match {
      case GreaterThanOrEqual(x, y) => (x, y, true, false)
      case GreaterThan(x, y) => (x, y, true, false)
      case LessThanOrEqual(x, y) => (x, y, false, true)
      case LessThan(x, y) => (x, y, false, true)
      case EqualTo(x, y) => (x, y, true, true)
      case _ => return Nil
    }
    Seq((x, y, lo, hi), (y, x, hi, lo))
  }

  /** A comparison of `x` with literal `l` as the analyzer reads it in
    * the session time zone `zone`: the expression that must be the
    * `timestamp` column, and the first and last instant it can hold at
    * the bound.
    *  - `timestamp`, bare or under CASTs to TIMESTAMP, compares with the
    *    instant `l` casts to.
    *  - Under a CAST to DATE it compares by local day, with the day `l`
    *    casts to.
    *  - Under a CAST to STRING it compares as text, which orders by the
    *    first ten characters when `l` is a string that starts with a
    *    yyyy-MM-dd date.
    * A local day bounds the scan by all of it, first to last instant.
    */
  private def timeBounds(x: Expression, l: Expression,
      zone: String): Option[(Expression, Long, Long)] = {
    def wholeDay(c: Expression)(day: Any) = {
      val (d, z) = (day.asInstanceOf[Int], DateTimeUtils.getZoneId(zone))
      (uncastTimestamp(c), DateTimeUtils.daysToMicros(d, z),
        DateTimeUtils.daysToMicros(d + 1, z) - 1)
    }
    x match {
      case Cast(c, DateType, _, _) =>
        castLiteral(l, DateType, zone).map(wholeDay(c))
      case Cast(c, _: StringType, _, _) => l match {
        case Literal(s, _: StringType) if s != null =>
          DatePrefix.findPrefixMatchOf(s.toString).flatMap(m =>
            castLiteral(Literal(m.matched), DateType, zone)).map(wholeDay(c))
        case _ => None
      }
      case _ => castLiteral(l, TimestampType, zone).map { v =>
        val us = v.asInstanceOf[Long]
        (uncastTimestamp(x), us, us)
      }
    }
  }

  private def uncastTimestamp(e: Expression): Expression = e match {
    case Cast(c, TimestampType, _, _) => uncastTimestamp(c)
    case other => other
  }

  private val DatePrefix = """\d{4}-\d{2}-\d{2}""".r

  /** A literal made of string, TIMESTAMP and DATE literals and CASTs,
    * evaluated with Spark's own Cast to `to` in `zone`; None when it is
    * not one or does not cast.
    */
  private def castLiteral(e: Expression, to: DataType,
      zone: String): Option[Any] =
    if (e.exists {
      case _: Cast | Literal(_, _: StringType | TimestampType | DateType) =>
        false
      case _ => true
    }) None
    else
      try Option(Cast(e.transform { case c: Cast => c.withTimeZone(zone) },
        to, Some(zone), EvalMode.TRY).eval())
      catch { case scala.util.control.NonFatal(_) => None }

  /** Only a plain non-null string literal counts for blooms and string
    * zones: they hash and bound the column's string form, and type
    * coercion (`value = 3`) can match rows whose string form differs
    * from the literal.
    */
  private def strLit(e: Expression): Option[String] = e match {
    case Literal(s, StringType) if s != null => Some(String.valueOf(s))
    case _ => None
  }

  /** An integral literal: a BIGINT zone never takes a fractional one
    * (the comparison then coerces to a type where it sits between
    * integers).
    */
  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Byte, ByteType) => Some(v.toLong)
    case Literal(v: Short, ShortType) => Some(v.toLong)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case _ => None
  }

  /** A numeric literal as the double its coerced comparison uses. NaN
    * is excluded, so no bound or zone check depends on where NaN
    * orders.
    */
  private def dblLit(e: Expression): Option[Double] = e match {
    case Literal(v: Double, DoubleType) if !v.isNaN => Some(v)
    case Literal(v: Float, FloatType) if !v.isNaN => Some(v.toDouble)
    case Literal(d: Decimal, _) => Some(d.toDouble)
    case other => longLit(other).map(_.toDouble)
  }

  /** The time zone of the thread's active session, else UTC. */
  private def activeZone: String = SparkSession.getActiveSession
    .fold("UTC")(_.sessionState.conf.sessionLocalTimeZone)

  /** [[pruning]]'s day range of a query that reads one table, once. */
  def dayBounds(plan: LogicalPlan): Option[(String, String)] =
    pruning(plan).values.toSeq match {
      case Seq(p) => p.days
      case _ => None
    }

  /** [[pruning]]'s day range per table. */
  def dayBoundsPerTable(plan: LogicalPlan): Map[String, (String, String)] =
    pruning(plan).flatMap { case (t, p) => p.days.map(t -> _) }

  /** [[pruning]]'s string equality/IN lists per table, as
    * (column, values) sorted by column.
    */
  def eqLiteralsPerTable(
      plan: LogicalPlan): Map[String, Seq[(String, Seq[String])]] =
    perColumn(pruning(plan))(_.anyOf)

  /** [[pruning]]'s string ranges per table, as (column, lo, hi). */
  def strRangesPerTable(plan: LogicalPlan)
      : Map[String, Seq[(String, Option[String], Option[String])]] =
    ranges(pruning(plan))(_.str)

  /** [[pruning]]'s `try_cast` BIGINT and DOUBLE ranges per table. */
  def numRangesPerTable(plan: LogicalPlan): (
      Map[String, Seq[(String, Option[Long], Option[Long])]],
      Map[String, Seq[(String, Option[Double], Option[Double])]]) = {
    val p = pruning(plan)
    (ranges(p)(_.long), ranges(p)(_.dbl))
  }

  private def perColumn[T](p: Map[String, Pruning])(
      f: Bounds => Seq[T]): Map[String, Seq[(String, T)]] =
    p.map { case (t, pr) => t -> pr.columns.toSeq.sortBy(_._1)
      .flatMap { case (c, b) => f(b).map(c -> _) } }
      .filter(_._2.nonEmpty)

  private def ranges[T](p: Map[String, Pruning])(f: Bounds => Option[
      Interval[T]]): Map[String, Seq[(String, Option[T], Option[T])]] =
    perColumn(p)(f(_).toSeq).map { case (t, rs) =>
      t -> rs.map { case (c, r) => (c, r.lo, r.hi) }
    }

  /** A table snapshot as a DataFrame: a scan over its column chunks
    * (see [[graft.buffer.BufferScan]]).
    */
  def toDataFrame(spark: SparkSession,
      parts: TreeMap[String, MeasurementsView]): DataFrame =
    BufferScan.frame(spark, parts)
}
