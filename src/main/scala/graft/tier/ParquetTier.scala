package graft.tier

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Columnar tier for sealed buffer data — the 100 TB path the
  * reference lacks (it keeps the whole dataset in RAM and the WAL
  * grows forever; SURVEY.md §3.3, §7.1 step 8).
  *
  * Layout: `root/<ns>/<table>/__lynx_day=YYYY-MM-DD/part-*.parquet`.
  * The partition column is the reserved `__lynx_day` (not `day`) so a
  * user tag named `day` survives tiering as an ordinary data column.
  * Day directory partitioning restores the partition pruning the
  * reference's query path throws away (it concatenates every daily
  * partition before the SQL engine sees a `WHERE timestamp` filter,
  * reference lynx.rs:86-91): a time-bounded query reads only matching
  * day directories (Catalyst `PartitionFilters`). Spark keeps
  * `_`-prefixed partition dirs visible because the name contains `=`.
  *
  * Readers resolve files through a MANIFEST, not directory listing:
  * `_manifest/v<N>.list` holds the table's current relative file set,
  * and every seal/compaction publishes a new version. Queries pin a
  * manifest version via [[snapshot]] — an explicit (version, files)
  * handle, ref-counted in-process — and compaction parks superseded
  * files on a version-tagged TRASH list whose physical deletion is
  * blocked while any pin at or below that version is live; [[release]]
  * is what collects it. Pins are recorded both in a JVM-local table
  * (exact) and as expiring lease files under `_manifest/` (visible to
  * a compactor in another process on the same root). `trashGraceMs`
  * remains as the final backstop for pins lost to a crash. The
  * engine's write lock serializes manifest writers — a full
  * multi-writer catalog would need atomic commit on top.
  *
  * Seals are crash-atomic with the WAL: [[stage]] writes under a
  * hidden `.staging-<id>` dir (invisible to readers), the engine then
  * makes the seal durable with a WAL marker carrying the staged file
  * list, and only then [[publish]] moves the files into the table and
  * the manifest. Replay re-drives `publish` for any marker whose
  * staging survived (idempotent), and [[cleanStaging]] discards
  * markerless staging dirs, whose rows replay back into the buffer.
  *
  * Schema evolution: tag columns appear over time, so a manifest
  * version's schema is the merge of all its files' schemas, computed
  * once per version (versions are immutable) and passed to every read
  * of that version; files lacking a column read it as NULL, and the
  * engine NULL-fills the buffer side via
  * `unionByName(allowMissingColumns)` — preserving the reference's
  * widening-schema semantics (lynx.rs:93-116) on columnar storage.
  */
final class ParquetTier(root: File,
    trashGraceMs: Long = 10L * 60 * 1000,
    pinLeaseMs: Long = 10L * 60 * 1000,
    pinMaxAgeMsOverride: Long = -1L) {

  /** Absolute tier root path — used by the engine to redact host
    * filesystem locations from EXPLAIN output before it crosses the
    * untrusted HTTP boundary.
    */
  def rootPath: String = root.getAbsolutePath

  import ParquetTier.DayCol

  /** Namespace/table names become path segments under the tier root;
    * a name that is itself a path expression ("..", "a/b") would
    * escape it — and several admin endpoints accept these names from
    * untrusted HTTP callers. One choke point guards every dir
    * construction (the engine also rejects such names at the ingest
    * doors, so no acknowledged row can ever fail its later seal
    * here).
    */
  private def safeSeg(s: String, what: String): String = {
    require(s.nonEmpty && s != "." && s != ".." &&
      !s.contains('/') && !s.contains('\\') && !s.contains('\u0000'),
      s"$what is not a storable name (path separators, '..', and " +
        s"NUL are not allowed): '$s'")
    s
  }

  private def tableDir(ns: String, table: String) =
    new File(new File(root, safeSeg(ns, "namespace")),
      safeSeg(table, "table"))
  private def manifestDir(ns: String, table: String) =
    new File(tableDir(ns, table), "_manifest")
  private def stagingDir(ns: String, table: String, id: String) =
    new File(tableDir(ns, table), s".staging-$id")

  def tables(ns: String): Set[String] = {
    val d = new File(root, safeSeg(ns, "namespace"))
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
  }

  // ------------------------------------------------------------ listing

  // Spark's hidden-path rule: names starting with '.' are hidden, and
  // '_'-prefixed names are hidden unless they contain '=' (partition
  // dirs like __lynx_day=…). Mirror it so walks agree with scans.
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  private def parquetFilesUnder(base: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (hidden(f.getName)) Nil
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    if (base.isDirectory) // base itself may be a (hidden) staging dir
      Option(base.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else Nil
  }

  /** Legacy (pre-manifest) directory-walk fallback — REFUSED when an
    * interrupted snapshot import left its marker: the walk would
    * silently serve the partial file subset the crash left behind
    * (importSnapshot auto-recovers the table on re-run).
    */
  private def fallbackFiles(ns: String, table: String): Seq[File] = {
    val dir = tableDir(ns, table)
    if (new File(dir, ParquetTier.ImportPending).isFile)
      throw new IllegalStateException(
        s"table $ns/$table has an interrupted snapshot import (no " +
          "version was ever published) — re-run importSnapshot (it " +
          "auto-recovers) or remove the partial files and the " +
          s"${ParquetTier.ImportPending} marker")
    parquetFilesUnder(dir)
  }

  private def relativize(base: File, f: File): String =
    base.toPath.relativize(f.toPath).toString

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  // ----------------------------------------------------------- manifest

  private def versioned(re: scala.util.matching.Regex,
      ns: String, table: String): Seq[(Long, File)] =
    Option(manifestDir(ns, table).listFiles()).getOrElse(Array.empty)
      .toSeq
      .flatMap(f => f.getName match {
        case re(v) => Some((v.toLong, f))
        case _ => None
      })
      .sortBy(_._1)

  private def readList(f: File): Seq[String] =
    Files.readString(f.toPath, UTF_8).linesIterator
      .filter(_.nonEmpty).toSeq

  /** Current manifest file list (relative paths), if any version has
    * been published.
    */
  private def readManifest(ns: String, table: String): Option[Seq[String]] =
    readManifestVersioned(ns, table).map(_._2)

  private def readManifestVersioned(ns: String,
      table: String): Option[(Long, Seq[String])] =
    versioned(ParquetTier.ManifestName, ns, table).lastOption
      .map { case (v, f) => (v, readList(f)) }

  /** Number of data files the current manifest references (0 before
    * the first publish) — read cheaply from one small manifest file,
    * no directory walk.
    */
  def fileCount(ns: String, table: String): Int =
    readManifest(ns, table).map(_.size).getOrElse(0)

  /** Every published manifest version with its file count, oldest
    * first — the discovery call behind time-travel reads (a client
    * lists versions here, then queries with `version: N`).
    */
  def versions(ns: String, table: String): Seq[(Long, Int)] =
    versioned(ParquetTier.ManifestName, ns, table)
      .map { case (v, f) => (v, readList(f).size) }

  /** Manifest files in EXCESS of compaction's floor of one file per
    * day partition. This is what the auto-compaction trigger must
    * threshold on: total file count never drops below the number of
    * distinct days, so a total-count trigger would fire on every seal
    * once a table spans that many days — a full-table rewrite per
    * seal, the opposite of amortization.
    */
  def redundantFileCount(ns: String, table: String): Int =
    readManifest(ns, table).fold(0) { rel =>
      val days = rel.flatMap(
        ParquetTier.DayFromPath.findFirstMatchIn(_).map(_.group(1)))
        .toSet
      rel.size - days.size
    }

  private def writeManifest(ns: String, table: String,
      rel: Seq[String]): Unit = {
    val dir = manifestDir(ns, table)
    dir.mkdirs()
    val v = versioned(ParquetTier.ManifestName, ns, table)
      .lastOption.map(_._1 + 1).getOrElse(1L)
    // write-then-rename so a torn write never becomes the current
    // manifest version
    val tmp = new File(dir, s".v$v.tmp")
    Files.writeString(tmp.toPath, rel.mkString("\n"), UTF_8)
    val dst = new File(dir, f"v$v%09d.list")
    if (!tmp.renameTo(dst))
      throw new IllegalStateException(s"manifest publish failed: $dst")
    dropResolved(ns, table)
  }

  /** Trash records as (createdMillis, supersededVersion, file): the
    * record holds files referenced by manifest versions <= superseded
    * and by none after it.
    */
  private def trashRecords(ns: String,
      table: String): Seq[(Long, Long, File)] =
    Option(manifestDir(ns, table).listFiles()).getOrElse(Array.empty)
      .toSeq
      .flatMap(f => f.getName match {
        case ParquetTier.TrashName(ms, v) => Some((ms.toLong, v.toLong, f))
        // pre-v-tag records (trash-<ms>-<uuid>.list): treat as
        // supersededVersion=0 so a tier directory carried across the
        // format change still GCs them (no new pin can land at ≤0
        // unless the table is still pre-manifest) and publish() keeps
        // seeing their files as gone
        case ParquetTier.LegacyTrashName(ms) => Some((ms.toLong, 0L, f))
        case _ => None
      })

  private def trashedFiles(ns: String, table: String): Set[String] =
    trashRecords(ns, table).flatMap { case (_, _, f) => readList(f) }.toSet

  private def appendTrash(ns: String, table: String, superseded: Long,
      rel: Seq[String]): Unit =
    if (rel.nonEmpty) {
      val dir = manifestDir(ns, table)
      dir.mkdirs()
      Files.writeString(
        new File(dir, s"trash-${System.currentTimeMillis}-v$superseded-" +
          s"${java.util.UUID.randomUUID()}.list").toPath,
        rel.mkString("\n"), UTF_8)
    }

  /** Physically delete trash lists that are (a) older than the grace
    * period AND (b) not protected by an active snapshot pin — a pin at
    * version P needs every file of manifest P, which is exactly the
    * trash records with supersededVersion >= P. Files first, then the
    * record — a crash in between leaves the record, and publish()
    * treats recorded files as gone either way.
    */
  private def gcTrash(ns: String, table: String): Unit = {
    val cutoff = System.currentTimeMillis - trashGraceMs
    val minPin = minPinnedVersion(ns, table)
    val minLease = minLeasedVersion(ns, table)
    trashRecords(ns, table)
      .filter { case (ms, superseded, _) =>
        ms <= cutoff && !minPin.exists(_ <= superseded) &&
          !minLease.exists(_ <= superseded)
      }
      .foreach { case (_, _, f) =>
        readList(f).foreach(rel => new File(tableDir(ns, table), rel).delete())
        f.delete()
      }
  }

  // ----------------------------------------------------- snapshot pins

  private val pinSeq = new java.util.concurrent.atomic.AtomicLong(0)
  // (ns, table) -> pinId -> (pinned manifest version, created millis)
  private val pins = scala.collection.mutable.Map
    .empty[(String, String), scala.collection.mutable.Map[Long, (Long, Long)]]

  /** In-process pins older than this stop blocking trash GC — the
    * backstop for a pin leaked by a caller that never release()d
    * (acquisition paths are try/release-guarded, so a pin this old is
    * a bug, not a query). Queries legitimately longer than this lose
    * pin protection and fall back to the lease file + grace period.
    * Floored at 10 minutes so a zero/low trashGraceMs (tests,
    * aggressive-GC configs) cannot silently disable pin protection —
    * 20·0 = 0 would age out every pin at birth; override explicitly
    * to test the ceiling itself.
    */
  private val pinMaxAgeMs: Long =
    if (pinMaxAgeMsOverride >= 0) pinMaxAgeMsOverride
    else math.max(20L * trashGraceMs, 10L * 60 * 1000)

  private def minPinnedVersion(ns: String, table: String): Option[Long] = {
    val cutoff = System.currentTimeMillis - pinMaxAgeMs
    pins.synchronized {
      pins.get((ns, table))
        .map(_.values.collect { case (v, created) if created > cutoff => v })
        .filter(_.nonEmpty).map(_.min)
    }
  }

  /** Live lease files' minimum pinned version; reaps dead lease files
    * on the way through. Lease files are what make pins visible
    * ACROSS processes: a second ParquetTier instance on the same root
    * sees this reader's lease and keeps its files. An unexpired lease
    * is always honored; an EXPIRED lease is still honored while its
    * writer process is alive (`/proc/<pid>` on Linux) — so a foreign
    * query legitimately longer than `pinLeaseMs` keeps protection
    * without renewal heartbeats. An expired lease from THIS process
    * is reaped instead: the in-memory pin table (exact, with the
    * leak-age ceiling) is authoritative in-process, and honoring own
    * stale lease files would resurrect the leaked-pin-blocks-GC-
    * forever failure mode. (Pid reuse can extend a dead foreign lease
    * spuriously; the effect is bounded — it only delays deletion of
    * already-superseded files.)
    */
  private def minLeasedVersion(ns: String, table: String): Option[Long] = {
    val now = System.currentTimeMillis
    val self = ProcessHandle.current().pid()
    val live = Option(manifestDir(ns, table).listFiles())
      .getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case ParquetTier.LeaseName(expiry, v) =>
          lazy val owner = leaseOwner(f)
          if (expiry.toLong >= now) Some(v.toLong)
          else if (owner.exists(p => p != self &&
              new File(s"/proc/$p").exists())) Some(v.toLong)
          else { f.delete(); None } // expired + (own or dead): reap
        case _ => None
      })
    if (live.isEmpty) None else Some(live.min)
  }

  private def leaseOwner(lease: File): Option[Long] =
    try Some(Files.readString(lease.toPath, UTF_8).trim.toLong)
    catch { case _: Exception => None }

  /** Pin the table's current version and return it as an explicit
    * (version, files) snapshot: while the pin is held, no compaction
    * GC deletes a file the snapshot references, regardless of wall
    * clock — release() is what frees them (ref-counted MVCC reads, the
    * piece the single-writer sketch was missing). The pin is recorded
    * twice: in the JVM-local table (exact, ref-counted) and as a lease
    * file under `_manifest/` with a `pinLeaseMs` expiry, so a
    * compactor in ANOTHER process honors it too. Always release in a
    * `finally`; a pin lost to a crash is bounded by the lease expiry /
    * trash grace period, a pin leaked in-process by `pinMaxAgeMs`.
    */
  def snapshot(ns: String, table: String): TierSnapshot =
    lease(snapshotPinned(ns, table))

  /** Pin-only snapshot (no lease file yet) — for callers that must
    * hold a lock during acquisition; follow with [[lease]] outside
    * it. The in-memory pin fully protects against THIS process's GC
    * from the moment it is registered.
    */
  def snapshotPinned(ns: String, table: String): TierSnapshot = {
    val dir = tableDir(ns, table)
    val (version, rel) = readManifestVersioned(ns, table)
      .getOrElse((0L, fallbackFiles(ns, table).map(relativize(dir, _))))
    val id = pinSeq.incrementAndGet()
    val now = System.currentTimeMillis
    pins.synchronized {
      pins.getOrElseUpdate((ns, table),
        scala.collection.mutable.Map.empty)(id) = (version, now)
    }
    TierSnapshot(ns, table, version, rel.map(new File(dir, _).getPath),
      id, None)
  }

  /** All published manifest versions of a table, ascending — the
    * time-travel axis: every seal/compaction publishes the next
    * version, and the old list files are never deleted (only their
    * DATA files are, once trashed past grace with no pin/lease).
    */
  def manifestVersions(ns: String, table: String): Seq[Long] =
    versioned(ParquetTier.ManifestName, ns, table).map(_._1)

  /** Pin a SPECIFIC published manifest version (time travel). None if
    * the version was never published. The pin keeps the version's
    * files from GC while held — but files superseded BEFORE this pin
    * may already be physically gone; [[readAt]] surfaces that as None
    * instead of a broken scan.
    */
  def snapshotPinnedAt(ns: String, table: String,
      version: Long): Option[TierSnapshot] = {
    val dir = tableDir(ns, table)
    versioned(ParquetTier.ManifestName, ns, table)
      .find(_._1 == version).map { case (v, f) =>
        val rel = readList(f)
        val id = pinSeq.incrementAndGet()
        val now = System.currentTimeMillis
        pins.synchronized {
          pins.getOrElseUpdate((ns, table),
            scala.collection.mutable.Map.empty)(id) = (v, now)
        }
        TierSnapshot(ns, table, v, rel.map(new File(dir, _).getPath),
          id, None)
      }
  }

  /** Time-travel read: run `f` over the table exactly as manifest
    * `version` published it. The version's pin AND cross-process lease
    * are held for the whole execution of `f` (loan pattern — returning
    * a lazy DataFrame and releasing first would let a concurrent GC
    * delete files before the caller executes), so the files cannot be
    * GC'd mid-read by this or any other tier instance honoring leases.
    * None for an unknown version or one whose files trash GC already
    * deleted before this call pinned it.
    */
  def readAt[T](spark: SparkSession, ns: String, table: String,
      version: Long)(f: DataFrame => T): Option[T] =
    snapshotPinnedAt(ns, table, version).flatMap { snap =>
      // lease INSIDE the try: an Error escaping lease() must still
      // release the pin snapshotPinnedAt just registered
      var held = snap
      try {
        held = lease(snap)
        if (held.files.nonEmpty &&
            held.files.forall(p => new File(p).isFile))
          Some(f(readPinned(spark, held, held.files, None)))
        else None
      } finally release(held)
    }

  /** Write the snapshot's cross-process lease file and return the
    * snapshot carrying it. Split from [[snapshot]]'s pin so an engine
    * serializing snapshot acquisition under a lock can do this disk
    * write OUTSIDE the lock — the in-memory pin alone protects
    * against in-process GC, and the trash grace period covers the
    * sub-millisecond gap against a foreign compactor. Never throws:
    * on IO failure the snapshot still holds its in-memory pin (a
    * foreign compactor then only owes it the grace period).
    */
  def lease(s: TierSnapshot): TierSnapshot =
    try {
      val mdir = manifestDir(s.ns, s.table)
      mdir.mkdirs()
      val f = new File(mdir,
        s"pin-${System.currentTimeMillis + pinLeaseMs}-v${s.version}-" +
          s"${java.util.UUID.randomUUID()}.lease")
      Files.writeString(f.toPath, pidLine, UTF_8)
      s.copy(leaseFile = Some(f))
    } catch { case _: Exception => s }

  /** Release a snapshot pin and collect any trash it was holding. The
    * GC scan is skipped when another live pin at or below the released
    * version remains — that release cannot have unblocked any trash
    * record, and scanning the manifest dir per query-release is the
    * kind of per-query overhead that compounds at high QPS.
    */
  def release(s: TierSnapshot): Unit = {
    s.leaseFile.foreach(_.delete())
    // a remaining pin blocks the released version's trash only if it
    // is at-or-below that version AND still inside the age ceiling —
    // the same cutoff gcTrash applies, so an aged-out leaked pin
    // cannot make release skip a GC that would succeed
    val cutoff = System.currentTimeMillis - pinMaxAgeMs
    val mayUnblock = pins.synchronized {
      pins.get((s.ns, s.table)) match {
        case Some(m) =>
          m.remove(s.pinId)
          if (m.isEmpty) { pins.remove((s.ns, s.table)); true }
          else !m.values.exists { case (v, created) =>
            v <= s.version && created > cutoff
          }
        case None => true
      }
    }
    if (mayUnblock) gcTrash(s.ns, s.table)
  }

  private def pidLine: String =
    ProcessHandle.current().pid().toString + "\n"

  // -------------------------------------------------------- seal commit

  /** Stage a sealed batch (must carry a `__lynx_day` string column)
    * under a hidden staging dir; returns the staging id plus the
    * relative file paths, which the caller writes into the WAL seal
    * marker BEFORE calling publish — that ordering is what makes the
    * seal crash-atomic.
    */
  def stage(spark: SparkSession, ns: String, table: String,
      df: DataFrame): (String, Seq[String]) = {
    val id = java.util.UUID.randomUUID().toString
    val staging = stagingDir(ns, table, id)
    df.write.mode("overwrite").partitionBy(DayCol).parquet(staging.getPath)
    (id, parquetFilesUnder(staging).map(relativize(staging, _)))
  }

  /** Publish a staged seal: move its files into the table dir and add
    * them to a new manifest version. Idempotent — replay re-drives it
    * for every marker, so each step tolerates having already happened:
    * moves are skipped when the source is gone, and the manifest adds
    * only files that exist on disk, aren't already listed, and weren't
    * since compacted away (trash).
    */
  def publish(ns: String, table: String, stagingId: String,
      files: Seq[String]): Unit = {
    val staging = stagingDir(ns, table, stagingId)
    val dir = tableDir(ns, table)
    files.foreach { rel =>
      val src = new File(staging, rel)
      if (src.isFile) {
        val dst = new File(dir, rel)
        dst.getParentFile.mkdirs()
        if (!src.renameTo(dst))
          throw new IllegalStateException(s"publish: cannot move $src")
      }
    }
    if (staging.exists()) deleteRecursively(staging)
    val current = readManifest(ns, table).getOrElse(Nil)
    val known = current.toSet
    val trashed = trashedFiles(ns, table)
    val add = files.filter(rel => !known(rel) && !trashed(rel) &&
      new File(dir, rel).isFile)
    if (add.nonEmpty || readManifest(ns, table).isEmpty)
      writeManifest(ns, table, current ++ add)
  }

  /** Delete every staging dir under the tier — sound ONLY right after
    * WAL replay, before any new seal: a surviving staging dir means
    * its seal marker never became durable, so replay has already put
    * those rows back in the buffer.
    */
  def cleanStaging(): Unit =
    for {
      ns <- Option(root.listFiles()).getOrElse(Array.empty)
      if ns.isDirectory
      t <- Option(ns.listFiles()).getOrElse(Array.empty)
      if t.isDirectory
      s <- Option(t.listFiles()).getOrElse(Array.empty)
      if s.isDirectory && s.getName.startsWith(".staging-")
    } deleteRecursively(s)

  // ------------------------------------------------------------ reading

  /** Data files of the table's current version: the manifest when one
    * exists (post-compaction correctness depends on it), else a
    * directory walk. The engine pins this list under its write lock so
    * a concurrent seal or compaction can't change what a running query
    * sees.
    */
  def dataFiles(ns: String, table: String): Seq[String] = {
    val dir = tableDir(ns, table)
    readManifest(ns, table) match {
      case Some(rel) => rel.map(new File(dir, _).getPath)
      case None => fallbackFiles(ns, table).map(_.getPath)
    }
  }

  /** Read the table's current version (convenience over readFiles). */
  def read(spark: SparkSession, ns: String, table: String): DataFrame =
    readFiles(spark, ns, table, dataFiles(ns, table), None)

  /** Read a subset of a pinned file set; `dayBounds` (inclusive
    * yyyy-MM-dd strings) prunes partitions before any file I/O.
    *
    * When the table's current manifest version lists every one of
    * `files` (see [[readPinned]]), the read goes through that
    * version's cached resolution, so a warm read runs no footer-reading
    * Spark job and its columns never depend on which files pruning
    * kept. Other files (a pre-manifest table, or a version superseded
    * since it was pinned) are resolved for this read alone.
    *
    * The day pruning happens on the FILE LIST as well as in a
    * partition-column filter, so excluded days are never opened. A
    * file whose day can't be parsed from its path is kept
    * (conservative), and the column filter stays on as the
    * correctness net.
    */
  def readFiles(spark: SparkSession, ns: String, table: String,
      files: Seq[String],
      dayBounds: Option[(String, String)]): DataFrame =
    scan(spark, files, dayBounds, resolvedOf(spark, ns, table, files))

  /** [[readFiles]] for a subset `files` of the pinned snapshot `snap`:
    * the schema is that of the snapshot's own manifest version, the
    * merge of all of its files.
    */
  def readPinned(spark: SparkSession, snap: TierSnapshot,
      files: Seq[String],
      dayBounds: Option[(String, String)]): DataFrame =
    scan(spark, files, dayBounds,
      versionOf(spark, snap.ns, snap.table, snap.version, snap.files))

  /** The one read path behind [[readFiles]], [[readPinned]],
    * [[readAt]] and so Rollup and BloomStore: the files of `v` that
    * lie in `dayBounds`, minus `__lynx_day`.
    *
    * A published manifest version is immutable, so the first read of
    * one resolves it through Spark once (merged schema, file statuses,
    * `__lynx_day` partition values) and caches that beside the schema.
    * Every later read of the version builds its relation directly: a
    * `HadoopFsRelation` with `ParquetFileFormat` over a
    * [[ParquetTier.PinnedIndex]] of the kept files' cached statuses.
    * A warm read therefore does no DataSource resolution, path glob,
    * existence check, directory listing or partition inference; only
    * the files the scan itself opens are touched.
    */
  private def scan(spark: SparkSession, files: Seq[String],
      dayBounds: Option[(String, String)], v: ParquetTier.Resolved)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val listed = files.filter(ParquetTier.inDays(dayBounds))
    // all files pruned: keep one so the scan has a path; the day
    // filter below removes every row without scanning data
    val toRead = if (listed.nonEmpty) listed else files.take(1)
    val df = relation(spark, v, toRead)
    val pruned = dayBounds match {
      case Some((lo, hi)) =>
        df.filter(col(DayCol).cast("string") >= lo &&
          col(DayCol).cast("string") <= hi)
      case None => df
    }
    pruned.drop(DayCol)
  }

  /** `files`, each listed in `v`, as a parquet relation over their
    * resolved statuses, `__lynx_day` included.
    */
  private def relation(spark: SparkSession, v: ParquetTier.Resolved,
      files: Seq[String]): DataFrame = {
    val index = new ParquetTier.PinnedIndex(spark, v.partitionSchema,
      files.map(f => v.files(absolute(f))))
    val dataSchema = StructType(
      v.schema.filterNot(f => v.partitionSchema.fieldNames.contains(f.name)))
    GraftSqlBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index,
      v.partitionSchema, dataSchema, None, new ParquetFileFormat,
      Map.empty)(spark), isStreaming = false))
  }

  // ---------------------------------------------------- version files

  // (ns, table) -> one published version as Spark resolved it.
  // Publishing a newer version drops the entry, so at most one version
  // per table is held and the cache needs no size bound.
  private val resolved = new java.util.concurrent.ConcurrentHashMap[
    (String, String), ParquetTier.Resolved]
  private[graft] val schemaCacheHits = new AtomicLong
  private[graft] val schemaCacheMisses = new AtomicLong

  private def dropResolved(ns: String, table: String): Unit =
    resolved.remove((ns, table))

  /** `files` as Spark's parquet source resolves them: one Spark job
    * that merges every footer's schema, plus the listing and partition
    * inference of the files' day directories. `tolerant` skips footers
    * that cannot be read.
    */
  private def resolve(spark: SparkSession, ns: String, table: String,
      version: Long, files: Seq[String],
      tolerant: Boolean = false): ParquetTier.Resolved = {
    val df = spark.read.option("mergeSchema", "true")
      .option("ignoreCorruptFiles", tolerant.toString)
      .option("basePath", tableDir(ns, table).getPath)
      .parquet(files: _*)
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    } match {
      case Some(i: PartitioningAwareFileIndex) => i
      case other => throw new IllegalStateException(
        s"parquet read of $ns.$table resolved to $other")
    }
    val spec = index.partitionSpec()
    val values = spec.partitions.map(p => p.path -> p.values).toMap
    val statuses = index.allFiles().map { st =>
      absolute(st.getPath.toUri.getPath) ->
        (st, values.getOrElse(st.getPath.getParent, InternalRow.empty))
    }.toMap
    ParquetTier.Resolved(version, df.schema, spec.partitionColumns,
      statuses)
  }

  /** Manifest `version`, which lists `files`, resolved. Published
    * versions are immutable, so each is resolved once; version 0 (the
    * pre-manifest directory walk) can change and is resolved on every
    * call. A cached entry serves only the exact file list it was
    * resolved from, so a table rebuilt under the same version numbers
    * is resolved afresh.
    */
  private def versionOf(spark: SparkSession, ns: String,
      table: String, version: Long,
      files: Seq[String]): ParquetTier.Resolved = {
    val cached = Option(resolved.get((ns, table))).filter(e =>
      e.version == version && e.files.size == files.size &&
        files.forall(f => e.files.contains(absolute(f))))
    cached match {
      case Some(e) =>
        schemaCacheHits.incrementAndGet()
        e
      case None =>
        schemaCacheMisses.incrementAndGet()
        try {
          val r = resolve(spark, ns, table, version, files)
          if (version > 0)
            resolved.merge((ns, table), r,
              (old, nu) => if (nu.version >= old.version) nu else old)
          r
        } catch {
          // a footer that cannot be read: merge the readable ones for
          // this read only. A scan that reaches the bad file still
          // fails; one whose pruning skips it succeeds, as it did when
          // only the kept files were inferred. Nothing is cached, so a
          // transient read fault is not kept for the version.
          case NonFatal(_) =>
            resolve(spark, ns, table, version, files, tolerant = true)
        }
    }
  }

  /** Resolution for [[readFiles]]: the current version's when it
    * lists all of `files`, else the files' own.
    */
  private def resolvedOf(spark: SparkSession, ns: String, table: String,
      files: Seq[String]): ParquetTier.Resolved = {
    val dir = tableDir(ns, table)
    readManifestVersioned(ns, table)
      .map { case (v, rel) => (v, rel.map(new File(dir, _).getPath)) }
      .filter { case (_, all) =>
        val listed = all.map(absolute).toSet
        files.forall(f => listed(absolute(f)))
      } match {
        case Some((v, all)) => versionOf(spark, ns, table, v, all)
        case None =>
          schemaCacheMisses.incrementAndGet()
          resolve(spark, ns, table, 0L, files)
      }
  }

  /** `path` absolute and without `.` or `..` segments, as Hadoop's
    * `Path` normalizes a status path, so a file named through a tier
    * root such as `./tier` or `../tier` finds its resolved status.
    */
  private def absolute(path: String): String =
    new File(path).toPath.toAbsolutePath.normalize.toString

  // ------------------------------------------------- snapshot transfer

  /** Export manifest version `version` (None = current) of the table
    * as a SELF-CONTAINED snapshot directory: every data file the
    * version references, copied under its relative path, plus a
    * `_snapshot.json` manifest recording (namespace, table, version,
    * per-file size + CRC32). The manifest is written LAST via
    * tmp+rename — its presence marks a complete export, so a crashed
    * copy can never be mistaken for a snapshot. The version is
    * PINNED (+ cross-process lease) for the whole copy: compaction /
    * retention GC cannot delete a referenced file mid-export.
    * Returns the number of files exported; IllegalArgumentException
    * for an unknown version or one already past the GC window.
    *
    * This is the missing half of the one-box-per-namespace
    * deployment story (backup/restore — a lost disk loses the WAL
    * and tier permanently without it) and the building block of
    * mechanized namespace migration. Derived artifacts (bloom/zone,
    * rollup partials) are deliberately NOT shipped: they rebuild
    * from the imported data (LynxEngine re-indexes after import),
    * and shipping them would add staleness states the import would
    * have to reason about.
    *
    * 100 TB shape: the contract here is correctness (pin, per-file
    * CRC, manifest-last commit); the byte movement is a plain
    * filesystem copy that a deployment parallelizes or delegates to
    * the object store's server-side copy — O(version size) data, one
    * small JSON of metadata.
    */
  def exportSnapshot(ns: String, table: String, version: Option[Long],
      dest: File): Int = {
    val snap = version match {
      case Some(v) => snapshotPinnedAt(ns, table, v)
        .getOrElse(throw new IllegalArgumentException(
          s"version $v was never published for table $table"))
      case None => snapshotPinned(ns, table)
    }
    var held = snap
    try {
      held = lease(snap)
      val dir = tableDir(ns, table)
      dest.mkdirs()
      val entries = held.files.map { abs =>
        val src = new File(abs)
        if (!src.isFile)
          throw new IllegalArgumentException(
            s"version ${held.version} of $table is past the GC " +
              s"window (missing ${src.getName})")
        val rel = relativize(dir, src)
        val out = new File(dest, rel)
        out.getParentFile.mkdirs()
        val crc = copyWithCrc(src, out)
        (rel, src.length(), crc)
      }
      val json = entries.map { case (rel, size, crc) =>
        s"""{"path":${ParquetTier.jsonStr(rel)},"size":$size,""" +
          s""""crc32":$crc}"""
      }.mkString(
        s"""{"namespace":${ParquetTier.jsonStr(ns)},""" +
          s""""table":${ParquetTier.jsonStr(table)},""" +
          s""""version":${held.version},"files":[""",
        ",", "]}")
      val tmp = new File(dest, ".snapshot.json.tmp")
      Files.writeString(tmp.toPath, json, UTF_8)
      if (!tmp.renameTo(new File(dest, "_snapshot.json")))
        throw new IllegalStateException(
          s"snapshot manifest publish failed under $dest")
      entries.size
    } finally release(held)
  }

  /** Import a snapshot directory (the [[exportSnapshot]] layout) as
    * table (ns, table). STRICT: the target table must not exist in
    * this tier (no manifest, no data files) — restore/migration
    * target a fresh engine, and silently replacing live data is not
    * a semantics this API offers. Every file is verified against the
    * snapshot manifest's size AND CRC32 while copying into a hidden
    * staging dir; any mismatch (tampering, torn copy, bit rot) fails
    * the import whole before anything is visible. The commit point
    * is ONE manifest write carrying the snapshot's original version
    * number — time-travel reads at that version answer identically
    * on the importing engine, and later seals continue at version+1.
    * Returns the published version.
    */
  def importSnapshot(ns: String, table: String, src: File): Long = {
    val mf = new File(src, "_snapshot.json")
    require(mf.isFile,
      s"$src is not a snapshot (no _snapshot.json — incomplete export?)")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(mf.toPath))
    val version = root.get("version").asLong()
    val files = root.get("files")
    val dir = tableDir(ns, table)
    // crashed-import auto-recovery: a pending marker with no manifest
    // means a previous import died between its file moves and its
    // manifest commit — nothing was ever published, so the partial
    // copy is scrubbed and this import proceeds fresh. (A marker WITH
    // a manifest means the crash hit after the commit point: the
    // import completed; only the marker needs removing.)
    val pending = new File(dir, ParquetTier.ImportPending)
    if (pending.isFile) {
      if (readManifest(ns, table).isEmpty)
        parquetFilesUnder(dir).foreach(_.delete())
      pending.delete()
    }
    require(readManifest(ns, table).isEmpty &&
      parquetFilesUnder(dir).isEmpty,
      s"import target $ns/$table already holds data — import " +
        "requires a fresh table (restore to a fresh engine, or drop " +
        "the existing table first)")
    val staging = stagingDir(ns, table,
      "import-" + java.util.UUID.randomUUID())
    try {
      val rels = (0 until files.size()).map { i =>
        val e = files.get(i)
        val rel = e.get("path").asText()
        require(!rel.startsWith("/") && !rel.split("/").contains(".."),
          s"snapshot path escapes the table dir: $rel")
        val from = new File(src, rel)
        require(from.isFile, s"snapshot is missing $rel")
        require(from.length() == e.get("size").asLong(),
          s"size mismatch for $rel (snapshot says ${
            e.get("size").asLong()}, file is ${from.length()})")
        val to = new File(staging, rel)
        to.getParentFile.mkdirs()
        val crc = copyWithCrc(from, to)
        require(crc == e.get("crc32").asLong(),
          s"CRC mismatch for $rel — snapshot is corrupt or tampered")
        rel
      }
      // all verified: drop the pending marker (created BEFORE the
      // first move — a crash mid-move then reads as an interrupted
      // import, which fallbackFiles refuses to serve and a re-run
      // auto-recovers), move into the table dir, then the single
      // manifest write is the atomic commit
      dir.mkdirs()
      Files.write(pending.toPath, Array.empty[Byte])
      rels.foreach { rel =>
        val dst = new File(dir, rel)
        dst.getParentFile.mkdirs()
        if (!new File(staging, rel).renameTo(dst))
          throw new IllegalStateException(s"import: cannot move $rel")
      }
      val mdir = manifestDir(ns, table)
      mdir.mkdirs()
      val tmp = new File(mdir, s".v$version.tmp")
      Files.writeString(tmp.toPath, rels.mkString("\n"), UTF_8)
      val dst = new File(mdir, f"v$version%09d.list")
      if (!tmp.renameTo(dst))
        throw new IllegalStateException(s"manifest publish failed: $dst")
      dropResolved(ns, table)
      pending.delete()
      version
    } finally if (staging.exists()) deleteRecursively(staging)
  }

  /** Streamed copy computing the source's CRC32 on the way through. */
  private def copyWithCrc(src: File, dst: File): Long = {
    val crc = new java.util.zip.CRC32
    val in = new java.io.BufferedInputStream(
      new java.io.FileInputStream(src), 1 << 16)
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(dst), 1 << 16)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        crc.update(buf, 0, n)
        out.write(buf, 0, n)
        n = in.read(buf)
      }
    } finally { in.close(); out.close() }
    crc.getValue
  }

  // --------------------------------------------------------- retention

  /** Retention expiry: drop every day-partition strictly older than
    * `beforeDay` ("yyyy-MM-dd", exclusive) from the current manifest —
    * the age-out a time-series tier needs and the reference never
    * addresses (its buffer only ever grows; SURVEY.md §3.4). The
    * manifest flip is the commit point, exactly like compaction:
    * a crash before it leaves the old manifest current; after it,
    * expired files are trash under the usual grace/pin protections,
    * so in-flight queries that pinned the previous manifest finish
    * their scans untouched. Day strings compare lexicographically ==
    * chronologically; a file without a day directory is never expired
    * (conservative). Call through LynxEngine.expire, which serializes
    * manifest writers via the engine write lock. Returns the number
    * of data files dropped.
    *
    * Scale shape: pure manifest metadata — no data file is read or
    * rewritten, so expiring a year of partitions on a 100 TB table is
    * O(manifest length) driver work and zero cluster work.
    */
  def expire(ns: String, table: String, beforeDay: String): Int = {
    val dir = tableDir(ns, table)
    if (!dir.isDirectory) return 0
    val (currentVersion, currentRel) = readManifestVersioned(ns, table)
      .getOrElse((0L, fallbackFiles(ns, table).map(relativize(dir, _))))
    val (dropped, kept) = currentRel.partition { rel =>
      ParquetTier.DayFromPath.findFirstMatchIn(rel)
        .exists(_.group(1) < beforeDay)
    }
    if (dropped.isEmpty) return 0
    writeManifest(ns, table, kept)
    appendTrash(ns, table, currentVersion, dropped)
    gcTrash(ns, table)
    dropped.size
  }

  // --------------------------------------------------------- compaction

  /** Compact the table's current version: every seal appends a file
    * per day partition, and at 100 TB the small-file count (not data
    * volume) becomes the scan bottleneck — compaction rewrites each
    * day to a single file (hash-clustered on the day column, so each
    * output task owns whole days). New files land beside the old ones
    * (Spark part names are job-unique), a new manifest version points
    * at only the new files, and the old files go to the trash list for
    * deferred deletion — in-flight queries that pinned the previous
    * manifest keep reading them until the grace period expires. Call
    * through LynxEngine.compact, which serializes manifest writers via
    * the engine write lock.
    */
  def compact(spark: SparkSession, ns: String, table: String): Unit =
    compact(spark, ns, table, Nil)

  /** Compact with optional data clustering: `clusterBy` columns are
    * sorted WITHIN each day's rewrite, so parquet row-group min/max
    * statistics on those columns become tight, disjoint ranges — a
    * point/range predicate on a clustered column then skips whole row
    * groups at scan time (and whole files once a day spans several).
    * This is the scan-locality lever the 100 TB layout needs for
    * selective non-time predicates (the day partitioning already
    * handles time). `writeOptions` passes parquet knobs (e.g.
    * `parquet.block.size` to bound row-group size) to the rewrite.
    */
  def compact(spark: SparkSession, ns: String, table: String,
      clusterBy: Seq[String],
      writeOptions: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.col
    val dir = tableDir(ns, table)
    if (!dir.isDirectory) return
    val (currentVersion, currentRel) = readManifestVersioned(ns, table)
      .getOrElse((0L, fallbackFiles(ns, table).map(relativize(dir, _))))
    if (currentRel.isEmpty) return
    val staging = stagingDir(ns, table,
      "compact-" + java.util.UUID.randomUUID())
    val current = currentRel.map(new File(dir, _).getPath)
    val compacted = relation(spark,
      versionOf(spark, ns, table, currentVersion, current), current)
      .repartition(col(DayCol))
    val clustered =
      if (clusterBy.isEmpty) compacted
      else compacted.sortWithinPartitions(
        (DayCol +: clusterBy).map(col): _*)
    clustered
      .write.mode("overwrite").options(writeOptions)
      .partitionBy(DayCol).parquet(staging.getPath)
    val newRel = parquetFilesUnder(staging).map(relativize(staging, _))
    newRel.foreach { rel =>
      val dst = new File(dir, rel)
      dst.getParentFile.mkdirs()
      if (!new File(staging, rel).renameTo(dst))
        throw new IllegalStateException(s"compact: cannot publish $rel")
    }
    deleteRecursively(staging)
    // manifest flip is the commit point: a crash before it leaves the
    // old manifest current (new files are unreferenced garbage, never
    // double-read); after it, old files are trash with a grace period
    writeManifest(ns, table, newRel)
    appendTrash(ns, table, currentVersion, currentRel)
    gcTrash(ns, table)
  }
}

object ParquetTier {
  /** Reserved tier partition column; user tag keys may not start with
    * `__lynx` (enforced at ingest).
    */
  val DayCol = "__lynx_day"

  /** A manifest version as Spark resolved it: its merged `schema`
    * (the `partitionSchema` column `__lynx_day` included), and each
    * listed file's status and partition values by absolute path.
    */
  private final case class Resolved(version: Long, schema: StructType,
      partitionSchema: StructType,
      files: Map[String, (FileStatus, InternalRow)])

  /** A file index over statuses already resolved: `files` in order,
    * each with its partition values. Listing, partition pruning and
    * size come from [[PartitioningAwareFileIndex]]; nothing here
    * touches the file system.
    */
  private final class PinnedIndex(spark: SparkSession,
      partitionColumns: StructType, files: Seq[(FileStatus, InternalRow)])
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    private val spec = PartitionSpec(partitionColumns,
      files.map { case (st, v) => PartitionPath(v, st.getPath.getParent) }
        .distinctBy(_.path))
    private val children = files.map(_._1).groupBy(_.getPath.getParent)
      .map { case (d, sts) => d -> sts.toArray }
    private val leaves = mutable.LinkedHashMap.from(
      files.map { case (st, _) => st.getPath -> st })
    override def partitionSpec(): PartitionSpec = spec
    override protected def leafFiles
        : mutable.LinkedHashMap[Path, FileStatus] = leaves
    override protected def leafDirToChildrenFiles
        : Map[Path, Array[FileStatus]] = children
    override def rootPaths: Seq[Path] = files.map(_._1.getPath)
    override def refresh(): Unit = ()
  }

  /** Extracts the day value from a data-file path's partition dir. */
  private[graft] val DayFromPath = """__lynx_day=(\d{4}-\d{2}-\d{2})/""".r

  /** Whether a data file's day lies in the inclusive `dayBounds`
    * (yyyy-MM-dd); a path without a parsable day is kept.
    */
  def inDays(dayBounds: Option[(String, String)])(path: String): Boolean =
    dayBounds.forall { case (lo, hi) =>
      DayFromPath.findFirstMatchIn(path).forall { m =>
        val d = m.group(1); d >= lo && d <= hi
      }
    }

  /** Minimal JSON string escaping for snapshot manifests (paths and
    * identifiers; control chars included for safety).
    */
  private[tier] def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Marker present while importSnapshot's file moves are in flight
    * (created before the first move, removed after the manifest
    * commit): readers treat its presence in a manifestless table as
    * an interrupted import, never as a legacy directory layout.
    */
  private[tier] val ImportPending = "_import-pending"

  private val ManifestName = """v(\d+)\.list""".r
  private val TrashName = """trash-(\d+)-v(\d+)-[0-9a-f-]+\.list""".r
  private val LegacyTrashName = """trash-(\d+)-[0-9a-f-]+\.list""".r
  private[tier] val LeaseName = """pin-(\d+)-v(\d+)-[0-9a-f-]+\.lease""".r
}

/** An explicitly pinned tier read: the manifest `version` and the
  * absolute `files` it resolved to (version 0 = pre-manifest directory
  * walk). Hold it for the duration of the read and release() it —
  * compaction GC will not delete a referenced file while pinned.
  */
final case class TierSnapshot(ns: String, table: String, version: Long,
    files: Seq[String], private[tier] val pinId: Long,
    private[tier] val leaseFile: Option[File] = None)
