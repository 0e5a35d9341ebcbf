package graft.engine

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tier.ParquetTier

/** Incremental per-segment rollup maintenance over a tier table — the
  * "never rescan for the dashboard" path at 100 TB. Tier segments are
  * immutable once published (MVCC manifests; compaction/expiry only
  * ever swap the FILE LIST), so a segment's partial aggregate is
  * immutable too: the store keeps one (group → count, exact sum) map
  * per (rollup, file), and serving a rollup
  *
  *   1. pins the current manifest (same snapshot discipline as a
  *      query — a racing compactor can't GC files mid-read),
  *   2. computes partials ONLY for files it has not seen, in ONE
  *      Spark job over just those files (grouped by
  *      `input_file_name()`), and
  *   3. merges partials driver-side over the pinned file list.
  *
  * A fresh dashboard refresh after a seal therefore reads the NEW
  * segment only — O(new data), not O(table) — and a compaction
  * swap simply makes the compacted files the "new" ones once (their
  * partials are then cached again; superseded files' entries are
  * unreachable because the merge walks the pinned manifest, and
  * [[prune]] drops them).
  *
  * Exactness: partial sums are DECIMAL(28,10) (graft.ops.Parity
  * discipline), so the driver merge is order-independent and the
  * served rollup is EQUAL to a full re-aggregation — spec-pinned
  * against the engine's own SQL over the same table, including across
  * a compaction swap.
  *
  * Memory contract: driver state is (groups × live files) cells per
  * rollup — the dashboard-dimension assumption (bounded group
  * cardinality: hosts, days, sources), NOT arbitrary-cardinality
  * group-bys; compaction keeps the file factor at one per day
  * partition. The assumption is ENFORCED, not hoped for:
  * [[RollupStore.MaxGroups]] bounds the distinct groups a rollup may
  * produce (checked per computed segment AND on the merged result),
  * and a `groupCol=user_id`-style request fails fast with the bound
  * in the error instead of growing the driver cache unboundedly —
  * high-cardinality rollups belong in the query path.
  */
final class RollupStore(spark: SparkSession, tier: ParquetTier,
    maxGroups: Int = RollupStore.MaxGroups) {

  final case class RollupKey(ns: String, table: String,
      groupCol: String, valueCol: String)

  // (rollup, absolute file path) -> group -> (count, exact sum)
  private val partials = scala.collection.concurrent.TrieMap
    .empty[(RollupKey, String),
      Map[Option[String], (Long, java.math.BigDecimal)]]

  // persisted-partials bookkeeping (the BloomStore discipline):
  // sealed files are immutable, so a partial computed once is valid
  // forever — serve() appends new partials under the tier root and a
  // restarted process lazily reloads them instead of re-aggregating
  // the whole tier (at 100 TB, the difference between an index and a
  // cache). diskChecked caches the one-time per-key load; IO and the
  // set are guarded by diskLock, never held during Spark work.
  private val diskLock = new Object
  private val diskChecked = scala.collection.mutable.Set.empty[RollupKey]

  /** Files the LAST serve had to aggregate — the spec hook proving
    * incrementality (empty on a fully warm serve).
    */
  @volatile private[graft] var lastComputedFiles: Seq[String] = Nil

  private def canon(path: String): String = {
    // input_file_name() yields a percent-encoded URI (file:/a%20b…);
    // manifest paths are raw filesystem paths. Decode through URI so
    // both key identically — otherwise a path with any URI-special
    // character would never match its partial and silently serve an
    // empty (undercounting) cache entry forever.
    val p =
      if (path.startsWith("file:"))
        try {
          val u = new java.net.URI(path).getPath
          if (u != null) u else path.stripPrefix("file:")
        } catch {
          case _: java.net.URISyntaxException =>
            path.stripPrefix("file:")
        }
      else path
    new java.io.File(p).getAbsolutePath
  }

  /** Serve `SELECT groupCol, count(*), sum(valueCol)` over the
    * table's current pinned manifest, computing only unseen segments.
    * Group keys are served as strings (None = NULL group); sums are
    * exact decimals surfaced as doubles.
    *
    * `dayBounds` (inclusive yyyy-MM-dd pair) serves a time-windowed
    * dashboard: the merge walks only manifest files whose
    * `__lynx_day=` path falls in range — partials for other days are
    * neither computed nor touched, so a 7-day pane over years of
    * tier data costs O(7 days of new segments). Day granularity is
    * exact because the tier day-partitions every segment; a file
    * without a parseable day is included conservatively (same rule
    * as ParquetTier.readFiles).
    */
  def rollup(ns: String, table: String, groupCol: String,
      valueCol: String, dayBounds: Option[(String, String)] = None)
      : Seq[(Option[String], Long, Double)] = {
    // valueCol reaches expr() — a SQL parser — so enforce bare column
    // names here too, independent of the HTTP layer's own check
    require(groupCol.matches("[A-Za-z_][A-Za-z0-9_]*") &&
      valueCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
      "group/value must be bare column names")
    val key = RollupKey(ns, table, groupCol, valueCol)
    // surface any partials an earlier process persisted (one-time
    // per-key disk read; a warm-from-disk serve then computes ZERO
    // segments instead of re-aggregating the table)
    ensureLoaded(key)
    // full snapshot (pin + lease file), not just the in-process pin:
    // a long cold serve must be visible to an out-of-process
    // compactor too, exactly like the query path
    val snap = tier.snapshot(ns, table)
    try {
      val inRange: String => Boolean = dayBounds match {
        case Some((lo, hi)) => path =>
          ParquetTier.DayFromPath.findFirstMatchIn(path) match {
            case Some(m) => val d = m.group(1); d >= lo && d <= hi
            case None => true
          }
        case None => _ => true
      }
      val files = snap.files.map(canon).filter(inRange)
      // SNAPSHOT the cached partials into a local map first: the
      // merge below must never read the shared TrieMap again, or a
      // concurrent prune() (keyed to a NEWER manifest after a racing
      // compaction) could evict this pinned version's entries
      // mid-merge and a getOrElse(Map.empty) would silently
      // undercount. Anything not in the local snapshot is computed
      // fresh this serve.
      val cached = files.flatMap(f => partials.get((key, f)).map(f -> _))
        .toMap
      val missing = files.filterNot(cached.contains)
      lastComputedFiles = missing
      val computed: Map[String,
          Map[Option[String], (Long, java.math.BigDecimal)]] =
        if (missing.isEmpty) Map.empty
        else {
          val rows = tier.readPinned(spark, snap, missing, None)
            .withColumn("__file", input_file_name())
            .groupBy(col("__file"), col(groupCol).cast("string").as("g"))
            .agg(count(lit(1)).as("c"),
              sum(expr(s"try_cast($valueCol AS DECIMAL(28,10))")).as("s"))
            .collect()
          val byFile = rows.groupBy(r => canon(r.getString(0)))
          // every computed row must key back to a requested file — a
          // canon() mismatch here would cache an EMPTY partial for a
          // file that has rows, a permanent silent undercount; fail
          // loudly instead
          val missingSet = missing.toSet
          val strays = byFile.keySet.filterNot(missingSet)
          require(strays.isEmpty,
            s"rollup partials keyed to unrequested files: $strays — " +
              "input_file_name()/manifest path canonicalization drifted")
          missing.map { f =>
            val m = byFile
              .getOrElse(f, Array.empty[org.apache.spark.sql.Row])
              .map { r =>
                Option(r.getString(1)) ->
                  (r.getLong(2),
                    Option(r.getDecimal(3))
                      .getOrElse(java.math.BigDecimal.ZERO))
              }.toMap
            require(m.size <= maxGroups,
              s"rollup group column '$groupCol' produced ${m.size} " +
                s"distinct groups in one segment — exceeds the " +
                s"maintained-rollup bound ($maxGroups); " +
                "use the query path for high-cardinality group-bys")
            f -> m
          }.toMap
        }
      val merged = scala.collection.mutable.Map
        .empty[Option[String], (Long, java.math.BigDecimal)]
      files.foreach { f =>
        cached.getOrElse(f, computed.getOrElse(f, Map.empty)).foreach {
          case (g, (c, s)) =>
            val (c0, s0) = merged.getOrElse(g,
              (0L, java.math.BigDecimal.ZERO))
            merged(g) = (c0 + c, s0.add(s))
        }
      }
      require(merged.size <= maxGroups,
        s"rollup group column '$groupCol' produced ${merged.size} " +
          s"distinct groups across segments — exceeds the " +
          s"maintained-rollup bound ($maxGroups); " +
          "use the query path for high-cardinality group-bys")
      // cache only after BOTH cardinality bounds passed — a rejected
      // rollup must not leave partial driver state behind (per-file
      // maps can each pass while their union does not)
      computed.foreach { case (f, m) => partials.put((key, f), m) }
      persistAppend(key, computed)
      merged.toSeq
        .map { case (g, (c, s)) => (g, c, s.doubleValue) }
        .sortBy(_._1)
    } finally tier.release(snap)
  }

  /** Drop cached partials for files no longer in any live manifest —
    * in memory AND on disk (the persisted jsonl compacts to the
    * surviving entries) — call after compaction/expiry GC. Persisted
    * rollups this process never served are swept too (restarts must
    * not exempt an index from GC). Never required for correctness: a
    * serve snapshots the partials it needs into a local map up
    * front, so an eviction racing the merge costs that serve at most
    * a recompute, never an undercount.
    */
  def prune(): Unit = pruneWhere(_ => true)

  /** Table-scoped prune — the write path's variant: only the changed
    * table's rollups are swept, so a seal-inline compaction never
    * pays a whole-index pass for one table's dead entries.
    */
  def prune(ns: String, table: String): Unit =
    pruneWhere(k => k.ns == ns && k.table.equalsIgnoreCase(table))

  private def pruneWhere(keepKey: RollupKey => Boolean): Unit = {
    // rollups resident BEFORE the sweep keep serving from memory;
    // ones loaded ONLY for the sweep are dropped again at the end —
    // maintenance must not grow the serving cache (the BloomStore
    // per-key-sweep discipline, proportionally lighter here because
    // rollup partials are dashboard-bounded maps, not 4 KB blooms)
    val residentBefore = partials.keysIterator.map(_._1).toSet
    // surface every persisted rollup IN SCOPE so the sweep sees it
    diskLock.synchronized {
      for {
        base <- Option(
          new File(tier.rootPath, RollupStore.IdxDirName).listFiles())
        nsDir <- base if nsDir.isDirectory
        tDir <- Option(nsDir.listFiles()).getOrElse(Array.empty[File])
        if tDir.isDirectory
        mf <- Option(tDir.listFiles()).getOrElse(Array.empty[File])
        if mf.getName.endsWith(".meta")
      } readMeta(mf).filter(keepKey).foreach(k => loadLocked(k))
    }
    val live = partials.keys.map(_._1).filter(keepKey)
      .map(k => (k.ns, k.table)).toSet
      .flatMap { nsTable: (String, String) =>
        tier.dataFiles(nsTable._1, nsTable._2).map(canon)
      }
    val deadByKey = partials.keys
      .filter { case (k, _) => keepKey(k) }
      .filterNot { case (_, f) => live.contains(f) }
      .toSeq.groupBy(_._1)
    deadByKey.foreach { case (k, dead) =>
      dead.foreach(partials.remove)
      diskLock.synchronized {
        jsonlFile(k).foreach { jf =>
          if (jf.isFile) try {
            val sb = new StringBuilder
            partials.keysIterator.filter(_._1 == k).foreach { pk =>
              partials.get(pk).foreach(m =>
                sb.append(entryLine(pk._2, m)))
            }
            val tmp = new File(jf.getParentFile, s".${jf.getName}.tmp")
            java.nio.file.Files.write(tmp.toPath,
              sb.toString.getBytes(UTF_8))
            java.nio.file.Files.move(tmp.toPath, jf.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          } catch { case e: java.io.IOException =>
            System.err.println(
              s"[rollupstore] prune rewrite failed for $jf: $e")
          }
        }
      }
    }
    // drop sweep-only loads (and their load latch, so a later serve
    // reloads lazily): the cache ends the sweep no larger than it
    // began, whatever the on-disk index holds
    val loadedOnly =
      partials.keysIterator.map(_._1).toSet -- residentBefore
    if (loadedOnly.nonEmpty) diskLock.synchronized {
      partials.keysIterator.filter(k => loadedOnly(k._1)).toSeq
        .foreach(partials.remove)
      diskChecked --= loadedOnly
    }
  }

  /** Cached cell count (files × groups summed) — observability. */
  def cachedCells: Int = partials.values.map(_.size).sum

  // ------------------------------------------------------ persistence

  /** `<tierRoot>/_rollupidx/<ns>/<tableLower>/` — '_'-prefixed, so
    * every tier walk/scan treats it as hidden. None when a path
    * segment is unsafe: the rollup then lives in memory only (still
    * correct, just not restart-durable).
    */
  private def keyDir(k: RollupKey): Option[File] =
    if (BloomStore.safeSeg(k.ns) && BloomStore.safeSeg(k.table.toLowerCase))
      Some(new File(new File(
        new File(tier.rootPath, RollupStore.IdxDirName), k.ns),
        k.table.toLowerCase))
    else None

  private def baseName(k: RollupKey): String =
    s"${k.groupCol.toLowerCase}__${k.valueCol.toLowerCase}"

  private def jsonlFile(k: RollupKey): Option[File] =
    keyDir(k).map(new File(_, s"${baseName(k)}.jsonl"))

  /** Sidecar carrying the EXACT original-case key fields — prune's
    * disk walk reconstructs the RollupKey from it (the jsonl name is
    * lowercased, and the tier's table dirs are case-sensitive).
    */
  private def metaFile(k: RollupKey): Option[File] =
    keyDir(k).map(new File(_, s"${baseName(k)}.meta"))

  private def readMeta(mf: File): Option[RollupKey] =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = mapper.readTree(
        java.nio.file.Files.readAllBytes(mf.toPath))
      val dec = java.util.Base64.getDecoder
      def f(name: String) =
        new String(dec.decode(n.get(name).asText()), UTF_8)
      Some(RollupKey(f("ns"), f("t"), f("g"), f("v")))
    } catch { case _: Exception => None }

  /** One jsonl line per (file → groups) partial: base64 path (the
    * BloomStore relative/absolute convention), groups as
    * [b64Key|null, count, exactSumString] triples. Base64 everywhere
    * sidesteps JSON escaping; sums round-trip via toPlainString /
    * BigDecimal(String) exactly.
    */
  private def entryLine(canonPath: String,
      m: Map[Option[String], (Long, java.math.BigDecimal)]): String = {
    val b64 = java.util.Base64.getEncoder
    val rootP = new File(tier.rootPath).toPath.toAbsolutePath
    val p = java.nio.file.Paths.get(canonPath)
    val (fk, fv) =
      if (p.startsWith(rootP)) ("fr", rootP.relativize(p).toString)
      else ("fa", canonPath)
    val sb = new StringBuilder
    sb.append("{\"").append(fk).append("\":\"")
      .append(b64.encodeToString(fv.getBytes(UTF_8)))
      .append("\",\"g\":[")
    var first = true
    m.foreach { case (g, (c, s)) =>
      if (!first) sb.append(',')
      first = false
      sb.append('[')
      g match {
        case Some(v) => sb.append('"')
          .append(b64.encodeToString(v.getBytes(UTF_8))).append('"')
        case None => sb.append("null")
      }
      sb.append(',').append(c).append(",\"")
        .append(s.toPlainString).append("\"]")
    }
    sb.append("]}\n")
    sb.toString
  }

  /** Append freshly computed partials (one flush, O(new files)). */
  private def persistAppend(key: RollupKey,
      computed: Map[String,
        Map[Option[String], (Long, java.math.BigDecimal)]]): Unit =
    if (computed.nonEmpty) diskLock.synchronized {
      jsonlFile(key).foreach { jf =>
        try {
          jf.getParentFile.mkdirs()
          metaFile(key).foreach { mf =>
            if (!mf.isFile) {
              val b64 = java.util.Base64.getEncoder
              def e(s: String) = b64.encodeToString(s.getBytes(UTF_8))
              java.nio.file.Files.write(mf.toPath,
                (s"""{"ns":"${e(key.ns)}","t":"${e(key.table)}",""" +
                  s""""g":"${e(key.groupCol)}","v":"${e(key.valueCol)}"}""")
                  .getBytes(UTF_8))
            }
          }
          val sb = new StringBuilder
          computed.foreach { case (f, m) => sb.append(entryLine(f, m)) }
          java.nio.file.Files.write(jf.toPath,
            sb.toString.getBytes(UTF_8),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        } catch { case e: java.io.IOException =>
          // persistence is an optimization: a failed append costs a
          // recompute after restart, never correctness
          System.err.println(s"[rollupstore] persist failed for $jf: $e")
        }
      }
    }

  /** One-time per-key lazy load of persisted partials (caller need
    * not hold diskLock; loadLocked is the under-lock body). Torn
    * final lines (crash mid-append) are skipped — the file simply
    * recomputes next serve. putIfAbsent keeps any fresher in-memory
    * partial (identical anyway: partials are deterministic from
    * immutable files).
    */
  private def ensureLoaded(key: RollupKey): Unit =
    diskLock.synchronized(loadLocked(key))

  private def loadLocked(key: RollupKey): Unit =
    if (!diskChecked(key)) {
      diskChecked += key
      jsonlFile(key).foreach { jf =>
        if (jf.isFile) try {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val dec = java.util.Base64.getDecoder
          val rootP = new File(tier.rootPath).toPath.toAbsolutePath
          scala.io.Source.fromFile(jf, "UTF-8").getLines().foreach {
            line =>
              try {
                val n = mapper.readTree(line)
                val path =
                  if (n.hasNonNull("fr"))
                    rootP.resolve(new String(
                      dec.decode(n.get("fr").asText()), UTF_8)).toString
                  else new String(
                    dec.decode(n.get("fa").asText()), UTF_8)
                val garr = n.get("g")
                val m = (0 until garr.size()).map { i =>
                  val t = garr.get(i)
                  val g =
                    if (t.get(0).isNull) None
                    else Some(new String(
                      dec.decode(t.get(0).asText()), UTF_8))
                  g -> (t.get(1).asLong(),
                    new java.math.BigDecimal(t.get(2).asText()))
                }.toMap
                partials.putIfAbsent((key, canon(path)), m)
              } catch { case _: Exception => /* torn line: skip */ }
          }
        } catch { case e: java.io.IOException =>
          System.err.println(s"[rollupstore] load failed for $jf: $e")
        }
      }
    }
}

object RollupStore {
  val IdxDirName = "_rollupidx"

  /** Hard bound on distinct groups per maintained rollup — checked
    * per computed segment and on the merged result, surfaced in
    * /api/v1/rollup error bodies. Dashboard dimensions (hosts, days,
    * sources) sit orders of magnitude below it; a user-id-shaped
    * group column fails fast instead of exhausting driver memory.
    */
  val MaxGroups = 10000
}
