package graft.http

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.core.{TagNumber, TagString, TagValue, WriteRequest}
import graft.engine.{LynxEngine, Sinks}

/** HTTP API (reference main.rs:99-103): POST /api/v1/write,
  * POST /api/v1/query, GET /health. JSON bodies match the reference's
  * serde shapes (testdata/write.json, testdata/query.json):
  * write = {namespace, measurement, value, metadata?, timestamp};
  * query = {namespace, query, format?: "csv"|"json"|"table", version?: N}
  * (default table, reference main.rs:80; `version` = time-travel read
  * at a published tier manifest version, an engine extension).
  *
  * Jackson ships with Spark's classpath; only tree-model parsing is
  * used (no reflection databind).
  */
object Json {
  private val mapper = new ObjectMapper

  /** Batch form: a JSON array of write objects is N writes (one WAL
    * group commit engine-side); a single object is the reference's
    * one-request shape. Any invalid element rejects the whole batch —
    * the caller never has to reconcile a partially applied body.
    */
  def parseWriteBatch(body: Array[Byte]): Seq[WriteRequest] = {
    val n = mapper.readTree(body)
    if (!n.isArray) Seq(parseWriteNode(n))
    else {
      val it = n.elements()
      val b = Seq.newBuilder[WriteRequest]
      while (it.hasNext) b += parseWriteNode(it.next())
      b.result()
    }
  }

  private def parseWriteNode(
      n: com.fasterxml.jackson.databind.JsonNode): WriteRequest = {
    require(n.hasNonNull("namespace") && n.hasNonNull("measurement") &&
      n.hasNonNull("value") && n.hasNonNull("timestamp"),
      "missing required field")
    // i64 semantics (reference wal.rs:24): a non-numeric timestamp
    // must be rejected, not silently coerced to 0 — and an integer
    // outside i64 must 422, not wrap through asLong()
    require(n.get("timestamp").isIntegralNumber,
      "timestamp must be an integer (microseconds since epoch)")
    require(n.get("timestamp").bigIntegerValue().bitLength() <= 63,
      "timestamp out of i64 range")
    // the WHOLE NUL prefix is reserved for WAL marker records (seal
    // markers, stream-batch brackets, hwm checkpoints): JSON can
    // carry unicode NUL escapes, and a forged lynx.batch marker replayed
    // from the WAL could poison a sink's high-water mark (silently
    // skipping every future batch) or open a never-committed bracket
    // (discarding later writes) — reject the class, not one name
    require(!n.get("namespace").asText().startsWith("\u0000"),
      "reserved namespace")
    val metadata: Map[String, TagValue] =
      if (n.hasNonNull("metadata")) {
        val m = n.get("metadata")
        val it = m.properties().iterator()
        val b = Map.newBuilder[String, TagValue]
        while (it.hasNext) {
          val e = it.next()
          val v: TagValue =
            if (e.getValue.isNumber) {
              // u64 semantics (reference wal.rs:161): integral,
              // non-negative, ≤ 2^64-1; keep the raw 64 bits
              val n = e.getValue
              require(n.isIntegralNumber, s"tag ${e.getKey}: not a u64")
              val big = n.bigIntegerValue()
              require(big.signum() >= 0 && big.bitLength() <= 64,
                s"tag ${e.getKey}: out of u64 range")
              TagNumber(big.longValue())
            } else TagString(e.getValue.asText())
          require(e.getKey != "timestamp" && e.getKey != "value" &&
            !e.getKey.startsWith("__lynx"),
            s"tag ${e.getKey}: reserved key")
          b += e.getKey -> v
        }
        b.result()
      } else Map.empty
    WriteRequest(
      n.get("namespace").asText(),
      n.get("measurement").asText(),
      n.get("value").asText(),
      metadata,
      n.get("timestamp").asLong())
  }

  def parseQuery(body: Array[Byte])
      : (String, String, String, Option[Long]) = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("namespace") && n.hasNonNull("query"),
      "missing required field")
    val fmt = if (n.hasNonNull("format")) n.get("format").asText()
      else "table"
    // optional time travel: read at a published tier manifest
    // version. Same discipline as a write's timestamp: a
    // non-integral version must 422, not coerce to 0 through asLong()
    val asOf = if (!n.hasNonNull("version")) None else {
      require(n.get("version").isIntegralNumber,
        "version must be an integer manifest version")
      require(n.get("version").bigIntegerValue().bitLength() <= 63,
        "version out of i64 range")
      Some(n.get("version").asLong())
    }
    (n.get("namespace").asText(), n.get("query").asText(), fmt, asOf)
  }

  /** {namespace, table, cluster_by?: [col,…]} for /admin/compact. */
  def parseCompact(body: Array[Byte]): (String, String, Seq[String]) = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("namespace") && n.hasNonNull("table"),
      "missing required field")
    val clusterBy: Seq[String] =
      if (n.hasNonNull("cluster_by")) {
        val arr = n.get("cluster_by")
        require(arr.isArray, "cluster_by must be an array")
        val it = arr.elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      } else Nil
    (n.get("namespace").asText(), n.get("table").asText(), clusterBy)
  }

  /** {namespace, table, group, value} for /api/v1/rollup. */
  def parseRollup(body: Array[Byte]): (String, String, String, String) = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("namespace") && n.hasNonNull("table") &&
      n.hasNonNull("group") && n.hasNonNull("value"),
      "missing required field")
    // group/value name parquet COLUMNS (they reach a plan unquoted);
    // restrict to identifier characters so the endpoint can't smuggle
    // expressions past the SELECT-only gatekeeper
    val g = n.get("group").asText()
    val v = n.get("value").asText()
    require(g.matches("[A-Za-z_][A-Za-z0-9_]*") &&
      v.matches("[A-Za-z_][A-Za-z0-9_]*"),
      "group/value must be bare column names")
    (n.get("namespace").asText(), n.get("table").asText(), g, v)
  }

  /** {namespace, table, column} for /api/v1/bloom. The column names a
    * parquet column (it reaches a plan unquoted) — identifier-
    * restricted like rollup's group/value.
    */
  def parseBloom(body: Array[Byte]): (String, String, String) = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("namespace") && n.hasNonNull("table") &&
      n.hasNonNull("column"), "missing required field")
    val c = n.get("column").asText()
    require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
      "column must be a bare column name")
    (n.get("namespace").asText(), n.get("table").asText(), c)
  }

  /** {index, vector, k?, nprobe?, labels?} for /api/v1/ann. The
    * index name is identifier-restricted like rollup's columns (it
    * becomes a filesystem path segment under the tier root);
    * k/nprobe/labels are bounded so one request can't demand an
    * unbounded collect. `labels` (integer array) = filtered search:
    * rank only vectors whose persisted label is listed.
    */
  def parseAnn(body: Array[Byte])
      : (String, Array[Float], Int, Int, Option[Seq[Long]]) = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("index") && n.hasNonNull("vector"),
      "missing required field")
    val name = n.get("index").asText()
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      "index must be a bare identifier")
    val vNode = n.get("vector")
    require(vNode.isArray && vNode.size() > 0 && vNode.size() <= 4096,
      "vector must be a non-empty numeric array")
    val vec = new Array[Float](vNode.size())
    var i = 0
    while (i < vec.length) {
      require(vNode.get(i).isNumber, "vector elements must be numbers")
      vec(i) = vNode.get(i).floatValue()
      i += 1
    }
    val k = if (n.hasNonNull("k")) n.get("k").asInt() else 3
    val nprobe = if (n.hasNonNull("nprobe")) n.get("nprobe").asInt() else 3
    require(k >= 1 && k <= 100, "k must be in [1, 100]")
    require(nprobe >= 1 && nprobe <= 64, "nprobe must be in [1, 64]")
    val labels: Option[Seq[Long]] =
      if (!n.hasNonNull("labels")) None
      else {
        val lNode = n.get("labels")
        require(lNode.isArray && lNode.size() > 0 && lNode.size() <= 1000,
          "labels must be a non-empty array of at most 1000 integers")
        Some((0 until lNode.size()).map { i =>
          require(lNode.get(i).isIntegralNumber,
            "labels elements must be integers")
          lNode.get(i).asLong()
        })
      }
    (name, vec, k, nprobe, labels)
  }

  /** {namespace, table, before_day: "yyyy-MM-dd"} for /admin/expire. */
  def parseExpire(body: Array[Byte]): (String, String, String) = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("namespace") && n.hasNonNull("table") &&
      n.hasNonNull("before_day"), "missing required field")
    val day = n.get("before_day").asText()
    require(day.matches("""\d{4}-\d{2}-\d{2}"""),
      "before_day must be yyyy-MM-dd")
    (n.get("namespace").asText(), n.get("table").asText(), day)
  }

  /** {namespace} for /admin/fence and /admin/unfence. */
  def parseNamespace(body: Array[Byte]): String = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("namespace"), "missing required field")
    n.get("namespace").asText()
  }

  /** {namespace, snapshot, table?, version?} for /admin/export and
    * /admin/import. The snapshot id becomes a directory name under
    * the configured exchange root — identifier-restricted so an
    * untrusted caller can never address a path outside it (the
    * runSQLOnFiles=false discipline applied to the admin plane).
    */
  def parseSnapshot(body: Array[Byte])
      : (String, String, Option[String], Option[Long]) = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("namespace") && n.hasNonNull("snapshot"),
      "missing required field")
    val snap = snapshotId(n)
    val table =
      if (n.hasNonNull("table")) Some(n.get("table").asText()) else None
    val version = if (!n.hasNonNull("version")) None else {
      require(n.get("version").isIntegralNumber,
        "version must be an integer manifest version")
      Some(n.get("version").asLong())
    }
    (n.get("namespace").asText(), snap, table, version)
  }

  /** {snapshot} for /admin/dropsnapshot. */
  def parseSnapshotId(body: Array[Byte]): String = {
    val n = mapper.readTree(body)
    require(n.hasNonNull("snapshot"), "missing required field")
    snapshotId(n)
  }

  private def snapshotId(n: JsonNode): String = {
    val snap = n.get("snapshot").asText()
    require(snap.matches("[A-Za-z0-9][A-Za-z0-9._-]*") &&
      !snap.contains(".."),
      "snapshot must be a bare identifier")
    snap
  }
}

final class LynxServer(engine: LynxEngine, host: String, port: Int,
    exchangeDir: Option[File] = None) {
  import LynxServer.{errorJson, readBody, respond}

  private val server = LynxServer.httpServer(host, port)
  // without an executor every request serializes on the dispatch
  // thread; the reference serves each request on its own tokio task
  // (main.rs:91) and the engine is concurrency-safe (ConcurrencySpec),
  // so give the server a real pool
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(8, Runtime.getRuntime.availableProcessors()))
  server.setExecutor(pool)

  /** A handler's reply: status and (possibly empty) body. */
  private type Reply = (Int, String)
  private val ok: Reply = (200, "")
  private val notFound: Reply = (404, "")

  /** Register one POST route. Any other method gets 405. The body is
    * read once through [[LynxServer.readBody]] (413 over the cap). A
    * `parse` failure gets an empty 422: the reference's axum Json
    * extractor rejects malformed bodies before the handler. An
    * exception out of `handle` becomes:
    *  - 422 + Retry-After for a migration-fenced namespace (transient
    *    for a racing writer: a retry after the router flip lands on
    *    the new owner, so it must differ from a permanent 4xx);
    *  - 422 {"error"} for a write refused by validation before its
    *    WAL append, and for an IllegalArgumentException when
    *    `clientErrors` (the message carries the bound the caller
    *    broke);
    *  - otherwise 500 (reference main.rs:84-87, bad SQL included),
    *    with an {"error"} body when `errorBody`.
    */
  private def route[A](path: String, parse: Array[Byte] => A,
      clientErrors: Boolean = false, errorBody: Boolean = false)(
      handle: A => Reply): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST") respond(ex, 405)
      else readBody(ex).foreach { body =>
        val parsed =
          try Right(parse(body))
          catch { case e: Exception => Left(e) }
        val (code, out) = parsed match {
          case Left(e) =>
            System.err.println(e)
            (422, "")
          case Right(a) =>
            try handle(a)
            catch {
              case e: LynxEngine.NamespaceFencedException =>
                ex.getResponseHeaders.set("Retry-After", "2")
                (422, s"""{"error":${
                  Sinks.jsonString(e.getMessage)},"retryable":true}""")
              case e: LynxEngine.InvalidWriteException =>
                (422, errorJson(e.getMessage))
              case e: IllegalArgumentException if clientErrors =>
                (422, errorJson(e.getMessage))
              case e: Exception =>
                System.err.println(e)
                (500,
                  if (errorBody) errorJson(String.valueOf(e.getMessage))
                  else "")
            }
        }
        respond(ex, code, out)
      })

  server.createContext("/health", (ex: HttpExchange) => respond(ex, 200))

  // operational introspection (extension; the reference exposes only
  // /health): buffered row/namespace counts and result-cache and
  // tier-schema-cache hits and misses as one flat JSON object —
  // enough for a scrape without a client lib
  server.createContext("/metrics", (ex: HttpExchange) => {
    try {
      // one rowCounts snapshot feeds both counters, so a concurrent
      // write can't tear the response into a state that never existed
      // (namespaces = those with buffered rows, by construction)
      val counts = engine.buffer.rowCounts
      val rows = counts.values.map(_.toLong).sum
      val namespaces = counts.keysIterator.map(_._1).toSet.size
      // per-ANN-index drift since the last build: the rebuild alarm
      // AnnStore.append maintains (outside-old-radius fraction of
      // appended vectors) — dashboards watch the ratio climb
      val driftEntries = engine.ann.toSeq.flatMap { as =>
        as.indexNames.flatMap(n => as.drift(n).map { case (a, o, r) =>
          s""""$n":{"appended":$a,"outside":$o,"ratio":$r}"""
        })
      }
      val annDrift =
        if (driftEntries.isEmpty) ""
        else driftEntries.mkString(""","ann_drift":{""", ",", "}")
      // per-sink streaming high-water marks (WAL-derived): a stalled
      // stream reads as a mark that stops advancing between scrapes
      val hwms = engine.streamHighWaterMarks
      val hwmJson =
        if (hwms.isEmpty) ""
        else hwms.toSeq.sortBy(_._1).map { case (s, b) =>
          s"${graft.engine.Sinks.jsonString(s)}:$b"
        }.mkString(""","stream_hwm":{""", ",", "}")
      // WAL replay at the last startup: its wall time and frames, and
      // its tail repairs — data-affecting events an operator must see
      // without grepping stderr
      val (schemaHits, schemaMisses) = engine.tierSchemaCacheCounts
      val recov = engine.walRecoveries
      val recovJson =
        if (recov.isEmpty) ""
        else recov.map { r =>
          s"""{"segment":${Sinks.jsonString(r.segment)},"kept_bytes":${
            r.keptBytes},"discarded_bytes":${r.discardedBytes
            },"reason":${Sinks.jsonString(r.reason)}}"""
        }.mkString(""","wal_recoveries":[""", ",", "]")
      respond(ex, 200,
        s"""{"buffered_rows":$rows""" +
          s""","namespaces":$namespaces""" +
          s""","result_cache_hits":${engine.resultCacheHits.get}""" +
          s""","result_cache_misses":${engine.resultCacheMisses.get}""" +
          s""","tier_schema_cache_hits":$schemaHits""" +
          s""","tier_schema_cache_misses":$schemaMisses""" +
          s""","prune_files_total":${engine.pruneFilesTotal.get}""" +
          s""","prune_files_read":${engine.pruneFilesRead.get}""" +
          s""","wal_replay_ms":${engine.walReplayMs}""" +
          s""","wal_replayed_records":${engine.walReplayedRecords}""" +
          annDrift + hwmJson + recovJson + "}")
    } catch {
      case e: Exception =>
        System.err.println(e)
        respond(ex, 500)
    }
  })

  // a single object and an array both take the batch lane: one WAL
  // append and flush per body, all rows or none
  route("/api/v1/write", Json.parseWriteBatch) { ws =>
    engine.writeBatch(ws)
    ok
  }

  route("/api/v1/query", Json.parseQuery) { case (ns, sql, fmt, asOf) =>
    engine.query(ns, sql, asOf).fold(notFound) { result =>
      (200, fmt match {
        case "json" => Sinks.toJson(result)
        case "csv" => Sinks.toCsv(result)
        case _ => Sinks.toTable(result)
      })
    }
  }

  // admin: flush the RAM tail to the tier and truncate the WAL
  // (no-op engine-side without a configured tier); takes no body
  route("/api/v1/admin/checkpoint", _ => ()) { _ =>
    engine.checkpoint()
    ok
  }

  // admin: rewrite a table's tier files (one per day, optionally
  // clustered on tag columns for row-group pruning)
  route("/api/v1/admin/compact", Json.parseCompact) {
    case (ns, table, clusterBy) =>
      engine.compact(ns, table, clusterBy)
      ok
  }

  // maintained rollup: count + exact-decimal sum per group over the
  // tiered table, served incrementally (only unseen segments are
  // aggregated — see graft.engine.RollupStore). 404 when the engine
  // has no tier (nothing immutable to maintain against). Cardinality-
  // bound rejections are client errors carrying the limit.
  route("/api/v1/rollup", Json.parseRollup, clientErrors = true) {
    case (ns, table, group, value) =>
      engine.rollups.fold(notFound) { store =>
        (200, store.rollup(ns, table, group, value).map { case (g, c, s) =>
          // group values are arbitrary tag strings — control
          // characters included — so route through the sink escaper
          val gj = g.map(Sinks.jsonString).getOrElse("null")
          s"""{"group":$gj,"count":$c,"sum":$s}"""
        }.mkString("[", ",", "]"))
      }
  }

  // ANN top-k over a built IVF index (see graft.engine.AnnStore):
  // POST {index, vector, k?, nprobe?, labels?} →
  // [{"vec_id":…,"cos":…}…]; labels restricts ranking to vectors
  // whose persisted label is listed (filter-then-rank).
  // Builds are engine-side only — an HTTP-triggered build would read
  // an arbitrary host parquet path on behalf of an untrusted caller
  // (the runSQLOnFiles=false rationale). 404 when the engine has no
  // tier or the index was never built; dimension/bounds violations
  // are client errors.
  route("/api/v1/ann", Json.parseAnn, clientErrors = true) {
    case (name, vec, k, nprobe, labels) =>
      engine.ann.flatMap(_.query(name, vec, k, nprobe, labels))
        .fold(notFound) { hits =>
          (200, hits.map { case (id, cos) =>
            s"""{"vec_id":$id,"cos":$cos}"""
          }.mkString("[", ",", "]"))
        }
  }

  // per-file value-bloom index maintenance (see graft.engine.
  // BloomStore): POST {namespace, table, column} builds/refreshes the
  // bloom index for the table's current manifest; subsequent queries
  // with `column = 'literal'` predicates skip files whose blooms
  // exclude the literal. Returns the newly indexed file count and the
  // table's indexed columns. 404 when the engine has no tier;
  // type/identifier rejections are client errors.
  route("/api/v1/bloom", Json.parseBloom, clientErrors = true) {
    case (ns, table, column) =>
      engine.valueBlooms.fold(notFound) { store =>
        val n = store.index(ns, table, column)
        val cols = store.indexedColumns(ns, table)
          .toSeq.sorted.map(Sinks.jsonString).mkString(",")
        (200, s"""{"indexed":$n,"columns":[$cols]}""")
      }
  }

  // admin: list a table's published manifest versions (oldest first)
  // with file counts — how a client discovers the `version` values the
  // query endpoint's time-travel parameter accepts
  route("/api/v1/admin/versions", Json.parseCompact) {
    case (ns, table, _) =>
      (200, engine.tierVersions(ns, table)
        .map { case (v, n) => s"""{"version":$v,"files":$n}""" }
        .mkString("[", ",", "]"))
  }

  // admin: retention — age out day partitions older than before_day
  // (exclusive); reports how many data files the manifest dropped
  route("/api/v1/admin/expire", Json.parseExpire) {
    case (ns, table, day) =>
      (200, s"""{"dropped_files":${engine.expire(ns, table, day)}}""")
  }

  // admin: write-fence a namespace (the migration drain barrier) /
  // lift it. Fencing is idempotent and durable across restarts.
  route("/api/v1/admin/fence", Json.parseNamespace) { ns =>
    engine.fence(ns)
    ok
  }
  route("/api/v1/admin/unfence", Json.parseNamespace) { ns =>
    engine.unfence(ns)
    ok
  }

  // admin: snapshot export/import through the EXCHANGE DIR — the
  // shared-storage handoff area of backup/restore and namespace
  // migration. Only served when the operator configured one
  // (LYNX_EXCHANGE_DIR): the snapshot id is identifier-restricted
  // and resolves strictly under that root, so the HTTP plane can
  // never read or write an arbitrary host path (the ANN-build /
  // runSQLOnFiles security stance). 404 without the config, before
  // the body is parsed.
  private def snapshotRoute(path: String)(
      handle: (String, File, Option[String], Option[Long]) => String)
      : Unit =
    route(path,
      body => exchangeDir.map(root => (root, Json.parseSnapshot(body))),
      clientErrors = true, errorBody = true) {
      case None => notFound
      case Some((root, (ns, snap, table, version))) =>
        (200, handle(ns, new File(root, snap), table, version))
    }

  snapshotRoute("/api/v1/admin/export") { (ns, dest, table, version) =>
    table match {
      case Some(t) =>
        val n = engine.exportSnapshot(ns, t, version, dest)
        s"""[{"table":${Sinks.jsonString(t)},"files":$n}]"""
      case None =>
        engine.exportNamespace(ns, dest).map { case (t, n) =>
          s"""{"table":${Sinks.jsonString(t)},"files":$n}"""
        }.mkString("[", ",", "]")
    }
  }

  snapshotRoute("/api/v1/admin/import") { (ns, src, table, _) =>
    table match {
      case Some(t) =>
        val v = engine.importSnapshot(ns, t, src)
        s"""[{"table":${Sinks.jsonString(t)},"version":$v}]"""
      case None =>
        engine.importNamespace(ns, src).map { case (t, v) =>
          s"""{"table":${Sinks.jsonString(t)},"version":$v}"""
        }.mkString("[", ",", "]")
    }
  }

  // admin: reclaim an exchange-dir snapshot (the migration driver
  // calls this after a successful flip or a failed attempt — without
  // it every migration leaves a full namespace copy on the shared
  // storage forever). Same identifier-under-the-exchange-root
  // discipline as export/import; 404 without the config.
  route("/api/v1/admin/dropsnapshot",
    body => exchangeDir.map(new File(_, Json.parseSnapshotId(body)))) {
    case None => notFound
    case Some(dir) =>
      def rm(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
        ()
      }
      val existed = dir.exists()
      if (existed) rm(dir)
      (200, s"""{"dropped":$existed}""")
  }

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }
  def boundPort: Int = server.getAddress.getPort
}

object LynxServer {
  /** An unstarted JDK `HttpServer` bound to `host:port` whose
    * connections send with TCP_NODELAY. The JDK server writes a reply's
    * headers and its body as two segments; with Nagle's algorithm on,
    * the body waits for the client to ACK the headers, and a keep-alive
    * client delays that ACK by up to 40 ms, so every reply with a body
    * would take 40 ms. The JDK reads `sun.net.httpserver.nodelay` once,
    * when its `ServerConfig` class loads, so every server of this
    * process is created here.
    */
  def httpServer(host: String, port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress(host, port), 0)
  }

  /** Largest request body any POST route reads (64 MiB), on the
    * engine and the router alike. A bigger body gets 413 before it is
    * buffered: a Content-Length over the cap is refused unread, and a
    * body without one is read to at most one byte past the cap. The
    * largest bodies the data plane carries are write batches of a few
    * thousand rows, well under a MiB.
    */
  val MaxBodyBytes: Int = 64 << 20

  /** The request body, or None once a 413 has been sent for a body
    * over [[MaxBodyBytes]].
    */
  private[http] def readBody(ex: HttpExchange): Option[Array[Byte]] = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(_.trim.toLongOption)
    val body =
      if (declared.exists(_ > MaxBodyBytes)) None
      else Some(ex.getRequestBody.readNBytes(MaxBodyBytes + 1))
        .filter(_.length <= MaxBodyBytes)
    if (body.isEmpty)
      respond(ex, 413,
        errorJson(s"request body exceeds $MaxBodyBytes bytes"))
    body
  }

  private[http] def respond(ex: HttpExchange, code: Int,
      body: String = ""): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private[http] def errorJson(msg: String): String =
    s"""{"error":${Sinks.jsonString(msg)}}"""
}

/** Entry point; env config mirrors the reference (main.rs:19-29):
  * LYNX_HTTP_ADDR (default 127.0.0.1:3000), LYNX_WAL_MAX_SEGMENT_SIZE
  * (default 50 MiB), plus LYNX_WAL_DIR for the segment directory.
  * Engine extensions: LYNX_MAX_RESULT_ROWS caps what one query may
  * materialize on the driver (default unbounded, reference-faithful);
  * LYNX_WAL_GROUP_COMMIT_MS enables WAL group commit (default 0 =
  * flush per record like the reference); LYNX_WAL_FSYNC=1 upgrades
  * every WAL flush to an fsync (power-loss durability — pair with
  * group commit for one fsync per interval); LYNX_TIER_DIR enables
  * the parquet tier at that root (POST /api/v1/admin/checkpoint then
  * seals the RAM tail there and truncates the WAL — without it the
  * endpoint is a no-op, reference-faithful); LYNX_AUTO_COMPACT_FILES
  * compacts a table inline when its manifest holds that many files
  * beyond compaction's one-per-day floor (default 0 = manual
  * compaction only; needs LYNX_TIER_DIR); LYNX_BLOOM_COLUMNS
  * (comma-separated column names) keeps bloom/zone file-skip indexes
  * current automatically — every seal/compaction incrementally
  * indexes its new files for those columns, so `col = 'lit'` pruning
  * never lags ingest (default empty = index via POST /api/v1/bloom
  * only; needs LYNX_TIER_DIR).
  */
object LynxServerMain {
  def main(args: Array[String]): Unit = {
    start(sys.env, () => session())
    Thread.currentThread().join()
  }

  /** The server's Spark session. Its status stores keep a fixed, small
    * history: with Spark's defaults (1000 SQL executions and jobs) a
    * long-running server's live heap tracks how many queries it ran,
    * and the server reads no past execution (its UI is off).
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-lynx")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Start the server `env` configures. WAL replay needs no Spark, so
    * it runs on a thread of its own while `buildSpark` builds the
    * session; the engine is then built from the replayed state and the
    * listener bound. A failed replay fails startup with its own
    * exception once the session is built, before anything listens.
    */
  def start(env: Map[String, String],
      buildSpark: () => SparkSession): LynxServer = {
    val addr = env.getOrElse("LYNX_HTTP_ADDR", "127.0.0.1:3000")
    val Array(host, port) = addr.split(":", 2)
    val maxSeg = env.get("LYNX_WAL_MAX_SEGMENT_SIZE")
      .map(_.toLong).getOrElse(50L * 1024 * 1024)
    val maxRows = env.get("LYNX_MAX_RESULT_ROWS")
      .map(_.toInt).getOrElse(Int.MaxValue)
    val groupCommitMs = env.get("LYNX_WAL_GROUP_COMMIT_MS")
      .map(_.toLong).getOrElse(0L)
    val walFsync = env.get("LYNX_WAL_FSYNC").exists(v =>
      v == "1" || v.equalsIgnoreCase("true"))
    val walDir = new File(env.getOrElse("LYNX_WAL_DIR", "lynx-wal"))
    val tier = env.get("LYNX_TIER_DIR")
      .map(d => new graft.tier.ParquetTier(new File(d)))
    val autoCompact = env.get("LYNX_AUTO_COMPACT_FILES")
      .map(_.toInt).getOrElse(0)
    val autoBloom = env.get("LYNX_BLOOM_COLUMNS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // operator ack for bounded WAL tail recovery: accept the loss and
    // truncate at the last proven frame boundary even when the damage
    // is mid-log or larger than the auto ceiling
    val forceTailTruncate = env.get("LYNX_WAL_FORCE_TAIL_TRUNCATE")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val recovery =
      new java.util.concurrent.FutureTask[LynxEngine.Recovered](() =>
        LynxEngine.recover(walDir, tier, forceTailTruncate))
    val replayer = new Thread(recovery, "lynx-wal-recovery")
    replayer.setDaemon(true)
    replayer.start()
    val spark = buildSpark()
    val recovered =
      try recovery.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    val engine = new LynxEngine(spark, walDir, maxSeg, tier = tier,
      maxResultRows = maxRows, walGroupCommitMillis = groupCommitMs,
      walFsync = walFsync, autoCompactFileThreshold = autoCompact,
      autoBloomColumns = autoBloom,
      // LYNX_SHARDS (name=url,…) + LYNX_SHARD_SELF (this engine's
      // shard name): with both set, ANN index builds assert this
      // engine is the name's rendezvous owner — a misplaced index
      // fails at creation instead of 404ing at serve time
      annPlacement = for {
        selfName <- env.get("LYNX_SHARD_SELF")
        table <- env.get("LYNX_SHARDS")
        parsed = table.split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty).map { s =>
            val Array(name, url) = s.split("=", 2)
            (name, url)
          }
        if parsed.nonEmpty
      } yield (selfName, parsed),
      recovered = Some(recovered))
    // LYNX_EXCHANGE_DIR: shared-storage handoff root for snapshot
    // export/import (backup/restore + namespace migration); the
    // endpoints are absent without it
    val server = new LynxServer(engine, host, port.toInt,
      exchangeDir = env.get("LYNX_EXCHANGE_DIR").map(new File(_)))
    server.start()
    println(s"lynx-graft listening on $host:${server.boundPort}")
    server
  }
}
