package graft.http

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange

/** Namespace-sharding HTTP router — the SERVING layer of the engine's
  * documented horizontal-scale story. One engine's write plane (WAL +
  * RAM tail) is driver-side by design (the reference's shape,
  * StreamingIngest scaladoc); past one driver's WAL ceiling, the
  * answer is sharding NAMESPACES across engines. The placement math
  * was already oracle-checked as q_shard_rendezvous (ops/Graph.scala
  * LayoutOps): rendezvous / highest-random-weight hashing — namespace
  * → argmax over shards of md5("<key>:<shardName>") — whose property
  * is MINIMAL MOVEMENT: adding a shard to N moves only the keys whose
  * new hash wins, E[1/(N+1)] of the keyspace, and every moved key
  * moves TO the new shard (never between old ones). This class turns
  * that query into a thin HTTP front over real engine backends.
  *
  * Routing:
  *  - namespace-carrying endpoints (/api/v1/write, /api/v1/query,
  *    /api/v1/rollup, /api/v1/bloom, /api/v1/admin/compact,
  *    /api/v1/admin/expire, /api/v1/admin/versions) parse just the
  *    namespace from the body and forward the request verbatim to the
  *    owning shard; the response streams back unchanged. A write
  *    BATCH must be single-shard (one namespace, or namespaces that
  *    happen to co-locate): a cross-shard batch is rejected 422
  *    rather than half-applied — the engine's all-or-nothing batch
  *    contract must not silently weaken at the router.
  *  - /api/v1/ann routes by INDEX NAME under the "ann:" key prefix
  *    (indexes are built engine-side; the convention is to build an
  *    index on the shard rendezvous assigns its name).
  *  - /api/v1/admin/checkpoint broadcasts to every shard.
  *  - /api/v1/shard answers {key} → {shard, url}: the ops/debug probe
  *    and the add-a-shard planning call (diff it across two shard
  *    lists to enumerate exactly which namespaces a reshard moves).
  *  - /health aggregates per-shard health (503 while any backend is
  *    down); /metrics reports the shard table + health booleans.
  *  - every POST body is read under the engine's cap
  *    ([[LynxServer.MaxBodyBytes]]; 413 over it).
  *
  * Failure semantics: a request for a namespace whose owner is down
  * fails 502 — the owner holds the namespace's WAL and tier, so
  * serving from elsewhere would silently serve a different (empty)
  * dataset. No failover without replication, and replication is a
  * storage-layer concern deliberately out of scope here.
  *
  * Add-a-shard procedure (documented contract, spec-pinned):
  *  1. stand up the new engine backend (empty WAL/tier roots);
  *  2. enumerate moving namespaces: keys where
  *     shardFor(key, old ++ new) != shardFor(key, old) — by the
  *     rendezvous property every one lands on the new shard;
  *  3. for each moving namespace: drain it (stop writers, checkpoint
  *     the old owner), copy its tier subtree to the new backend's
  *     root, re-point writers;
  *  4. swap the router's shard table (new Router or rolling restart).
  *  Only the moved namespaces' data ever travels — 1/(N+1) of the
  *  corpus, the q_shard_rendezvous number.
  */
final class ShardRouter(host: String, port: Int,
    shards: Seq[(String, String)],
    stateFile: Option[java.io.File] = None) {
  import LynxServer.{readBody, respond}

  require(shards.nonEmpty, "router needs at least one shard")
  require(shards.map(_._1).distinct.size == shards.size,
    "shard names must be unique")

  private val mapper = new ObjectMapper
  private val server = LynxServer.httpServer(host, port)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(8, Runtime.getRuntime.availableProcessors()))
  server.setExecutor(pool)

  /** The owning (shardName, baseUrl) for a routing key — the
    * q_shard_rendezvous argmax, verbatim: highest md5 hex string of
    * "<key>:<shardName>" wins (hex compare = lexicographic on both
    * engines there; here it is plain String ordering of lowercase
    * hex, the same order). PURE placement math — routing consults
    * [[owner]], which applies migration overrides on top.
    */
  def shardFor(key: String): (String, String) =
    ShardRouter.shardFor(key, shards)

  // migration overrides: key → shard NAME whose ownership replaced
  // the rendezvous placement (set atomically by a completed
  // /admin/migrate; consulted by every routing decision). The map is
  // the MIGRATION COMMIT POINT, so it must survive a router restart:
  // with `stateFile` configured every change persists via tmp +
  // atomic rename and is reloaded here — without persistence a
  // restarted router would route a migrated namespace back to its
  // rendezvous owner, serving the fenced stale copy for reads and
  // 422ing every write forever. Entries naming a shard absent from
  // the current table are dropped with a warning (a reshaped
  // cluster needs a re-migration anyway).
  private val overrides =
    scala.collection.concurrent.TrieMap.empty[String, String]
  for (f <- stateFile if f.isFile) {
    val n = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
    val it = n.properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      val target = e.getValue.asText()
      if (shards.exists(_._1 == target))
        overrides.put(e.getKey, target)
      else
        System.err.println(s"[router] dropping persisted override " +
          s"'${e.getKey}' -> '$target': no such shard in the table")
    }
  }

  private def persistOverrides(): Unit = stateFile.foreach { f0 =>
    val f = f0.getAbsoluteFile // a bare relative name has no parent
    Option(f.getParentFile).foreach(_.mkdirs())
    val json = overrides.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${graft.engine.Sinks.jsonString(k)}:${
        graft.engine.Sinks.jsonString(v)}"
    }.mkString("{", ",", "}")
    val tmp = new java.io.File(f.getParentFile,
      "." + f.getName + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      json.getBytes(UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
  // one migration at a time: two concurrent moves of one namespace
  // (or a shared exchange-dir id collision) must be impossible
  private val migrateLock = new Object

  /** Routing-effective owner: the migration override when one
    * exists, else the rendezvous placement.
    */
  def owner(key: String): (String, String) =
    overrides.get(key)
      .flatMap(n => shards.find(_._1 == n))
      .getOrElse(shardFor(key))

  /** Current migration overrides (observability + specs). */
  def ownerOverrides: Map[String, String] = overrides.toMap

  /** Forward `body` as a POST to `baseUrl + path`; returns
    * (status, responseBody, relayedResponseHeaders). Connection
    * errors surface as None — the caller maps them to 502 (owner
    * down ≠ router down). The CLIENT's Content-Type rides through on
    * the request, and the BACKEND's Content-Type AND Retry-After
    * ride back on the response: a relay that drops them serves
    * octet-stream-ish defaults through the router while direct
    * backend calls return real media types, and a fenced-namespace
    * 422 would lose the retry hint that makes it transient.
    */
  private def forward(baseUrl: String, path: String,
      body: Array[Byte], contentType: Option[String] = None)
      : Option[(Int, Array[Byte], Map[String, String])] =
    try {
      val url = java.net.URI.create(baseUrl + path).toURL
      val conn = url.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(2000)
      conn.setReadTimeout(600000) // queries can be slow; don't cut them
      conn.setDoOutput(true)
      contentType.foreach(ct =>
        conn.setRequestProperty("Content-Type", ct))
      conn.setFixedLengthStreamingMode(body.length)
      val out = conn.getOutputStream
      out.write(body); out.close()
      val code = conn.getResponseCode
      val in =
        if (code >= 400) Option(conn.getErrorStream)
        else Option(conn.getInputStream)
      val respBody = in.map(_.readAllBytes()).getOrElse(Array.empty[Byte])
      in.foreach(_.close())
      val relayed = Seq("Content-Type", "Retry-After").flatMap(h =>
        Option(conn.getHeaderField(h)).map(h -> _)).toMap
      Some((code, respBody, relayed))
    } catch { case _: java.io.IOException => None }

  /** The inbound request's Content-Type header, if any. */
  private def requestContentType(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Content-Type"))

  /** Relay a backend response (status, body, headers) verbatim. */
  private def relay(ex: HttpExchange, code: Int, resp: Array[Byte],
      headers: Map[String, String]): Unit = {
    headers.foreach { case (h, v) => ex.getResponseHeaders.set(h, v) }
    ex.sendResponseHeaders(code, if (resp.isEmpty) -1 else resp.length)
    if (resp.nonEmpty) ex.getResponseBody.write(resp)
    ex.close()
  }

  private def probeHealth(baseUrl: String): Boolean =
    try {
      val conn = java.net.URI.create(baseUrl + "/health").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(1000)
      conn.setReadTimeout(2000)
      val ok = conn.getResponseCode == 200
      Option(conn.getInputStream).foreach(_.close())
      ok
    } catch { case _: java.io.IOException => false }

  /** The namespace(s) a request body routes by. A single write object
    * or any namespace-carrying request yields one; a write ARRAY
    * yields every element's namespace (the single-shard check needs
    * them all).
    */
  private def namespacesOf(body: Array[Byte]): Seq[String] = {
    val n = mapper.readTree(body)
    if (n.isArray)
      (0 until n.size()).map { i =>
        val e = n.get(i)
        require(e.hasNonNull("namespace"), "missing required field")
        e.get("namespace").asText()
      }
    else {
      require(n.hasNonNull("namespace"), "missing required field")
      Seq(n.get("namespace").asText())
    }
  }

  /** Route a namespace-carrying request to its owner and relay the
    * backend's response verbatim.
    */
  private def routeByNamespace(path: String)(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "POST") respond(ex, 405)
    else readBody(ex).foreach { body =>
      val routed =
        try Right {
          val nss = namespacesOf(body)
          val owners = nss.map(owner).distinct
          require(owners.size == 1,
            s"batch spans ${owners.size} shards (namespaces " +
              s"${nss.distinct.mkString(", ")}); split write batches " +
              "by namespace so each lands on one shard atomically")
          owners.head
        } catch { case e: Exception => Left(e) }
      routed match {
        case Left(e) =>
          respond(ex, 422, s"""{"error":${
            graft.engine.Sinks.jsonString(e.getMessage)}}""")
        case Right((shard, url)) =>
          forward(url, path, body, requestContentType(ex)) match {
            case Some((code, resp, ct)) =>
              relay(ex, code, resp, ct)
            case None =>
              respond(ex, 502, s"""{"error":"shard '$shard' ($url) """ +
                """unreachable"}""")
          }
      }
    }

  Seq("/api/v1/write", "/api/v1/query", "/api/v1/rollup",
    "/api/v1/bloom", "/api/v1/admin/compact", "/api/v1/admin/expire",
    "/api/v1/admin/versions").foreach { path =>
    server.createContext(path,
      (ex: HttpExchange) => routeByNamespace(path)(ex))
  }

  // ANN serving routes by index name (prefixed so an index named like
  // a namespace cannot alias its placement)
  server.createContext("/api/v1/ann", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405)
    else readBody(ex).foreach { body =>
      val routed =
        try {
          val n = mapper.readTree(body)
          require(n.hasNonNull("index"), "missing required field")
          Right(owner("ann:" + n.get("index").asText()))
        } catch { case e: Exception => Left(e) }
      routed match {
        case Left(e) =>
          respond(ex, 422, s"""{"error":${
            graft.engine.Sinks.jsonString(e.getMessage)}}""")
        case Right((shard, url)) =>
          forward(url, "/api/v1/ann", body,
            requestContentType(ex)) match {
            case Some((code, resp, ct)) =>
              relay(ex, code, resp, ct)
            case None =>
              respond(ex, 502, s"""{"error":"shard '$shard' ($url) """ +
                """unreachable"}""")
          }
      }
    }
  })

  // checkpoint is engine-wide, not namespace-scoped: broadcast
  server.createContext("/api/v1/admin/checkpoint", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405)
    else readBody(ex).foreach { body =>
      val results = shards.map { case (name, url) =>
        name -> forward(url, "/api/v1/admin/checkpoint", body)
      }
      val failed = results.collect {
        case (name, None) => name
        case (name, Some((code, _, _))) if code != 200 => name
      }
      if (failed.isEmpty) respond(ex, 200)
      else respond(ex, 502, s"""{"failed":[${
        failed.map(graft.engine.Sinks.jsonString).mkString(",")}]}""")
    }
  })

  // placement probe: {key} (or {namespace}) → the owning shard —
  // the ops call behind the documented add-a-shard procedure
  server.createContext("/api/v1/shard", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405)
    else readBody(ex).foreach { body =>
      val parsed =
        try {
          val n = mapper.readTree(body)
          val k =
            if (n.hasNonNull("key")) n.get("key").asText()
            else if (n.hasNonNull("namespace")) n.get("namespace").asText()
            else throw new IllegalArgumentException(
              "missing required field")
          Right(k)
        } catch { case e: Exception => Left(e) }
      parsed match {
        case Left(e) =>
          respond(ex, 422, s"""{"error":${
            graft.engine.Sinks.jsonString(e.getMessage)}}""")
        case Right(key) =>
          val (shard, url) = owner(key)
          respond(ex, 200, s"""{"shard":${
            graft.engine.Sinks.jsonString(shard)},"url":${
            graft.engine.Sinks.jsonString(url)},"overridden":${
            overrides.contains(key)}}""")
      }
    }
  })

  // MECHANIZED namespace migration — the documented add-a-shard
  // procedure's step 3 as one endpoint instead of a human copying
  // directories. POST {namespace, to}:
  //   1. write-FENCE the namespace on its current owner (durable;
  //      racing writes get 422 + Retry-After through the router);
  //   2. checkpoint the owner (seals the RAM tail — the export must
  //      carry everything acknowledged before the fence);
  //   3. export the namespace to the shared exchange dir
  //      (CRC-manifested snapshot per table);
  //   4. import on the target (CRC-verified, fresh-table strict,
  //      atomic manifest flip per table);
  //   5. flip this router's override table — the commit point: from
  //      here every request routes to the new owner.
  // The fence REMAINS on the old owner as a tombstone: its copy is
  // stale the moment the router flips, and a direct writer hitting
  // it must keep getting 422, not silently diverge. On ANY failure
  // before the flip the fence is lifted (rollback) and ownership is
  // unchanged — a write never lands on both shards (fence precedes
  // copy, flip follows it) and never vanishes (422 is retryable).
  // Requires both engines to share LYNX_EXCHANGE_DIR storage.
  server.createContext("/api/v1/admin/migrate", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405)
    else readBody(ex).foreach { body =>
      val parsed =
        try {
          val n = mapper.readTree(body)
          require(n.hasNonNull("namespace") && n.hasNonNull("to"),
            "missing required field")
          Right((n.get("namespace").asText(), n.get("to").asText()))
        } catch { case e: Exception => Left(e) }
      parsed match {
        case Left(e) =>
          respond(ex, 422, s"""{"error":${
            graft.engine.Sinks.jsonString(e.getMessage)}}""")
        case Right((ns, to)) => migrateLock.synchronized {
          shards.find(_._1 == to) match {
            case None =>
              respond(ex, 422, s"""{"error":"unknown target shard """ +
                s"""'$to'"}""")
            case Some((_, toUrl)) =>
              val (fromName, fromUrl) = owner(ns)
              if (fromName == to)
                respond(ex, 200, s"""{"moved":false,"owner":${
                  graft.engine.Sinks.jsonString(to)}}""")
              else {
                val nsJson = graft.engine.Sinks.jsonString(ns)
                val snap = "mig-" + ShardRouter.md5Hex(ns).take(12) +
                  "-" + System.currentTimeMillis
                val fenceBody =
                  s"""{"namespace":$nsJson}""".getBytes(UTF_8)
                val snapBody = (s"""{"namespace":$nsJson,""" +
                  s""""snapshot":"$snap"}""").getBytes(UTF_8)
                def ok(r: Option[(Int, Array[Byte],
                    Map[String, String])]): Boolean =
                  r.exists(_._1 == 200)
                def bodyOf(r: Option[(Int, Array[Byte],
                    Map[String, String])]): String =
                  r.map(x => new String(x._2, UTF_8))
                    .getOrElse("unreachable")
                // rollback lifts the fence AND reclaims any partial
                // snapshot; both are best-effort but their outcome is
                // REPORTED honestly — telling the operator "fence
                // lifted" while the durable marker survived a dead
                // owner would leave the namespace silently refusing
                // writes with nobody told to act
                def rollback(): Boolean = {
                  forward(fromUrl, "/api/v1/admin/dropsnapshot",
                    (s"""{"snapshot":"$snap"}""").getBytes(UTF_8))
                  ok(forward(fromUrl, "/api/v1/admin/unfence",
                    fenceBody))
                }
                val fenced =
                  ok(forward(fromUrl, "/api/v1/admin/fence", fenceBody))
                if (!fenced)
                  respond(ex, 502, s"""{"error":"cannot fence $ns """ +
                    s"""on '$fromName'"}""")
                else {
                  val ckpt = forward(fromUrl,
                    "/api/v1/admin/checkpoint", Array.empty)
                  val exp = if (ok(ckpt))
                    forward(fromUrl, "/api/v1/admin/export", snapBody)
                  else None
                  val imp = if (ok(exp))
                    forward(toUrl, "/api/v1/admin/import", snapBody)
                  else None
                  if (!ok(ckpt) || !ok(exp) || !ok(imp)) {
                    val unfenced = rollback()
                    val fenceState =
                      if (unfenced) "fence lifted"
                      else "UNFENCE FAILED - the durable fence is " +
                        s"still on '$fromName'; lift it manually " +
                        "(POST /api/v1/admin/unfence) once the " +
                        "shard is reachable"
                    val stage =
                      if (!ok(ckpt)) ("checkpoint", bodyOf(ckpt))
                      else if (!ok(exp)) ("export", bodyOf(exp))
                      else ("import", bodyOf(imp))
                    respond(ex, 502, s"""{"error":"migration """ +
                      s"""${stage._1} failed (ownership unchanged; """ +
                      s"""$fenceState)","detail":${
                        graft.engine.Sinks.jsonString(stage._2)}}""")
                  } else {
                    // commit point: route to the new owner from here
                    // (persisted BEFORE the response — a router that
                    // acked a migration must re-route after restart)
                    overrides.put(ns, to)
                    persistOverrides()
                    // the snapshot did its job — reclaim the copy on
                    // the shared exchange storage (best-effort; the
                    // target engine shares the dir by construction)
                    forward(toUrl, "/api/v1/admin/dropsnapshot",
                      (s"""{"snapshot":"$snap"}""").getBytes(UTF_8))
                    respond(ex, 200, s"""{"moved":true,"from":${
                      graft.engine.Sinks.jsonString(fromName)
                      },"to":${graft.engine.Sinks.jsonString(to)
                      },"snapshot":"$snap","tables":${
                      bodyOf(imp)}}""")
                  }
                }
              }
          }
        }
      }
    }
  })

  server.createContext("/health", (ex: HttpExchange) => {
    val states = shards.map { case (name, url) =>
      name -> probeHealth(url)
    }
    val body = states.map { case (n, ok) =>
      s"${graft.engine.Sinks.jsonString(n)}:$ok"
    }.mkString("{\"shards\":{", ",", "}}")
    respond(ex, if (states.forall(_._2)) 200 else 503, body)
  })

  server.createContext("/metrics", (ex: HttpExchange) => {
    val states = shards.map { case (name, url) =>
      s"""{"shard":${graft.engine.Sinks.jsonString(name)},"url":${
        graft.engine.Sinks.jsonString(url)},"healthy":${
        probeHealth(url)}}"""
    }
    val ovr = overrides.toSeq.sortBy(_._1).map { case (k, n) =>
      s"${graft.engine.Sinks.jsonString(k)}:${
        graft.engine.Sinks.jsonString(n)}"
    }.mkString("{", ",", "}")
    respond(ex, 200, s"""{"shards":${
      states.mkString("[", ",", "]")},"overrides":$ovr}""")
  })

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }
  def boundPort: Int = server.getAddress.getPort
}

object ShardRouter {
  /** The rendezvous argmax, shared with the router instance and
    * callable on ANY shard table — diffing placements across two
    * tables is how a reshard plan enumerates the moving keys
    * (spec-pinned to equal q_shard_rendezvous's semantics: a key
    * moves under table growth iff the NEW shard's hash wins, so
    * every move lands on the new shard).
    */
  def shardFor(key: String,
      shards: Seq[(String, String)]): (String, String) =
    shards.maxBy { case (name, _) => md5Hex(s"$key:$name") }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
}

/** Router entry point. LYNX_ROUTER_ADDR (default 127.0.0.1:3100);
  * LYNX_SHARDS = comma-separated name=url pairs, e.g.
  * "s0=http://10.0.0.1:3000,s1=http://10.0.0.2:3000";
  * LYNX_ROUTER_STATE = path of the persisted migration-override
  * file (strongly recommended wherever /admin/migrate is used — the
  * override map is the migration commit point and must survive a
  * router restart).
  */
object ShardRouterMain {
  def main(args: Array[String]): Unit = {
    val addr = sys.env.getOrElse("LYNX_ROUTER_ADDR", "127.0.0.1:3100")
    val Array(host, port) = addr.split(":", 2)
    val shards = sys.env.getOrElse("LYNX_SHARDS", "")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      .map { s =>
        val Array(name, url) = s.split("=", 2)
        (name, url)
      }
    val router = new ShardRouter(host, port.toInt, shards,
      stateFile = sys.env.get("LYNX_ROUTER_STATE")
        .map(new java.io.File(_)))
    router.start()
    println(s"lynx-graft router on $host:${router.boundPort} over " +
      s"${shards.size} shards")
    Thread.currentThread().join()
  }
}
