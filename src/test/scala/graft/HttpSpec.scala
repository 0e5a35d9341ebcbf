package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.LynxEngine
import graft.http.LynxServer

/** HTTP API tests against the reference's request shapes
  * (reference main.rs:99-103, testdata/write.json, testdata/query.json).
  */
class HttpSpec extends AnyFunSuite {

  private val client = HttpClient.newHttpClient()

  private def withServer(f: (Int) => Unit): Unit = {
    val dir = Files.createTempDirectory("http-spec").toFile
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try f(server.boundPort) finally server.stop()
  }

  private def post(port: Int, path: String, body: String)
      : HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("health endpoint returns 200 (main.rs:51-53)") {
    withServer { port =>
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
    }
  }

  test("metrics endpoint reports buffer and cache counters") {
    withServer { port =>
      def metrics(): String = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(metrics().contains("\"buffered_rows\":0"))
      post(port, "/api/v1/write",
        """{"namespace":"m","measurement":"cpu","value":"1",
          |"metadata":{},"timestamp":1}""".stripMargin)
      val q = """{"namespace":"m","query":"SELECT * FROM cpu",
        |"format":"json"}""".stripMargin
      post(port, "/api/v1/query", q)
      post(port, "/api/v1/query", q)
      val m = metrics()
      assert(m.contains("\"buffered_rows\":1") &&
        m.contains("\"namespaces\":1") &&
        m.contains("\"result_cache_hits\":1") &&
        m.contains("\"result_cache_misses\":1") &&
        // no tier on this server: the schema cache is never consulted
        m.contains("\"tier_schema_cache_hits\":0") &&
        m.contains("\"tier_schema_cache_misses\":0") &&
        // ...nor is any tier file pinned or read
        m.contains("\"prune_files_total\":0") &&
        m.contains("\"prune_files_read\":0") &&
        // startup replay of an empty WAL directory
        m.contains("\"wal_replay_ms\":") &&
        m.contains("\"wal_replayed_records\":0"),
        s"unexpected metrics: $m")
    }
  }

  test("replies with a body on a keep-alive connection are not held " +
    "back by the client's delayed ACK") {
    withServer { port =>
      val get = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/metrics")).GET().build()
      def send(): Unit = {
        val r = client.send(get, HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200 && r.body().nonEmpty)
      }
      (0 until 5).foreach(_ => send())
      val t0 = System.nanoTime
      (0 until 20).foreach(_ => send())
      val ms = (System.nanoTime - t0) / 1e6
      // a reply whose body waits for the delayed ACK takes >= 40 ms
      assert(ms < 20 * 20, f"20 replies took $ms%.0f ms")
    }
  }

  test("a write whose namespace or measurement is not a storable name " +
    "gets 422 with an error body; a valid write still gets 200") {
    withServer { port =>
      for ((ns, m) <- Seq(("..", "cpu"), ("a/b", "cpu"), ("ok", ".."),
          ("ok", "x\\\\y"))) {
        val r = post(port, "/api/v1/write",
          s"""{"namespace":"$ns","measurement":"$m","value":"1",
             |"metadata":{},"timestamp":1}""".stripMargin)
        assert(r.statusCode() == 422, s"$ns/$m: ${r.body()}")
        assert(r.body().startsWith("{\"error\":") &&
          r.body().contains("not a storable name"), r.body())
      }
      val ok = post(port, "/api/v1/write",
        """{"namespace":"ok","measurement":"cpu","value":"1",
          |"metadata":{},"timestamp":1}""".stripMargin)
      assert(ok.statusCode() == 200)
      val q = post(port, "/api/v1/query",
        """{"namespace":"ok","query":"SELECT count(*) AS n FROM cpu",
          |"format":"json"}""".stripMargin)
      assert(q.body() == "[{\"n\":1}]", q.body())
    }
  }

  test("metrics surfaces per-sink stream high-water marks (WAL-" +
    "derived): absent with no sinks, present after a committed batch") {
    val dir = Files.createTempDirectory("http-hwm").toFile
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      def metrics(): String = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(!metrics().contains("stream_hwm"),
        "no sinks yet: the key must be absent, not empty")
      engine.writeStreamBatch("sink-a", 4L, Seq(
        graft.core.WriteRequest("m", "cpu", "1", Map.empty, 1L)))
      val m = metrics()
      assert(m.contains("\"stream_hwm\":{\"sink-a\":4}"),
        s"unexpected metrics: $m")
    } finally server.stop()
  }

  test("forged reserved-namespace writes are rejected: a client must " +
    "not be able to plant WAL marker records (hwm poisoning, phantom " +
    "brackets, fake seals)") {
    withServer { port =>
      val esc = "\\" + "u0000" // the JSON escape, not the raw NUL
      // a forged stream-batch hwm marker would, after a restart,
      // poison the victim sink's high-water mark so every real batch
      // is skipped as already-applied
      val r1 = post(port, "/api/v1/write",
        s"""{"namespace":"${esc}lynx.batch","measurement":"victim",
           |"value":"hwm","metadata":{"id":42},"timestamp":1}"""
          .stripMargin)
      assert(r1.statusCode() == 422, "lynx.batch forge must 422")
      // the historically-guarded seal namespace stays rejected
      val r2 = post(port, "/api/v1/write",
        s"""{"namespace":"${esc}lynx.seal","measurement":"t",
           |"value":"ns","metadata":{},"timestamp":1}""".stripMargin)
      assert(r2.statusCode() == 422, "lynx.seal forge must 422")
      // the WHOLE NUL prefix is the reserved class, not two names
      val r3 = post(port, "/api/v1/write",
        s"""{"namespace":"${esc}future.marker","measurement":"t",
           |"value":"v","metadata":{},"timestamp":1}""".stripMargin)
      assert(r3.statusCode() == 422, "any NUL-prefixed namespace must 422")
      // and the engine-level door agrees (embedded callers)
      val dir = Files.createTempDirectory("forge-engine").toFile
      val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
      intercept[IllegalArgumentException](engine.write(
        graft.core.WriteRequest("\u0000lynx.batch", "victim", "hwm",
          Map.empty, 1L)))
      intercept[IllegalArgumentException](engine.writeBatch(Seq(
        graft.core.WriteRequest("\u0000lynx.seal", "t", "ns",
          Map.empty, 1L))))
      intercept[IllegalArgumentException](engine.writeStreamBatch(
        "sink", 0L, Seq(graft.core.WriteRequest("\u0000x", "t", "v",
          Map.empty, 1L))))
    }
  }

  test("write then query round-trips the reference fixtures " +
    "(testdata/write.json, testdata/query.json)") {
    withServer { port =>
      // reference testdata/write.json (numeric tag → stringified at query)
      val w = post(port, "/api/v1/write",
        """{"namespace": "my_org", "measurement": "device_failures",
          |"value": "50",
          |"metadata": {"region": "eu-west", "tenant_id": 1234},
          |"timestamp": 1728755631}""".stripMargin)
      assert(w.statusCode() == 200)

      val q = post(port, "/api/v1/query",
        """{"namespace": "my_org",
          |"query": "SELECT value, region, tenant_id FROM device_failures",
          |"format": "json"}""".stripMargin)
      assert(q.statusCode() == 200)
      assert(q.body() ==
        """[{"value":"50","region":"eu-west","tenant_id":"1234"}]""")

      // default format is the pretty table (main.rs:80)
      val t = post(port, "/api/v1/query",
        """{"namespace": "my_org",
          |"query": "SELECT value FROM device_failures"}""".stripMargin)
      assert(t.statusCode() == 200)
      assert(t.body() == Seq(
        "+-------+",
        "| value |",
        "+-------+",
        "| 50    |",
        "+-------+").mkString("\n"))
    }
  }

  test("format=csv returns an RFC 4180 body") {
    withServer { port =>
      post(port, "/api/v1/write",
        """{"namespace": "csv_ns", "measurement": "m", "value": "a,b",
          |"timestamp": 1}""".stripMargin)
      post(port, "/api/v1/write",
        """{"namespace": "csv_ns", "measurement": "m", "value": "plain",
          |"timestamp": 2}""".stripMargin)
      val q = post(port, "/api/v1/query",
        """{"namespace": "csv_ns",
          |"query": "SELECT timestamp, value FROM m ORDER BY timestamp",
          |"format": "csv"}""".stripMargin)
      assert(q.statusCode() == 200)
      assert(q.body() ==
        "timestamp,value\r\n" +
        "1970-01-01T00:00:00.000001,\"a,b\"\r\n" +
        "1970-01-01T00:00:00.000002,plain\r\n")
    }
  }

  test("a JSON-array body batch-writes N rows in one request " +
    "(one WAL group commit), atomically rejecting invalid batches") {
    withServer { port =>
      val w = post(port, "/api/v1/write",
        """[{"namespace": "my_org", "measurement": "batch_m",
          |  "value": "1", "timestamp": 1728755631000000},
          | {"namespace": "my_org", "measurement": "batch_m",
          |  "value": "2", "timestamp": 1728755632000000},
          | {"namespace": "my_org", "measurement": "batch_m",
          |  "value": "3", "metadata": {"k": "v"},
          |  "timestamp": 1728755633000000}]""".stripMargin)
      assert(w.statusCode() == 200)

      val q = post(port, "/api/v1/query",
        """{"namespace": "my_org",
          |"query": "SELECT value FROM batch_m ORDER BY value",
          |"format": "json"}""".stripMargin)
      assert(q.statusCode() == 200)
      assert(q.body() ==
        """[{"value":"1"},{"value":"2"},{"value":"3"}]""")

      // one bad element (reserved tag key) → 422, NO rows written
      val bad = post(port, "/api/v1/write",
        """[{"namespace": "my_org", "measurement": "batch_bad",
          |  "value": "1", "timestamp": 1728755631000000},
          | {"namespace": "my_org", "measurement": "batch_bad",
          |  "value": "2", "metadata": {"timestamp": "shadow"},
          |  "timestamp": 1728755632000000}]""".stripMargin)
      assert(bad.statusCode() == 422)
      val q2 = post(port, "/api/v1/query",
        """{"namespace": "my_org",
          |"query": "SELECT value FROM batch_bad",
          |"format": "json"}""".stripMargin)
      // table never registered (no partial data): non-200 lookup
      assert(q2.statusCode() != 200,
        s"batch_bad must not exist, got ${q2.body()}")
    }
  }

  test("admin checkpoint flushes the buffer through the tier") {
    val dir = Files.createTempDirectory("http-ckpt").toFile
    val tierDir = Files.createTempDirectory("http-ckpt-tier").toFile
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new graft.tier.ParquetTier(tierDir)))
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"cpu","value":"1","timestamp":1}""")
      val ck = post(port, "/api/v1/admin/checkpoint", "")
      assert(ck.statusCode() == 200)
      assert(engine.buffer.isEmpty)
      // data still queryable from the tier
      val q = post(port, "/api/v1/query",
        """{"namespace":"ns","query":"SELECT value FROM cpu","format":"json"}""")
      assert(q.body() == """[{"value":"1"}]""")
    } finally server.stop()
  }

  test("admin compact and expire manage the tier over HTTP") {
    val dir = Files.createTempDirectory("http-admin").toFile
    val tierDir = Files.createTempDirectory("http-admin-tier").toFile
    val tier = new graft.tier.ParquetTier(tierDir)
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(tier))
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      val dayUs = 86400L * 1000000L
      // two sealed files on day 1, one on day 2
      Seq(1L, 2L, dayUs + 1).zipWithIndex.foreach { case (ts, i) =>
        post(port, "/api/v1/write",
          s"""{"namespace":"ns","measurement":"cpu","value":"${i + 1}",""" +
            s""""timestamp":$ts}""")
        post(port, "/api/v1/admin/checkpoint", "")
      }
      assert(tier.dataFiles("ns", "cpu").size == 3)
      val c = post(port, "/api/v1/admin/compact",
        """{"namespace":"ns","table":"cpu"}""")
      assert(c.statusCode() == 200)
      assert(tier.dataFiles("ns", "cpu").size == 2, "one file per day")
      val e = post(port, "/api/v1/admin/expire",
        """{"namespace":"ns","table":"cpu","before_day":"1970-01-02"}""")
      assert(e.statusCode() == 200)
      assert(e.body() == """{"dropped_files":1}""")
      val q = post(port, "/api/v1/query",
        """{"namespace":"ns","query":"SELECT value FROM cpu","format":"json"}""")
      assert(q.body() == """[{"value":"3"}]""",
        "only the surviving day remains queryable")
      // malformed day → 422, not a 500
      val bad = post(port, "/api/v1/admin/expire",
        """{"namespace":"ns","table":"cpu","before_day":"02-01-1970"}""")
      assert(bad.statusCode() == 422)
    } finally server.stop()
  }

  test("rollup endpoint serves the maintained per-group aggregate " +
    "and rejects expression smuggling") {
    val dir = Files.createTempDirectory("http-rollup").toFile
    val tierDir = Files.createTempDirectory("http-rollup-tier").toFile
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new graft.tier.ParquetTier(tierDir)))
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      (1 to 4).foreach { i =>
        post(port, "/api/v1/write",
          s"""{"namespace":"ns","measurement":"cpu","value":"$i",""" +
            s""""metadata":{"host":"${if (i % 2 == 0) "a" else "b"}"},""" +
            s""""timestamp":$i}""")
      }
      post(port, "/api/v1/admin/checkpoint", "")
      val r = post(port, "/api/v1/rollup",
        """{"namespace":"ns","table":"cpu","group":"host","value":"value"}""")
      assert(r.statusCode() == 200)
      assert(r.body() ==
        """[{"group":"a","count":2,"sum":6.0},""" +
          """{"group":"b","count":2,"sum":4.0}]""")
      // warm serve after the cold one must read zero files
      post(port, "/api/v1/rollup",
        """{"namespace":"ns","table":"cpu","group":"host","value":"value"}""")
      assert(engine.rollups.get.lastComputedFiles.isEmpty)
      // column fields are identifiers, not expressions
      val bad = post(port, "/api/v1/rollup",
        """{"namespace":"ns","table":"cpu","group":"host",""" +
          """"value":"value); DROP TABLE x"}""")
      assert(bad.statusCode() == 422)
    } finally server.stop()
  }

  test("bloom endpoint indexes a column and equality queries skip " +
    "excluded files") {
    val dir = Files.createTempDirectory("http-bloom").toFile
    val tierDir = Files.createTempDirectory("http-bloom-tier").toFile
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new graft.tier.ParquetTier(tierDir)))
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      // two sealed batches with disjoint host tags
      for (h <- Seq("a", "b")) {
        post(port, "/api/v1/write",
          s"""{"namespace":"ns","measurement":"cpu","value":"v-$h",""" +
            s""""metadata":{"host":"$h"},"timestamp":${h.hashCode.abs}}""")
        post(port, "/api/v1/admin/checkpoint", "")
      }
      val r = post(port, "/api/v1/bloom",
        """{"namespace":"ns","table":"cpu","column":"host"}""")
      assert(r.statusCode() == 200)
      val n = engine.valueBlooms.get.cachedFiles
      assert(r.body() == s"""{"indexed":$n,"columns":["host"]}""")
      // idempotent re-index reports 0 new files
      val r2 = post(port, "/api/v1/bloom",
        """{"namespace":"ns","table":"cpu","column":"host"}""")
      assert(r2.body() == """{"indexed":0,"columns":["host"]}""")
      // pruned equality query round-trips through the query endpoint
      val q = post(port, "/api/v1/query",
        """{"namespace":"ns","query":"SELECT value FROM cpu """ +
          """WHERE host = 'b'","format":"json"}""")
      assert(q.body() == """[{"value":"v-b"}]""")
      // non-string columns are a 422 contract error, not a 500
      val bad = post(port, "/api/v1/bloom",
        """{"namespace":"ns","table":"cpu","column":"timestamp"}""")
      assert(bad.statusCode() == 422)
      assert(bad.body().contains("string"))
      // expression smuggling rejected at the parse layer
      val smug = post(port, "/api/v1/bloom",
        """{"namespace":"ns","table":"cpu","column":"host); DROP"}""")
      assert(smug.statusCode() == 422)
      // no tier → 404
      val noTier = new LynxEngine(SparkFixture.spark,
        Files.createTempDirectory("http-bloom-nt").toFile, 1024 * 1024)
      val s2 = new LynxServer(noTier, "127.0.0.1", 0)
      s2.start()
      try {
        val r3 = post(s2.boundPort, "/api/v1/bloom",
          """{"namespace":"ns","table":"cpu","column":"host"}""")
        assert(r3.statusCode() == 404)
      } finally s2.stop()
    } finally server.stop()
  }

  test("query accepts a version field for time-travel reads") {
    val dir = Files.createTempDirectory("http-travel").toFile
    val tierDir = Files.createTempDirectory("http-travel-tier").toFile
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
      Some(new graft.tier.ParquetTier(tierDir)))
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      for (i <- 1 to 2) {
        post(port, "/api/v1/write",
          s"""{"namespace":"ns","measurement":"cpu","value":"$i",""" +
            s""""timestamp":$i}""")
        post(port, "/api/v1/admin/checkpoint", "") // manifest v$i
      }
      def q(body: String) = post(port, "/api/v1/query", body)
      val v1 = q("""{"namespace":"ns","query":"SELECT value FROM cpu""" +
        """ ORDER BY value","format":"json","version":1}""")
      assert(v1.body() == """[{"value":"1"}]""",
        "version 1 must see only the first checkpoint")
      val now = q("""{"namespace":"ns","query":"SELECT value FROM cpu""" +
        """ ORDER BY value","format":"json"}""")
      assert(now.body() == """[{"value":"1"},{"value":"2"}]""")
      // unpublished version → 500 (engine rejects, no partial scan)
      val missing = q("""{"namespace":"ns","query":"SELECT value FROM""" +
        """ cpu","format":"json","version":7}""")
      assert(missing.statusCode() == 500)
      // non-integral / out-of-range versions → 422, never a silent
      // asLong() coercion to 0 (the write timestamp discipline)
      for (bad <- Seq(""""abc"""", "1.7", "99999999999999999999"))
        assert(q(s"""{"namespace":"ns","query":"SELECT value FROM""" +
          s""" cpu","format":"json","version":$bad}""").statusCode()
          == 422, s"version $bad must be rejected at parse time")
      // version discovery: both published manifests, oldest first
      val vs = post(port, "/api/v1/admin/versions",
        """{"namespace":"ns","table":"cpu"}""")
      assert(vs.statusCode() == 200)
      assert(vs.body() ==
        """[{"version":1,"files":1},{"version":2,"files":2}]""")
      // unknown table → empty list, not an error
      val none = post(port, "/api/v1/admin/versions",
        """{"namespace":"ns","table":"nope"}""")
      assert(none.body() == "[]")
    } finally server.stop()
  }

  test("unknown namespace → 404; bad SQL → 500 (main.rs:83-87)") {
    withServer { port =>
      val r404 = post(port, "/api/v1/query",
        """{"namespace": "nope", "query": "SELECT * FROM t"}""")
      assert(r404.statusCode() == 404)
      post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"t","value":"1","timestamp":1}""")
      val r500 = post(port, "/api/v1/query",
        """{"namespace": "ns", "query": "INSERT INTO t VALUES (1)"}""")
      assert(r500.statusCode() == 500)
      val rMalformed = post(port, "/api/v1/write", """{"namespace": "x"}""")
      assert(rMalformed.statusCode() == 422)
      // non-u64 tag values rejected (reference serde u64 semantics)
      val rFloatTag = post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"t","value":"1",
          |"metadata":{"x":1.5},"timestamp":1}""".stripMargin)
      assert(rFloatTag.statusCode() == 422)
      val rNegTag = post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"t","value":"1",
          |"metadata":{"x":-3},"timestamp":1}""".stripMargin)
      assert(rNegTag.statusCode() == 422)
      // non-integer timestamp rejected, not coerced to epoch 0
      val rBadTs = post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"t","value":"1",
          |"timestamp":"oops"}""".stripMargin)
      assert(rBadTs.statusCode() == 422)
      // out-of-i64 timestamp rejected, not wrapped through asLong()
      val rHugeTs = post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"t","value":"1",
          |"timestamp":9223372036854775808}""".stripMargin)
      assert(rHugeTs.statusCode() == 422)
      // reserved tag keys rejected (they'd shadow engine columns)
      val rResTag = post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"t","value":"1",
          |"metadata":{"__lynx_day":"x"},"timestamp":1}""".stripMargin)
      assert(rResTag.statusCode() == 422)
      // DDL through the query endpoint rejected (CTAS bypass)
      val rCtas = post(port, "/api/v1/query",
        """{"namespace":"ns","query":"CREATE TABLE p AS SELECT * FROM t"}""")
      assert(rCtas.statusCode() == 500)
      // non-POST method
      val rGet = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/v1/query")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rGet.statusCode() == 405)
    }
  }

  test("every POST route answers a GET with 405 and an unparseable " +
    "body with 422; exchange routes 404 without an exchange dir") {
    def get(port: Int, path: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
    // (route, status of an unparseable body with a tier and an
    // exchange dir, the same without either); checkpoint reads no body
    val routes = Seq(
      ("/api/v1/write", 422, 422),
      ("/api/v1/query", 422, 422),
      ("/api/v1/admin/checkpoint", 200, 200),
      ("/api/v1/admin/compact", 422, 422),
      ("/api/v1/rollup", 422, 422),
      ("/api/v1/ann", 422, 422),
      ("/api/v1/bloom", 422, 422),
      ("/api/v1/admin/versions", 422, 422),
      ("/api/v1/admin/expire", 422, 422),
      ("/api/v1/admin/fence", 422, 422),
      ("/api/v1/admin/unfence", 422, 422),
      ("/api/v1/admin/export", 422, 404),
      ("/api/v1/admin/import", 422, 404),
      ("/api/v1/admin/dropsnapshot", 422, 404))
    val dir = Files.createTempDirectory("http-routes").toFile
    val tierDir = Files.createTempDirectory("http-routes-tier").toFile
    val exchange = Files.createTempDirectory("http-routes-x").toFile
    val full = new LynxServer(
      new LynxEngine(SparkFixture.spark, dir, 1024 * 1024,
        Some(new graft.tier.ParquetTier(tierDir))),
      "127.0.0.1", 0, exchangeDir = Some(exchange))
    full.start()
    try withServer { bare =>
      for ((path, withDirs, without) <- routes;
           (port, want) <- Seq((full.boundPort, withDirs), (bare, without))) {
        val g = get(port, path)
        assert(g.statusCode() == 405 && g.body() == "", s"GET $path")
        val r = post(port, path, "{not json")
        assert(r.statusCode() == want && r.body() == "",
          s"$path: ${r.statusCode()} ${r.body()}")
      }
    } finally full.stop()
  }

  test("a fenced namespace refuses single-object and one-element-array " +
    "writes with 422 + Retry-After") {
    val dir = Files.createTempDirectory("http-fence").toFile
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      assert(post(port, "/api/v1/admin/fence", """{"namespace":"f"}""")
        .statusCode() == 200)
      val row = """{"namespace":"f","measurement":"cpu","value":"1",""" +
        """"timestamp":1}"""
      for (body <- Seq(row, s"[$row]")) {
        val r = post(port, "/api/v1/write", body)
        assert(r.statusCode() == 422 &&
          r.headers().firstValue("Retry-After").orElse("") == "2" &&
          r.body().contains("\"retryable\":true"),
          s"$body: ${r.statusCode()} ${r.body()}")
      }
      assert(engine.buffer.isEmpty)
    } finally server.stop()
  }

  test("a body over the cap gets 413 with and without a Content-Length; " +
    "a normal write on the same server still returns 200") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    withServer { port =>
      // raw HTTP/1.1 so the test controls the framing: the status line
      // of the reply to `head` followed by whatever `body` writes
      def status(head: String)(body: java.io.OutputStream => Unit): Int = {
        val sock = new java.net.Socket("127.0.0.1", port)
        sock.setSoTimeout(30000) // a server waiting for the body fails
        try {
          val out = new java.io.BufferedOutputStream(
            sock.getOutputStream, 1 << 16)
          out.write(("POST /api/v1/write HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
            head + "\r\n").getBytes(ISO_8859_1))
          body(out)
          out.flush()
          new java.io.BufferedReader(new java.io.InputStreamReader(
            sock.getInputStream, ISO_8859_1)).readLine().split(" ")(1).toInt
        } finally sock.close()
      }
      val over = LynxServer.MaxBodyBytes + 1
      // a declared length over the cap is refused before any byte
      assert(status(s"Content-Length: $over\r\n")(_ => ()) == 413)
      // chunked: no length up front, so the cap holds while reading
      assert(status("Transfer-Encoding: chunked\r\n") { out =>
        val chunk = Array.fill[Byte](1 << 20)(' '.toByte)
        var left = over
        while (left > 0) {
          val n = math.min(left, chunk.length)
          out.write(s"${n.toHexString}\r\n".getBytes(ISO_8859_1))
          out.write(chunk, 0, n)
          out.write("\r\n".getBytes(ISO_8859_1))
          left -= n
        }
        out.write("0\r\n\r\n".getBytes(ISO_8859_1))
      } == 413)
      assert(post(port, "/api/v1/write",
        """{"namespace":"ns","measurement":"t","value":"1","timestamp":1}""")
        .statusCode() == 200)
    }
  }

  test("concurrent requests are served by overlapping handler threads") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val dir = Files.createTempDirectory("http-conc").toFile
    // both in-flight queries must be inside the handler at once: each
    // waits for the other before answering. With a serialized (single
    // dispatch-thread) server, the first would time out → 500.
    val latch = new CountDownLatch(2)
    val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024) {
      override def query(ns: String, sql: String,
          asOf: Option[Long]) = {
        latch.countDown()
        if (!latch.await(10, TimeUnit.SECONDS))
          throw new IllegalStateException(
            "second request never started — handlers serialized")
        super.query(ns, sql, asOf)
      }
    }
    engine.write(graft.core.WriteRequest("ns", "t", "1", Map.empty, 1))
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      val body = """{"namespace":"ns","query":"SELECT value FROM t","format":"json"}"""
      val req = HttpRequest
        .newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/query"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val f1 = client.sendAsync(req, HttpResponse.BodyHandlers.ofString())
      val f2 = client.sendAsync(req, HttpResponse.BodyHandlers.ofString())
      assert(f1.get(30, TimeUnit.SECONDS).statusCode() == 200)
      assert(f2.get(30, TimeUnit.SECONDS).statusCode() == 200)
    } finally server.stop()
  }

  test("ANN endpoint serves IVF top-k matching q_ann_ivf on the same " +
    "fixture, and validates index/vector/bounds") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val walDir = Files.createTempDirectory("ann-http").toFile
    val tierDir = Files.createTempDirectory("ann-tier").toFile
    val engine = new LynxEngine(spark, walDir, 1024 * 1024,
      Some(new graft.tier.ParquetTier(tierDir)))
    // build is engine-side by design (an HTTP build would read an
    // arbitrary host path for an untrusted caller)
    val indexed = engine.ann.get.build("fixtures", sfDir)
    assert(indexed > 0)
    val server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
    try {
      val port = server.boundPort
      // the audited query's rows: (query_id, vec_id, cos) for the 5
      // fixture queries, top-3 each, self excluded
      val expected = graft.ops.Similarity.qAnnIvf.run(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._1).map(t => (t._2, t._3)).toSeq).toMap
      val qvecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 5)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      for ((qid, vec) <- qvecs.toSeq.sortBy(_._1)) {
        // k=4 because the served top-1 is the query vector itself
        // (cos 1); q_ann_ivf excludes self, so drop it and take 3
        val body = s"""{"index":"fixtures","vector":[${
          vec.mkString(",")}],"k":4,"nprobe":3}"""
        val r = post(port, "/api/v1/ann", body)
        assert(r.statusCode() == 200, s"q$qid: ${r.body()}")
        val hits = """\{"vec_id":(\d+),"cos":([-0-9.E]+)\}""".r
          .findAllMatchIn(r.body())
          .map(m => (m.group(1).toLong, m.group(2).toDouble)).toSeq
        val served = hits.filter(_._1 != qid).take(3)
        assert(served == expected(qid),
          s"q$qid served $served, q_ann_ivf says ${expected(qid)}")
      }
      // filtered search: labels restricts ranking, and every served
      // hit's fixture label is in the allowed set
      val labelOf = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.get(1).toString.toLong).toMap
      val qv = qvecs(0L)
      val rf = post(port, "/api/v1/ann",
        s"""{"index":"fixtures","vector":[${qv.mkString(",")}],""" +
          """"k":5,"nprobe":8,"labels":[1,2]}""")
      assert(rf.statusCode() == 200, rf.body())
      val fids = """"vec_id":(\d+)""".r.findAllMatchIn(rf.body())
        .map(_.group(1).toLong).toSeq
      assert(fids.nonEmpty &&
        fids.forall(id => Seq(1L, 2L).contains(labelOf(id))),
        s"filtered hits must carry allowed labels: $fids")
      // malformed labels → 422
      assert(post(port, "/api/v1/ann",
        s"""{"index":"fixtures","vector":[${qv.mkString(",")}],""" +
          """"labels":[]}""").statusCode() == 422)
      assert(post(port, "/api/v1/ann",
        s"""{"index":"fixtures","vector":[${qv.mkString(",")}],""" +
          """"labels":["x"]}""").statusCode() == 422)
      // unknown index → 404; wrong dimension → 422 with the contract
      assert(post(port, "/api/v1/ann",
        """{"index":"nope","vector":[1.0]}""").statusCode() == 404)
      val bad = post(port, "/api/v1/ann",
        s"""{"index":"fixtures","vector":[1.0,2.0]}""")
      assert(bad.statusCode() == 422 && bad.body().contains("dimensions"),
        s"${bad.statusCode()} ${bad.body()}")
      // non-identifier index name is rejected before touching disk
      assert(post(port, "/api/v1/ann",
        """{"index":"../etc","vector":[1.0]}""").statusCode() == 422)
    } finally server.stop()
  }
}
