package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.LynxEngine
import graft.http.{LynxServer, ShardRouter}

/** The namespace-sharding router over REAL embedded engine backends:
  * stable routing, per-shard data scoping, the q_shard_rendezvous
  * minimal-movement invariant asserted at the serving layer, and the
  * owner-down failure contract.
  */
class ShardRouterSpec extends AnyFunSuite {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String)
      : HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def withCluster(n: Int)(
      f: (ShardRouter, Seq[(String, LynxServer, Int)]) => Unit): Unit = {
    val backends = (0 until n).map { i =>
      val dir = Files.createTempDirectory(s"router-shard$i").toFile
      val engine = new LynxEngine(SparkFixture.spark, dir, 1024 * 1024)
      val srv = new LynxServer(engine, "127.0.0.1", 0)
      srv.start()
      (s"s$i", srv, srv.boundPort)
    }
    val router = new ShardRouter("127.0.0.1", 0,
      backends.map { case (name, _, port) =>
        name -> s"http://127.0.0.1:$port"
      })
    router.start()
    try f(router, backends)
    finally {
      router.stop()
      backends.foreach(_._2.stop())
    }
  }

  test("writes route stably by namespace and queries scope to the " +
    "owning engine — the other shards never see the data") {
    withCluster(3) { (router, backends) =>
      val rp = router.boundPort
      val namespaces = (0 until 12).map(i => s"ns$i")
      namespaces.zipWithIndex.foreach { case (ns, i) =>
        val w = post(rp, "/api/v1/write",
          s"""{"namespace":"$ns","measurement":"cpu","value":"v$i",
             |"metadata":{},"timestamp":${i + 1}}""".stripMargin)
        assert(w.statusCode() == 200, s"write $ns: ${w.body()}")
      }
      namespaces.zipWithIndex.foreach { case (ns, i) =>
        // via the router: the namespace resolves wherever it lives
        val q = post(rp, "/api/v1/query",
          s"""{"namespace":"$ns","query":"SELECT value FROM cpu",
             |"format":"json"}""".stripMargin)
        assert(q.statusCode() == 200 && q.body().contains(s"v$i"),
          s"$ns via router: ${q.statusCode()} ${q.body()}")
        // directly: ONLY the owner has it (placement is real, not
        // fan-out-and-merge)
        val (owner, _) = router.shardFor(ns)
        backends.foreach { case (name, _, port) =>
          val direct = post(port, "/api/v1/query",
            s"""{"namespace":"$ns","query":"SELECT value FROM cpu",
               |"format":"json"}""".stripMargin)
          if (name == owner)
            assert(direct.statusCode() == 200, s"$ns on owner $name")
          else
            assert(direct.statusCode() == 404,
              s"$ns must be absent from non-owner $name")
        }
      }
      // routing is deterministic: the probe endpoint agrees with the
      // in-process function
      namespaces.foreach { ns =>
        val probe = post(rp, "/api/v1/shard",
          s"""{"namespace":"$ns"}""")
        assert(probe.statusCode() == 200 &&
          probe.body().contains(s""""shard":"${router.shardFor(ns)._1}""""))
      }
      // all three shards got some namespace (rendezvous spreads)
      val owners = namespaces.map(ns => router.shardFor(ns)._1).toSet
      assert(owners.size > 1, s"12 namespaces all on one shard? $owners")
    }
  }

  test("router replies with a body on a keep-alive connection are not " +
    "held back by the client's delayed ACK") {
    withCluster(1) { (router, _) =>
      val rp = router.boundPort
      def send(): Unit = {
        val r = post(rp, "/api/v1/shard", """{"namespace":"ns0"}""")
        assert(r.statusCode() == 200 && r.body().contains("\"shard\":\"s0\""))
      }
      (0 until 5).foreach(_ => send())
      val t0 = System.nanoTime
      (0 until 20).foreach(_ => send())
      val ms = (System.nanoTime - t0) / 1e6
      // a reply whose body waits for the delayed ACK takes >= 40 ms
      assert(ms < 20 * 20, f"20 replies took $ms%.0f ms")
    }
  }

  test("adding a shard moves exactly the rendezvous-predicted " +
    "namespace set, every move lands ON the new shard (the " +
    "q_shard_rendezvous invariant at the serving layer)") {
    val old = (0 until 3).map(i => s"s$i" -> s"http://unused-$i")
    val grown = old :+ ("s3" -> "http://unused-3")
    val keys = (0 until 2000).map(i => s"ns$i")
    val moved = keys.filter(k =>
      ShardRouter.shardFor(k, old)._1 !=
        ShardRouter.shardFor(k, grown)._1)
    // every moved key lands on the NEW shard — no old-to-old churn
    moved.foreach { k =>
      assert(ShardRouter.shardFor(k, grown)._1 == "s3",
        s"$k moved between OLD shards — rendezvous violated")
    }
    // the moved fraction is ~1/4 (E = 1/(N+1)); generous band
    val frac = moved.size.toDouble / keys.size
    assert(frac > 0.15 && frac < 0.35,
      s"moved fraction $frac outside the 1/(N+1) band")
    // unmoved keys keep their exact old owner
    keys.filterNot(moved.toSet).foreach { k =>
      assert(ShardRouter.shardFor(k, old)._1 ==
        ShardRouter.shardFor(k, grown)._1)
    }
  }

  test("cross-shard write batches are rejected 422 (never half-" +
    "applied); single-shard batches pass through atomically") {
    withCluster(3) { (router, _) =>
      val rp = router.boundPort
      // find two namespaces on different shards
      val nss = (0 until 50).map(i => s"batch-ns$i")
      val byShard = nss.groupBy(ns => router.shardFor(ns)._1)
      val (aShard, aNss) = byShard.head
      val bNss = byShard.find(_._1 != aShard).get._2
      def w(ns: String, i: Int) =
        s"""{"namespace":"$ns","measurement":"m","value":"v$i",
           |"metadata":{},"timestamp":$i}""".stripMargin
      // cross-shard batch: rejected whole
      val cross = post(rp, "/api/v1/write",
        s"[${w(aNss.head, 1)},${w(bNss.head, 2)}]")
      assert(cross.statusCode() == 422 &&
        cross.body().contains("split write batches"),
        s"${cross.statusCode()} ${cross.body()}")
      // nothing landed from the rejected batch
      val check = post(rp, "/api/v1/query",
        s"""{"namespace":"${aNss.head}","query":"SELECT * FROM m"}""")
      assert(check.statusCode() == 404,
        "a rejected cross-shard batch must apply NOTHING")
      // same-shard multi-namespace batch: allowed, atomic engine-side
      val sameShard = aNss.take(2)
      val ok = post(rp, "/api/v1/write",
        s"[${w(sameShard(0), 1)},${w(sameShard(1), 2)}]")
      assert(ok.statusCode() == 200, ok.body())
      sameShard.foreach { ns =>
        assert(post(rp, "/api/v1/query",
          s"""{"namespace":"$ns","query":"SELECT * FROM m"}""")
          .statusCode() == 200)
      }
    }
  }

  test("health aggregates shards; a down owner fails its namespaces " +
    "502 while other shards keep serving") {
    withCluster(3) { (router, backends) =>
      val rp = router.boundPort
      assert(get(rp, "/health").statusCode() == 200)
      // find namespaces owned by shard s1 and by another shard
      val nss = (0 until 50).map(i => s"hc-ns$i")
      val onS1 = nss.find(ns => router.shardFor(ns)._1 == "s1").get
      val elsewhere = nss.find(ns => router.shardFor(ns)._1 != "s1").get
      Seq(onS1, elsewhere).foreach { ns =>
        assert(post(rp, "/api/v1/write",
          s"""{"namespace":"$ns","measurement":"m","value":"x",
             |"metadata":{},"timestamp":1}""".stripMargin)
          .statusCode() == 200)
      }
      // kill s1
      backends.find(_._1 == "s1").get._2.stop()
      val h = get(rp, "/health")
      assert(h.statusCode() == 503 && h.body().contains("\"s1\":false"),
        s"${h.statusCode()} ${h.body()}")
      // s1's namespace: 502 with the owner named; others: fine
      val dead = post(rp, "/api/v1/query",
        s"""{"namespace":"$onS1","query":"SELECT * FROM m"}""")
      assert(dead.statusCode() == 502 && dead.body().contains("s1"),
        s"${dead.statusCode()} ${dead.body()}")
      val alive = post(rp, "/api/v1/query",
        s"""{"namespace":"$elsewhere","query":"SELECT * FROM m"}""")
      assert(alive.statusCode() == 200,
        s"${alive.statusCode()} ${alive.body()}")
    }
  }

  /** Tiered backends sharing one exchange dir — the migration
    * harness: snapshots hand off through shared storage exactly as
    * the deployment docs describe.
    */
  private def withTieredCluster(n: Int,
      stateFile: Option[java.io.File] = None)(
      f: (ShardRouter, Seq[(String, LynxServer, Int)],
        java.io.File) => Unit): Unit = {
    val exchange = Files.createTempDirectory("router-exchange").toFile
    val backends = (0 until n).map { i =>
      val wal = Files.createTempDirectory(s"router-mig-wal$i").toFile
      val tier = Files.createTempDirectory(s"router-mig-tier$i").toFile
      val engine = new LynxEngine(SparkFixture.spark, wal, 1024 * 1024,
        Some(new graft.tier.ParquetTier(tier)))
      val srv = new LynxServer(engine, "127.0.0.1", 0,
        exchangeDir = Some(exchange))
      srv.start()
      (s"s$i", srv, srv.boundPort)
    }
    val router = new ShardRouter("127.0.0.1", 0,
      backends.map { case (name, _, port) =>
        name -> s"http://127.0.0.1:$port"
      }, stateFile)
    router.start()
    try f(router, backends, exchange)
    finally {
      router.stop()
      backends.foreach(_._2.stop())
    }
  }

  test("mechanized migration: fence → checkpoint → export → import → " +
    "router flip; data answers identically through the router, RAM-" +
    "tail rows ride along, racing writes 422-retry onto the new " +
    "owner, and the old owner stays fenced (tombstone)") {
    val stateFile = new java.io.File(
      Files.createTempDirectory("router-state").toFile, "overrides.json")
    withTieredCluster(2, Some(stateFile)) { (router, backends, exchange) =>
      val rp = router.boundPort
      // a namespace owned by s0 so the move target is deterministic
      val ns = (0 until 50).map(i => s"mig-ns$i")
        .find(n => router.shardFor(n)._1 == "s0").get
      def writeRow(i: Int) = post(rp, "/api/v1/write",
        s"""{"namespace":"$ns","measurement":"cpu","value":"v$i",
           |"metadata":{"host":"h$i"},"timestamp":${i + 1}}"""
          .stripMargin)
      (0 until 5).foreach(i => assert(writeRow(i).statusCode() == 200))
      // seal a part of it so the move covers tier AND buffered rows
      assert(post(rp, "/api/v1/admin/checkpoint", "")
        .statusCode() == 200)
      (5 until 8).foreach(i => assert(writeRow(i).statusCode() == 200))
      val sql = s"""{"namespace":"$ns","query":"SELECT value FROM """ +
        s"""cpu ORDER BY value","format":"json"}"""
      val before = post(rp, "/api/v1/query", sql)
      assert(before.statusCode() == 200)

      // a write DURING a fence is 422 + Retry-After through the
      // router (the drain barrier is visible end-to-end)
      val (_, s0srv, s0port) = backends.find(_._1 == "s0").get
      assert(post(s0port, "/api/v1/admin/fence",
        s"""{"namespace":"$ns"}""").statusCode() == 200)
      val blocked = writeRow(98)
      assert(blocked.statusCode() == 422 &&
        blocked.headers().firstValue("Retry-After").isPresent &&
        blocked.body().contains("retryable"),
        s"${blocked.statusCode()} ${blocked.body()}")
      assert(post(s0port, "/api/v1/admin/unfence",
        s"""{"namespace":"$ns"}""").statusCode() == 200)

      // migrate to s1
      val mig = post(rp, "/api/v1/admin/migrate",
        s"""{"namespace":"$ns","to":"s1"}""")
      assert(mig.statusCode() == 200 &&
        mig.body().contains("\"moved\":true"), mig.body())
      // the router now routes to s1 and says so
      val probe = post(rp, "/api/v1/shard",
        s"""{"namespace":"$ns"}""")
      assert(probe.body().contains("\"shard\":\"s1\"") &&
        probe.body().contains("\"overridden\":true"), probe.body())
      // identical answer through the router (all 8 rows: the
      // checkpoint inside migrate sealed the post-checkpoint tail)
      val after = post(rp, "/api/v1/query", sql)
      assert(after.statusCode() == 200 && after.body() == before.body(),
        s"post-migrate divergence:\n${before.body()}\n${after.body()}")
      // the new owner answers directly; a retried write lands there
      val s1port = backends.find(_._1 == "s1").get._3
      assert(post(s1port, "/api/v1/query", sql).statusCode() == 200)
      assert(writeRow(99).statusCode() == 200)
      assert(post(s1port, "/api/v1/query",
        s"""{"namespace":"$ns","query":"SELECT value FROM cpu """ +
          s"""WHERE value = 'v99'","format":"json"}""").body()
        .contains("v99"), "post-migrate writes must land on s1")
      // the old owner is tombstone-fenced: direct writes keep
      // failing 422, its stale copy can never diverge silently
      val stale = post(s0port, "/api/v1/write",
        s"""{"namespace":"$ns","measurement":"cpu","value":"zombie",
           |"metadata":{},"timestamp":1000}""".stripMargin)
      assert(stale.statusCode() == 422, s"${stale.statusCode()}")
      s0srv.toString // keep the reference shape explicit
      // the snapshot was reclaimed from the shared exchange dir
      // after the flip (no unbounded copy accumulation)
      assert(Option(exchange.listFiles()).getOrElse(Array.empty)
        .forall(!_.getName.startsWith("mig-")),
        s"exchange dir still holds: ${exchange.list().mkString(",")}")
      // the override is the migration COMMIT POINT: a restarted
      // router (same shard table + state file) must still route the
      // namespace to its new owner, not back to rendezvous
      val router2 = new ShardRouter("127.0.0.1", 0,
        backends.map { case (name, _, port) =>
          name -> s"http://127.0.0.1:$port"
        }, Some(stateFile))
      try {
        assert(router2.owner(ns)._1 == "s1",
          "a restarted router must honor the persisted migration")
        assert(router2.ownerOverrides == Map(ns -> "s1"))
      } finally router2.stop()
    }
  }

  test("migration failure rolls back: a non-fresh target refuses the " +
    "import, ownership is unchanged, the fence is lifted, writes " +
    "flow again") {
    withTieredCluster(2) { (router, backends, _) =>
      val rp = router.boundPort
      val ns = (0 until 50).map(i => s"rb-ns$i")
        .find(n => router.shardFor(n)._1 == "s0").get
      // data on the rightful owner, sealed so the export is non-empty
      assert(post(rp, "/api/v1/write",
        s"""{"namespace":"$ns","measurement":"cpu","value":"mine",
           |"metadata":{},"timestamp":1}""".stripMargin)
        .statusCode() == 200)
      assert(post(rp, "/api/v1/admin/checkpoint", "")
        .statusCode() == 200)
      // poison the TARGET: the same (ns, table) already exists there
      // (written directly, bypassing the router), so the fresh-table
      // import must refuse
      val s1port = backends.find(_._1 == "s1").get._3
      assert(post(s1port, "/api/v1/write",
        s"""{"namespace":"$ns","measurement":"cpu","value":"squat",
           |"metadata":{},"timestamp":2}""".stripMargin)
        .statusCode() == 200)
      assert(post(s1port, "/api/v1/admin/checkpoint", "")
        .statusCode() == 200)
      val mig = post(rp, "/api/v1/admin/migrate",
        s"""{"namespace":"$ns","to":"s1"}""")
      assert(mig.statusCode() == 502 &&
        mig.body().contains("import failed"), mig.body())
      // ownership unchanged, fence lifted: router still serves s0's
      // data and accepts writes
      val probe = post(rp, "/api/v1/shard", s"""{"namespace":"$ns"}""")
      assert(probe.body().contains("\"shard\":\"s0\""), probe.body())
      val q = post(rp, "/api/v1/query",
        s"""{"namespace":"$ns","query":"SELECT value FROM cpu",
           |"format":"json"}""".stripMargin)
      assert(q.statusCode() == 200 && q.body().contains("mine") &&
        !q.body().contains("squat"), q.body())
      assert(post(rp, "/api/v1/write",
        s"""{"namespace":"$ns","measurement":"cpu","value":"again",
           |"metadata":{},"timestamp":3}""".stripMargin)
        .statusCode() == 200)
    }
  }

  test("ann placement is enforced at BUILD time: with a shard table " +
    "configured, only the name's rendezvous owner may build the " +
    "index — misplacement is an error at creation, not a 404 at " +
    "serve time") {
    val spark = SparkFixture.spark
    val shards = Seq("s0" -> "http://unused-0", "s1" -> "http://unused-1")
    val name = (0 until 50).map(i => s"plix$i")
      .find(n => ShardRouter.shardFor("ann:" + n, shards)._1 == "s0")
      .get
    val tier = new graft.tier.ParquetTier(
      Files.createTempDirectory("ann-place-tier").toFile)
    // the WRONG shard refuses the build, naming the owner
    val wrong = new graft.engine.AnnStore(spark, tier,
      placement = Some(("s1", shards)))
    val ex = intercept[IllegalArgumentException] {
      wrong.build(name, "/root/testdata/sf0.001")
    }
    assert(ex.getMessage.contains("routes to shard 's0'") &&
      ex.getMessage.contains("'s1'"), ex.getMessage)
    // the rendezvous owner builds fine; engines without a shard
    // table (single-box) are unrestricted
    val right = new graft.engine.AnnStore(spark, tier,
      placement = Some(("s0", shards)))
    assert(right.build(name, "/root/testdata/sf0.001") > 0)
    val solo = new graft.engine.AnnStore(spark, tier)
    assert(solo.build(name + "b", "/root/testdata/sf0.001") > 0)
  }

  test("checkpoint broadcasts to every shard: each engine's buffered " +
    "rows survive via its own WAL-truncation carry-over") {
    withCluster(2) { (router, backends) =>
      val rp = router.boundPort
      // write one row per shard (find a namespace for each)
      val nss = (0 until 20).map(i => s"cp-ns$i")
      val perShard = backends.map { case (name, _, _) =>
        nss.find(ns => router.shardFor(ns)._1 == name).get
      }
      perShard.foreach { ns =>
        assert(post(rp, "/api/v1/write",
          s"""{"namespace":"$ns","measurement":"m","value":"x",
             |"metadata":{},"timestamp":1}""".stripMargin)
          .statusCode() == 200)
      }
      // engines here have NO tier: checkpoint is a no-op 200 (the
      // reference-faithful contract) — the broadcast must still fan
      // out and aggregate
      val cp = post(rp, "/api/v1/admin/checkpoint", "")
      assert(cp.statusCode() == 200, cp.body())
      perShard.foreach { ns =>
        assert(post(rp, "/api/v1/query",
          s"""{"namespace":"$ns","query":"SELECT * FROM m"}""")
          .statusCode() == 200)
      }
    }
  }
}
