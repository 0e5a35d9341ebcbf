package enginebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import Gen._

/** Data sizes of the workloads (rows) and the mixed writer's rate. */
final case class Sizes(scanRows: Int, wideRows: Int, tierRows: Int,
    tierDays: Int, tailRows: Int, mixedRows: Int,
    mixedWriteRowsPerSec: Int, preloadBatch: Int, ingestWarmBodies: Int,
    ingestRows: Int, warmRounds: Int)

object Sizes {
  /** Sized so a measured set of `ingest` and `tiered` runs (4 + 22 per
    * workload plus two builds) fits in 3420 s on a 4-core box, where a
    * server JVM takes ~6 s to start and a buffered query costs ~0.4 s
    * plus ~1.5 s per 100k rows: a 15 s run takes ~40 s and ~58 s. `ingestRows` caps the ingest phase so
    * that recovery and heap compare at equal volume; at the 130-200k
    * rows/s of that box it is reached after 5-8 s, and a host slowed to
    * half speed still reaches it. A larger cap would not fit the run
    * budget: ingest's recovery `count(*)` costs ~1.4 s per 100k rows.
    * The mixed writer's fixed rate is 5% of the ~158k rows/s `ingest`
    * sustained on that box when this benchmark was introduced: at a
    * third of it the written table would grow several-fold within one
    * run and every `q_fresh` would scan a different amount of data.
    */
  val Full = Sizes(scanRows = 40000, wideRows = 2000, tierRows = 80000,
    tierDays = 10, tailRows = 4000, mixedRows = 20000,
    mixedWriteRowsPerSec = 8000, preloadBatch = 1000, ingestWarmBodies = 200,
    ingestRows = 1000000, warmRounds = 2)
  /** Tiny sizes for the smoke check of the metric set. */
  val Smoke = Sizes(scanRows = 2000, wideRows = 100, tierRows = 4000,
    tierDays = 10, tailRows = 200, mixedRows = 1000,
    mixedWriteRowsPerSec = 4000, preloadBatch = 500, ingestWarmBodies = 20,
    ingestRows = 20000, warmRounds = 1)
}

/** Layer calls a traced run makes after each acknowledged HTTP write
  * (preload and timed, not warm-up) and each recorded query; the
  * untraced run makes none.
  */
trait Hooks {
  /** `preload` marks writes made during set-up. */
  def write(body: Array[Byte], httpMs: Double, preload: Boolean): Unit = ()
  def query(q: Query, httpMs: Double, reply: Array[Byte]): Unit = ()
  /** Rows the hooks wrote to the server besides the workload's own. */
  def extraRows: Long = 0L
}
object NoHooks extends Hooks

/** How a workload gets its server: a child JVM, or (traced run) the
  * engine hosted in this JVM.
  */
trait Host {
  def start(root: File, tier: Boolean): Target
}

/** One run's counters, samples and printed metrics. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val sizes: Sizes) {
  @volatile var hooks: Hooks = NoHooks
  /** Whether too few samples for a tail fail the run (they do not in
    * the half-length phases of a traced run, which print no tails).
    */
  var needTails = true
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val errs = new ConcurrentLinkedQueue[String]
  val writeLat = new Samples
  val queryLat = new Samples
  val lag = new Samples
  val replyBytes = new AtomicLong
  /** CPU the load threads spent sending and checking, in ns. */
  val clientCpuNanos = new AtomicLong
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra facts for the envelope line, as raw JSON values. */
  val info = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, v: Double, unit: String): Unit = synchronized {
    metrics(name) = (v, unit)
  }
  def note(key: String, json: String): Unit = synchronized { info(key) = json }
  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (errs.size < 10) errs.add(msg)
  }
  def errors: Seq[String] = errs.toArray(Array.empty[String]).toSeq

  private def send(h: Http, path: String, body: Array[Byte])
      : Option[(Int, Array[Byte])] =
    try Some(h.call(path, body))
    catch { case e: Exception => h.reset(); fail(s"$path: $e"); None }

  private def cpuOf[T](body: => T): T = {
    val c0 = threads.getCurrentThreadCpuTime
    try body finally clientCpuNanos.addAndGet(threads.getCurrentThreadCpuTime - c0)
  }

  /** One write; its latency counts from `from` (the due time of an
    * open-loop request, else the send time). True when acknowledged.
    */
  def write(h: Http, body: Array[Byte], cls: String,
      from: Long = -1L): Boolean = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val r = cpuOf(send(h, "/api/v1/write", body))
    val done = System.nanoTime()
    r match {
      case Some((200, _)) =>
        writeLat.add(cls, (done - (if (from < 0) t0 else from)) / 1e6)
        if (cls != "warm") hooks.write(body, (done - t0) / 1e6, cls == "preload")
        true
      case Some((c, b)) =>
        fail(s"write: HTTP $c ${new String(b, UTF_8).take(200)}"); false
      case None => false
    }
  }

  /** One checked query; `record` = timed phase (samples and hooks). */
  def query(h: Http, q: Query, record: Boolean = true): Boolean = {
    attempted.incrementAndGet()
    val body = "{\"namespace\":\"" + q.ns + "\",\"query\":\"" +
      q.sql.replace("\\", "\\\\").replace("\"", "\\\"") + "\",\"format\":\"json\"}"
    val t0 = System.nanoTime()
    val r = cpuOf(send(h, "/api/v1/query", body.getBytes(UTF_8)))
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Some((200, reply)) =>
        val verdict = cpuOf(
          try q.check(reply)
          catch { case e: Exception => Some(s"unreadable reply: $e") })
        verdict match {
          case None =>
            if (record) {
              queryLat.add(q.cls, ms)
              replyBytes.addAndGet(reply.length)
              hooks.query(q, ms, reply)
            }
            true
          case Some(e) => fail(s"${q.cls}: wrong answer: $e"); false
        }
      case Some((c, b)) =>
        fail(s"${q.cls}: HTTP $c ${new String(b, UTF_8).take(200)}"); false
      case None => false
    }
  }

  /** An admin POST; returns its seconds. */
  def admin(port: Int, path: String, json: String): Double = {
    val h = new Http(port, 170000)
    try {
      attempted.incrementAndGet()
      val t0 = System.nanoTime()
      send(h, path, json.getBytes(UTF_8)) match {
        case Some((200, _)) =>
        case Some((c, b)) => fail(s"$path: HTTP $c ${new String(b, UTF_8).take(200)}")
        case None =>
      }
      (System.nanoTime() - t0) / 1e9
    } finally h.close()
  }
}

object Workloads {
  val Names = Seq("ingest", "scan_buffer", "tiered", "mixed")

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Ops `0 until n`, pulled by `clients` threads with one connection each. */
  def parallel(port: Int, n: Int, clients: Int)(op: (Http, Int) => Unit): Unit = {
    val next = new AtomicInteger
    val ts = (0 until clients).map(_ => new Thread(() => {
      val h = new Http(port)
      try {
        var i = next.getAndIncrement()
        while (i < n) { op(h, i); i = next.getAndIncrement() }
      } finally h.close()
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Closed loop: each client sends its next request when the last
    * completes, until `seconds` pass (or `stop` holds) and it has
    * finished a whole round of `round` requests, so every query class
    * runs equally often, and at least `minRounds` rounds; returns the
    * elapsed seconds.
    */
  def closedLoop(port: Int, clients: Int, seconds: Double, round: Int = 1,
      minRounds: Int = 0, stop: () => Boolean = () => false)(
      op: (Http, Int, Long) => Unit): Double = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val ts = (0 until clients).map(c => new Thread(() => {
      val h = new Http(port)
      try {
        var k = 0L
        while ((System.nanoTime() < end && !stop()) || k % round != 0 ||
            k < minRounds * round) {
          op(h, c, k); k += 1
        }
      } finally h.close()
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    secs(t0)
  }

  def bodies(ns: String, table: String, pts: Array[Pt], batch: Int,
      alert: Boolean = false): IndexedSeq[Array[Byte]] =
    pts.grouped(batch).map(g => Gen.body(ns, table, g.toSeq, alert)).toIndexedSeq

  def preload(run: Run, port: Int, bs: IndexedSeq[Array[Byte]]): Unit =
    parallel(port, bs.size, Main.cpus)((h, i) => run.write(h, bs(i), "preload"))

  /** p50 and tail of `xs` as `<prefix>_p50_ms` / `<prefix>_tail_ms`. */
  def putLatency(run: Run, prefix: String, xs: Seq[Double]): Unit =
    if (xs.isEmpty) run.fail(s"no $prefix samples")
    else {
      run.put(s"${prefix}_p50_ms", Stats.median(xs), "ms")
      Stats.tail(xs) match {
        case Some(t) =>
          run.put(s"${prefix}_tail_ms", t.value, "ms")
          run.note(s"${prefix}_tail",
            f"""{"value_ms":${t.value}%.3f,"pct":${t.pct}%.2f,"n":${t.n}}""")
        case None if run.needTails =>
          run.fail(s"$prefix: ${xs.size} samples, too few for a tail")
        case None =>
      }
    }

  /** The timed op of each workload: HTTP writes on ingest (less the
    * warm-up and set-up writes), HTTP queries elsewhere. Every workload prints the same
    * end-to-end metrics, `op_*` over its own op.
    */
  private def opClasses(run: Run): (Samples, Seq[String]) = {
    val lat = if (run.workload == "ingest") run.writeLat else run.queryLat
    (lat, lat.classes.filterNot(Set("warm", "preload")))
  }
  def opSamples(run: Run): Seq[Double] = {
    val (lat, cs) = opClasses(run)
    cs.flatMap(lat.of)
  }

  private def putOps(run: Run, elapsed: Double): Unit = {
    val xs = opSamples(run)
    putLatency(run, "op", xs)
    run.put("ops_per_s", xs.size / elapsed, "1/s")
    val (lat, cs) = opClasses(run)
    run.note("op_p50_ms_by_class", cs.map(c =>
      f""""$c":${Stats.median(lat.of(c))}%.3f""").mkString("{", ",", "}"))
  }

  /** Bytes on disk per stored row: the WAL plus the live tier files. */
  private def putStored(run: Run, root: File, rows: Long): Unit =
    run.put("stored_bytes_per_row", (Target.dirBytes(new File(root, "wal")) +
      Target.tierBytes(new File(root, "tier"))).toDouble / rows, "B/row")

  /** kill -9, restart on the same directories, and time until `check`
    * (a query over every stored row) first answers correctly. `record`
    * lets a traced run decompose the check query.
    */
  private def recover(run: Run, t: Target, check: Query, record: Boolean = false): Unit = {
    val r0 = System.nanoTime()
    t.crashRestart()
    val h = new Http(t.port, 170000)
    try run.query(h, check, record) finally h.close()
    run.put("recovery_s", secs(r0), "s")
  }

  /** Count and value sum of `ns.cpu` after the restart. */
  private def recountAll(ns: String, pts: Array[Pt]): Query =
    Query("recount", ns, "SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu",
      b => Answers.checkAgg(b, Answers.agg(pts, _ => true)).map("after restart: " + _))

  private def putServer(run: Run, t: Target, cpu0: Double, ops: Long): Unit = {
    run.put("server_cpu_ms_per_op", (t.cpuMs() - cpu0) / math.max(1L, ops), "ms")
    run.put("server_heap_live_mb", t.liveHeapMb(), "MiB")
  }

  /** One counter of the server's `/metrics` object. */
  private def serverMetric(port: Int, key: String): Long = {
    val h = new Http(port)
    try {
      val (_, b) = h.call("/metrics", null)
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(b)
        .get(key).asLong()
    } finally h.close()
  }
  private def cacheHits(port: Int): Long = serverMetric(port, "result_cache_hits")

  /** Warm Spark's planner and codegen: rounds of every class from a
    * client id the timed phase never uses, unrecorded.
    */
  private def warm(run: Run, port: Int, mix: Queries.Mix): Unit = {
    val h = new Http(port, 170000)
    try (0 until run.sizes.warmRounds * mix.classes.size).foreach(k =>
      run.query(h, mix.next(15, k), record = false))
    finally h.close()
  }

  /** Closed-loop queries of `mix`, then the query and server metrics. */
  private def queryPhase(run: Run, t: Target, mix: Queries.Mix,
      clients: Int, extraOps: () => Long = () => 0L): Unit = {
    val hits0 = cacheHits(t.port)
    val cpu0 = t.cpuMs()
    // three rounds at least, so a tail always has ten samples beyond it
    val el = closedLoop(t.port, clients, run.seconds, mix.classes.size,
        minRounds = 3)((h, c, k) =>
      run.query(h, mix.next(c, k)))
    val n = run.queryLat.count
    run.note("result_cache_hit_ratio",
      f"${(cacheHits(t.port) - hits0).toDouble / math.max(1, n)}%.4f")
    putOps(run, el)
    putServer(run, t, cpu0, n + extraOps())
  }

  def run(run: Run, host: Host, root: File): Target = run.workload match {
    case "ingest" => ingest(run, host, root)
    case "scan_buffer" => scanBuffer(run, host, root)
    case "tiered" => tiered(run, host, root)
    case "mixed" => mixed(run, host, root)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Two closed-loop writers, 90% 100-row bodies, until `ingestRows`
    * rows are acknowledged or `seconds` pass; then a check of the
    * buffered row count, kill -9, restart and an exactly-once check of
    * every acknowledged row.
    */
  def ingest(run: Run, host: Host, root: File): Target = {
    val sz = run.sizes
    val t0 = System.nanoTime()
    val t = host.start(root, tier = false)
    run.put("setup_s", secs(t0), "s")
    // JIT the JSON, WAL and buffer paths before timing, in a namespace
    // of its own so the checked table holds only timed rows
    val warmBodies = (0 until sz.ingestWarmBodies).map(k =>
      Gen.ingestPoints(run.seed ^ 0x5eed, 0, 1, k))
    parallel(t.port, warmBodies.size, 2)((h, i) =>
      run.write(h, Gen.body("warm", "cpu", warmBodies(i)), "warm"))
    val warmRows = warmBodies.map(_.size).sum
    val clients = 2
    val acked = new AtomicLong
    val ackedSum = new AtomicLong
    val cpu0 = t.cpuMs()
    val el = closedLoop(t.port, clients, run.seconds,
        stop = () => acked.get >= sz.ingestRows) { (h, c, k) =>
      val pts = Gen.ingestPoints(run.seed, c, clients, k)
      if (run.write(h, Gen.body("ingest", "cpu", pts),
          if (pts.size == 1) "single" else "batch")) {
        acked.addAndGet(pts.size)
        ackedSum.addAndGet(pts.map(_.value.toLong).sum)
      }
    }
    run.note("write_phase", f"""{"s":$el%.3f,"rows":${acked.get},"rows_per_s":${acked.get / el}%.1f}""")
    putOps(run, el)
    putServer(run, t, cpu0, opSamples(run).size)
    putStored(run, root, acked.get + warmRows)
    // before the crash, the buffered row count (what count(*) would
    // return, without its Spark cost), so a loss in WAL replay is told
    // apart from one in the write path
    run.attempted.incrementAndGet()
    val before = serverMetric(t.port, "buffered_rows")
    val want = acked.get + warmRows + run.hooks.extraRows
    if (before != want) run.fail(s"before kill -9 want $want buffered rows got $before")
    val recount = Query("recount", "ingest",
      "SELECT count(*) AS n, count(DISTINCT timestamp) AS d, " +
        "sum(CAST(value AS BIGINT)) AS s FROM cpu", b => {
        val r = Answers.parse(b).head
        val got = (r.get("n").asLong(), r.get("d").asLong(), r.get("s").asLong())
        val want = (acked.get, acked.get, ackedSum.get)
        if (got == want) None else Some(s"after restart want (n, distinct, sum)=$want got $got")
      })
    // recorded: the traced run decomposes this query over the whole buffer
    recover(run, t, recount, record = true)
    t
  }

  /** ~40k buffered rows over 7 days plus `alerts`; one closed-loop client. */
  def scanBuffer(run: Run, host: Host, root: File): Target = {
    val sz = run.sizes
    val cpu = Gen.table(run.seed, 11, sz.scanRows, Base, 7, rotate = false)
    val alerts = Gen.alerts(run.seed, Base)
    val t0 = System.nanoTime()
    val t = host.start(root, tier = false)
    preload(run, t.port, bodies("scan", "cpu", cpu, sz.preloadBatch) ++
      bodies("scan", "alerts", alerts, 100, alert = true))
    run.put("setup_s", secs(t0), "s")
    putStored(run, root, cpu.length + alerts.length)
    val mix = Queries.scanBuffer(run.seed, "scan", cpu, alerts, sz.wideRows)
    warm(run, t.port, mix)
    queryPhase(run, t, mix, 1)
    recover(run, t, recountAll("scan", cpu))
    t
  }

  /** Sealed, compacted, bloom-indexed days plus a RAM tail. */
  def tiered(run: Run, host: Host, root: File): Target = {
    val sz = run.sizes
    val sealedPts = Gen.table(run.seed, 21, sz.tierRows, Base, sz.tierDays, rotate = true)
    val lastDay = Base + (sz.tierDays - 1) * DayUs
    val tail = Gen.table(run.seed, 22, sz.tailRows, lastDay, 1, rotate = true)
    val t0 = System.nanoTime()
    val t = host.start(root, tier = true)
    preload(run, t.port, bodies("tier", "cpu", sealedPts, sz.preloadBatch))
    val steps = Seq(
      "checkpoint" -> run.admin(t.port, "/api/v1/admin/checkpoint", "{}"),
      "compact" -> run.admin(t.port, "/api/v1/admin/compact",
        """{"namespace":"tier","table":"cpu","cluster_by":["host"]}"""),
      "bloom_index" -> run.admin(t.port, "/api/v1/bloom",
        """{"namespace":"tier","table":"cpu","column":"host"}"""))
    preload(run, t.port, bodies("tier", "cpu", tail, sz.preloadBatch))
    run.put("setup_s", secs(t0), "s")
    steps.foreach { case (k, s) => run.note(s"tier.${k}_s", f"$s%.4f") }
    val all = sealedPts ++ tail
    putStored(run, root, all.length)
    val mix = Queries.tiered(run.seed, "tier", all, sz.tierDays, lastDay)
    warm(run, t.port, mix)
    queryPhase(run, t, mix, 1)
    recover(run, t, recountAll("tier", all))
    t
  }

  /** Preloaded `mixed.cpu`, `other.cpu` and `mixed.alerts`; one
    * open-loop writer at a fixed rate and two closed-loop readers.
    */
  def mixed(run: Run, host: Host, root: File): Target = {
    val sz = run.sizes
    val main = Gen.table(run.seed, 31, sz.mixedRows, Base, 7, rotate = false)
    val other = Gen.table(run.seed, 32, sz.mixedRows, Base, 7, rotate = false)
    val alerts = Gen.alerts(run.seed, Base)
    val t0 = System.nanoTime()
    val t = host.start(root, tier = false)
    preload(run, t.port, bodies("mixed", "cpu", main, sz.preloadBatch) ++
      bodies("other", "cpu", other, sz.preloadBatch) ++
      bodies("mixed", "alerts", alerts, 100, alert = true))
    run.put("setup_s", secs(t0), "s")
    val acked = new AtomicLong(main.length)
    val sent = new AtomicLong(main.length)
    val mix = Queries.mixed(run.seed, "mixed", "other", alerts, other,
      () => (acked.get, () => sent.get))
    warm(run, t.port, mix)
    val writtenRows = new AtomicLong
    val writes = new AtomicLong
    val writerNanos = new AtomicLong
    val preEnd = Base + 7 * DayUs
    val writer = new Thread(() => {
      val h = new Http(t.port)
      try {
        val start = System.nanoTime()
        val end = start + (run.seconds * 1e9).toLong
        val ol = new OpenLoop(start, (1e9 * 100 / sz.mixedWriteRowsPerSec).toLong)
        var k = 0L
        while (ol.due(k) < end) {
          ol.await(k)
          val sentAt = System.nanoTime()
          run.lag.add("writer", math.max(0L, sentAt - ol.due(k)) / 1e6)
          val toMain = k % 2 == 0
          val r = rng(run.seed, 9000000L + k)
          val pts = (0 until 100).map(j => point(r, preEnd + (k * 100 + j) * 1000L, r.nextInt(Hosts)))
          if (toMain) sent.addAndGet(100)
          if (run.write(h, Gen.body(if (toMain) "mixed" else "other", "cpu", pts),
              "batch", from = ol.due(k))) {
            writes.incrementAndGet()
            writtenRows.addAndGet(100)
            if (toMain) acked.addAndGet(100)
          }
          k += 1
        }
        writerNanos.set(System.nanoTime() - start)
      } finally h.close()
    })
    writer.start()
    queryPhase(run, t, mix, 2, () => { writer.join(); writes.get })
    writer.join()
    val w = run.writeLat.of("batch")
    run.note("writes", f"""{"rows_per_s":${writtenRows.get / (writerNanos.get / 1e9)}%.1f,""" +
      f""""p50_ms":${Stats.median(w)}%.3f""" +
      Stats.tail(w).fold("")(x => f""","tail_ms":${x.value}%.3f""") + "}")
    Stats.tail(run.lag.of("writer")).foreach(l =>
      run.note("generator_lag_tail_ms", f"${l.value}%.3f"))
    putStored(run, root, main.length + other.length + alerts.length + writtenRows.get)
    val n = acked.get
    recover(run, t, Query("recount", "mixed", "SELECT count(*) AS n FROM cpu", b => {
      val got = Answers.parse(b).headOption.map(_.get("n").asLong())
      if (got.contains(n)) None else Some(s"after restart want count $n got $got")
    }))
    t
  }
}
