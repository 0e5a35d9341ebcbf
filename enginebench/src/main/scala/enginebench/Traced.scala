package enginebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.buffer.MemBuffer
import graft.engine.{LynxEngine, Sinks}
import graft.http.{Json, LynxServer}
import graft.tier.ParquetTier
import graft.wal.Wal

/** A span: one timed call into a layer. Spans of one op share `req`;
  * `parent` is the span that caused it (0 = none).
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

object Spans {
  /** Self time: the span's duration minus the part of it that its
    * children cover (overlapping children counted once), in ms.
    */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    (s.end - s.start - covered) / 1e6
  }
}

/** In-memory span recorder, written out once at the end. */
final class Recorder {
  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  def nextReq(): Long = ids.incrementAndGet()
  def span[T](name: String, req: Long, parent: Long = 0L)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val s = Span(id, parent, req, name, t0, System.nanoTime())
      synchronized(spans += s)
    }
  }
  def all: Seq[Span] = synchronized(spans.toSeq)
  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val lines = all.map(s => s"""{"id":${s.id},"parent":${s.parent},"req":${s.req
      },"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(f.toPath, lines.asJava, UTF_8)
  }
}

/** Engine hosted in this JVM with LynxServerMain's constructor
  * arguments and Spark settings, served by a real `LynxServer`.
  */
final class InProc(val spark: SparkSession, root: File, tierOn: Boolean)
    extends Target {
  val walDir = new File(root, "wal")
  val tier: Option[ParquetTier] =
    if (tierOn) Some(new ParquetTier(new File(root, "tier"))) else None
  var engine: LynxEngine = _
  private var server: LynxServer = _
  /** Called once, before the end-of-phase GC, by the traced run. */
  var onEnd: () => Unit = () => ()

  def open(): Unit = {
    engine = new LynxEngine(spark, walDir, 50L * 1024 * 1024, tier = tier,
      maxResultRows = Int.MaxValue, walGroupCommitMillis = 0L,
      walFsync = false, autoCompactFileThreshold = 0, autoBloomColumns = Nil,
      walForceTailTruncate = false, annPlacement = None)
    server = new LynxServer(engine, "127.0.0.1", 0)
    server.start()
  }
  def port: Int = server.boundPort

  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def liveHeapMb(): Double = {
    onEnd()
    InProc.liveHeapBytes() / 1048576.0
  }

  /** In-process stand-in for kill -9: the engine is abandoned without
    * closing its WAL and a new one replays the same directories.
    */
  def crashRestart(): Unit = { server.stop(); open() }
  def stop(): Unit = if (server != null) server.stop()
  /** Stop and drop the engine, so its buffer becomes garbage. */
  def release(): Unit = { stop(); server = null; engine = null }
}

object InProc {
  def liveHeapBytes(): Long = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** The session LynxServerMain builds. */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Main.cpus}]")
      .appName("graft-lynx")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  final class InProcHost extends Host {
    val started = mutable.ArrayBuffer.empty[InProc]
    def start(root: File, tier: Boolean): Target = {
      val t = new InProc(spark, root, tier)
      started += t
      t.open()
      t
    }
  }
}

/** Spark work of the decomposed queries, per job group. */
final class JobCounter extends SparkListener {
  val Group = "enginebench-decomposed"
  private val stages = mutable.Set.empty[Int]
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val cpuNanos = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == Group)) {
      jobs.incrementAndGet()
      synchronized(stages ++= e.stageIds)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (synchronized(stages(e.stageId)) && e.taskMetrics != null) {
      tasks.incrementAndGet()
      shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      cpuNanos.addAndGet(e.taskMetrics.executorCpuTime)
    }
}

/** The traced run: the same workload and seed twice against the engine
  * hosted in this JVM, first untraced (phase A, the baseline), then with
  * every acknowledged op repeated through direct calls into each layer's
  * public functions, each call inside a span (phase B). Per-layer
  * metrics come from phase B, the tracing overhead is B minus A.
  */
object Traced {
  private val DayFromPath = """__lynx_day=(\d{4}-\d{2}-\d{2})/""".r

  final class Tracer(run: Run, t: InProc, scratch: File) extends Hooks {
    val rec = new Recorder
    val jobs = new JobCounter
    val probeWait = new Samples
    private val scratchWal = new Wal(new File(scratch, "scratch-wal"), 0L, 50L * 1024 * 1024)
    private var scratchBuf = new MemBuffer
    private val scratchOps = new AtomicLong
    val keptDay = new Samples
    val keptBloom = new Samples
    @volatile private var begun = false
    @volatile var endNs = 0L
    var beginNs = 0L
    private var gc0, cpu0, gc1, cpu1 = 0L
    @volatile private var probing = true
    private var probe: Thread = _

    private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

    /** The timed phase starts at the first hooked op that is not a
      * preload write.
      */
    private def begin(ns: String): Unit = if (!begun) synchronized {
      if (!begun) {
        beginNs = System.nanoTime(); gc0 = gcMs; cpu0 = cpuNs
        // open-loop lock probe: engine.isFenced takes writeLock
        probe = new Thread(() => {
          val ol = new OpenLoop(System.nanoTime(), 5000000L)
          var k = 0L
          while (probing) {
            ol.await(k)
            val s = System.nanoTime()
            run.lag.add("probe", math.max(0L, s - ol.due(k)) / 1e6)
            t.engine.isFenced(ns)
            probeWait.add("wait", (System.nanoTime() - s) / 1e6)
            k += 1
          }
        })
        probe.setDaemon(true)
        probe.start()
        begun = true
      }
    }

    def end(): Unit = if (begun && endNs == 0L) {
      endNs = System.nanoTime(); gc1 = gcMs; cpu1 = cpuNs
      probing = false
      probe.join()
    }
    def gcMsPerS: Double = (gc1 - gc0) / ((endNs - beginNs) / 1e9)
    def cpuUtil: Double = (cpu1 - cpu0).toDouble / ((endNs - beginNs) * Main.cpus)

    private val httpSelf = new Samples
    def httpSelfMs(name: String): Seq[Double] = httpSelf.of(name)

    /** Time `body` inside a span; returns its result and its ms. */
    private def timed[T](name: String, req: Long)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = rec.span(name, req)(_ => body)
      (r, (System.nanoTime() - t0) / 1e6)
    }

    private val directRows = new AtomicLong
    override def extraRows: Long = directRows.get
    override def write(body: Array[Byte], httpMs: Double, preload: Boolean): Unit = {
      val req = rec.nextReq()
      val ws = rec.span("http.write_parse", req)(_ => Json.parseWriteBatch(body))
      if (!preload) begin(ws.head.namespace)
      // a namespace of its own, so the checked tables see each row once
      val direct = ws.map(w => w.copy(namespace = w.namespace + "_direct"))
      directRows.addAndGet(direct.size)
      val (_, engineMs) = timed("engine.write", req) {
        direct match {
          case Seq(w) => t.engine.write(w)
          case _ => t.engine.writeBatch(direct)
        }
      }
      httpSelf.add("http.write_self", httpMs - engineMs)
      rec.span("buffer.insert", req)(_ => scratchBuf.insertAll(ws))
      rec.span("wal.append", req)(_ => scratchWal.writeAll(ws))
      if (scratchOps.incrementAndGet() % 2000 == 0) scratchBuf = new MemBuffer
    }

    override def query(q: Query, httpMs: Double, reply: Array[Byte]): Unit = {
      val req = rec.nextReq()
      begin(q.ns)
      // a trailing space keeps the direct call off the HTTP call's cache
      // entry; the one repeated dashboard text stays a cache hit
      val sql = if (q.cls == "q_dashboard") q.sql else q.sql + " "
      val (result, engineMs) = timed("engine.query", req)(t.engine.query(q.ns, sql))
      httpSelf.add("http.query_self", httpMs - engineMs)
      result.foreach(r => rec.span("sinks.render", req)(_ => Sinks.toJson(r)))
      decompose(q, req)
    }

    /** The query path step by step, as LynxEngine.query runs it. */
    private def decompose(q: Query, req: Long): Unit =
      rec.span("engine.decomposed", req) { root =>
        val spark = t.spark
        val plan = rec.span("engine.gate", req, root) { _ =>
          val p = LynxEngine.parse(spark, q.sql)
          LynxEngine.forbiddenCalls(p)
          LynxEngine.cacheUnsafe(p)
          p
        }
        val tables = rec.span("engine.gate", req, root)(_ => LynxEngine.referencedTables(plan))
        val days: Map[String, (String, String)] =
          rec.span("engine.prune_walk", req, root) { _ =>
            val d =
              if (tables.size == 1)
                LynxEngine.dayBounds(plan).map(b => tables.head.toLowerCase -> b).toMap
              else LynxEngine.dayBoundsPerTable(plan)
            LynxEngine.strRangesPerTable(plan)
            LynxEngine.numRangesPerTable(plan)
            d
          }
        val eqs = rec.span("engine.prune_walk", req, root)(_ => LynxEngine.eqLiteralsPerTable(plan))
        val snap = rec.span("buffer.snapshot", req, root)(_ => t.engine.buffer.tables(q.ns))
        val session = spark.newSession()
        session.conf.set("spark.sql.runSQLOnFiles", "false")
        graft.functions.GraftFunctions.register(session)
        for (tb <- tables) {
          val mem = snap.flatMap(_.get(tb)).map(parts =>
            rec.span("buffer.frame", req, root)(_ => LynxEngine.toDataFrame(session, parts)))
          val sealedDf = t.tier.filter(_.tables(q.ns).contains(tb)).map { tier =>
            val s = rec.span("tier.snapshot", req, root)(_ => tier.lease(tier.snapshotPinned(q.ns, tb)))
            try {
              val files = t.engine.valueBlooms match {
                case Some(bs) =>
                  val kept = rec.span("bloom.skip", req, root)(_ =>
                    eqs.getOrElse(tb.toLowerCase, Nil).foldLeft(s.files) {
                      case (fs, (c, vs)) => bs.skipFilesAny(q.ns, tb, c, vs, fs)
                    })
                  keptBloom.add(q.cls, kept.size.toDouble / math.max(1, s.files.size))
                  if (kept.nonEmpty) kept else s.files.take(1)
                case None => s.files
              }
              val bounds = days.get(tb.toLowerCase)
              val inDays = bounds.fold(files.size)(b => files.count(f =>
                DayFromPath.findFirstMatchIn(f).forall { m =>
                  val d = m.group(1); d >= b._1 && d <= b._2
                }))
              keptDay.add(q.cls, inDays.toDouble / math.max(1, s.files.size))
              rec.span("tier.read", req, root)(_ =>
                tier.readFiles(session, q.ns, tb, files, bounds))
            } finally rec.span("tier.snapshot", req, root)(_ => tier.release(s))
          }
          val df = (mem, sealedDf) match {
            case (Some(m), Some(sd)) => m.unionByName(sd, allowMissingColumns = true)
            case (Some(m), None) => m
            case (None, Some(sd)) => sd
            case (None, None) => throw new IllegalStateException(s"table $tb not found")
          }
          val ordered = Seq("timestamp", "value") ++
            df.columns.filterNot(Set("timestamp", "value")).sorted
          df.select(ordered.map(org.apache.spark.sql.functions.col): _*)
            .createOrReplaceTempView(tb)
        }
        val sc = spark.sparkContext
        sc.setJobGroup(jobs.Group, "decomposed benchmark query")
        try {
          val df = rec.span("spark.analyze", req, root) { _ =>
            val d = session.sql(q.sql); d.queryExecution.analyzed; d
          }
          rec.span("spark.plan", req, root)(_ => df.queryExecution.executedPlan)
          rec.span("spark.execute", req, root)(_ => df.collect())
        } finally sc.clearJobGroup()
        ()
      }
  }

  /** Run one workload traced; fills `run` with the per-layer metrics
    * and returns the untraced phase A, which carries the end-to-end ones.
    */
  def run(run: Run, root: File): Run = {
    val host = new InProc.InProcHost
    try {
      // phase A: untraced baseline in this JVM
      val a = new Run(run.workload, run.seed, run.seconds / 2, run.sizes)
      a.needTails = false
      Workloads.run(a, host, new File(root, "a"))
      host.started.foreach(_.release())
      val heap0 = InProc.liveHeapBytes()
      // phase B: the same ops, each followed by its traced layer calls
      val b = new Run(run.workload, run.seed, run.seconds / 2, run.sizes)
      b.needTails = false
      val rootB = new File(root, "b")
      rootB.mkdirs()
      var tracer: Tracer = null
      val traced = new Host {
        def start(r: File, tier: Boolean): Target = {
          val t = host.start(r, tier).asInstanceOf[InProc]
          tracer = new Tracer(b, t, rootB)
          t.spark.sparkContext.addSparkListener(tracer.jobs)
          t.onEnd = () => tracer.end()
          b.hooks = tracer
          t
        }
      }
      val tb = Workloads.run(b, traced, rootB).asInstanceOf[InProc]
      tracer.end()
      Thread.sleep(500) // let the listener bus drain
      tb.spark.sparkContext.removeSparkListener(tracer.jobs)
      Seq(a, b).foreach { r =>
        run.attempted.addAndGet(r.attempted.get)
        r.errors.foreach(run.fail)
      }
      report(run, a, b, tracer, tb, heap0, root)
      a
    } finally host.started.foreach(_.stop())
  }

  private def report(run: Run, a: Run, b: Run, tr: Tracer, t: InProc,
      heap0: Long, root: File): Unit = {
    def med(xs: Seq[Double]): Option[Double] =
      if (xs.isEmpty) None else Some(Stats.median(xs))
    def put(name: String, v: Option[Double], unit: String): Unit =
      v.foreach(run.put(name, _, unit))
    def sumPerOp(name: String): Option[Double] = {
      val per = tr.rec.all.filter(_.name == name).groupBy(_.req).values.map(_.map(_.ms).sum).toSeq
      med(per)
    }
    /** A number only some workloads have: in the envelope, not a metric. */
    def note(name: String, v: Option[Double]): Unit =
      v.foreach(x => run.note(name, java.lang.Double.toString(x)))
    val queries = b.queryLat.count
    val writes = b.writeLat.count - b.writeLat.of("warm").size
    // http
    put("http.write_parse_ms", med(tr.rec.ms("http.write_parse")), "ms")
    put("http.write_self_ms", med(tr.httpSelfMs("http.write_self")), "ms")
    put("http.query_self_ms", med(tr.httpSelfMs("http.query_self")), "ms")
    if (queries > 0) run.put("http.response_bytes_per_query", b.replyBytes.get.toDouble / queries, "B")
    // engine
    put("engine.gate_ms", sumPerOp("engine.gate"), "ms")
    put("engine.prune_walk_ms", sumPerOp("engine.prune_walk"), "ms")
    put("engine.write_ms", med(tr.rec.ms("engine.write")), "ms")
    put("engine.query_ms", med(tr.rec.ms("engine.query")), "ms")
    val waits = tr.probeWait.of("wait")
    put("engine.lock_wait_p50_ms", med(waits), "ms")
    Stats.tail(waits).foreach(x => run.put("engine.lock_wait_tail_ms", x.value, "ms"))
    a.info.get("result_cache_hit_ratio").foreach(v =>
      run.note("engine.result_cache_hit_ratio", v))
    val decomposed = tr.rec.all.filter(_.name == "engine.decomposed")
    val byParent = tr.rec.all.groupBy(_.parent)
    put("engine.query_glue_self_ms",
      med(decomposed.map(s => Spans.selfMs(s, byParent.getOrElse(s.id, Nil)))), "ms")
    // buffer
    put("buffer.insert_ms", med(tr.rec.ms("buffer.insert")), "ms")
    put("buffer.snapshot_ms", med(tr.rec.ms("buffer.snapshot")), "ms")
    put("buffer.frame_ms", sumPerOp("buffer.frame"), "ms")
    val rows = t.engine.buffer.rowCounts.values.map(_.toLong).sum
    run.put("buffer.rows", rows.toDouble, "count")
    val live = InProc.liveHeapBytes()
    val walDir = t.walDir
    t.release()
    val dropped = InProc.liveHeapBytes()
    if (rows > 0) run.put("buffer.heap_bytes_per_row", (live - dropped).toDouble / rows, "B/row")
    run.note("heap_between_phases_mb", f"${heap0 / 1048576.0}%.1f")
    // wal
    put("wal.append_ms", med(tr.rec.ms("wal.append")), "ms")
    val segs = Option(walDir.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".wal"))
    run.put("wal.segments", segs.length.toDouble, "count")
    if (rows > 0) run.put("wal.bytes_per_row", segs.map(_.length).sum.toDouble / rows, "B/row")
    val r0 = System.nanoTime()
    Wal.replay(walDir, new MemBuffer)
    run.put("wal.replay_ms", (System.nanoTime() - r0) / 1e6, "ms")
    // tier and bloom: only tiered has them, so they go to the envelope
    t.tier.foreach { tier =>
      val files = tier.tables("tier").toSeq.map(tier.fileCount("tier", _)).sum
      note("tier.files", Some(files.toDouble))
      // less the sealed copy of the direct writes
      note("tier.bytes_per_row", Some((Target.tierBytes(new File(root, "b/tier")) -
        Target.tierBytes(new File(root, "b/tier/tier_direct"))).toDouble / run.sizes.tierRows))
      Seq("checkpoint", "compact", "bloom_index").foreach(k =>
        b.info.get(s"tier.${k}_s").foreach(v => run.note(s"tier.${k}_s", v)))
      note("tier.snapshot_ms", sumPerOp("tier.snapshot"))
      note("tier.read_ms", sumPerOp("tier.read"))
      note("bloom.skip_ms", sumPerOp("bloom.skip"))
      note("bloom.files_kept_ratio", med(tr.keptBloom.of("q_host_eq")))
      note("prune.day_files_kept_ratio", med(tr.keptDay.of("q_day_range")))
    }
    // spark
    put("spark.analyze_ms", med(tr.rec.ms("spark.analyze")), "ms")
    put("spark.plan_ms", med(tr.rec.ms("spark.plan")), "ms")
    put("spark.execute_ms", med(tr.rec.ms("spark.execute")), "ms")
    val nd = decomposed.size
    if (nd > 0) {
      run.put("spark.jobs_per_query", tr.jobs.jobs.get.toDouble / nd, "count")
      run.put("spark.tasks_per_query", tr.jobs.tasks.get.toDouble / nd, "count")
      run.put("spark.shuffle_bytes_per_query", tr.jobs.shuffleBytes.get.toDouble / nd, "B")
      run.put("spark.executor_cpu_ms_per_query", tr.jobs.cpuNanos.get / 1e6 / nd, "ms")
    }
    put("sinks.render_ms", med(tr.rec.ms("sinks.render")), "ms")
    // jvm and generator validity
    run.put("jvm.gc_ms_per_s", tr.gcMsPerS, "ms/s")
    run.put("jvm.cpu_util", tr.cpuUtil, "ratio")
    Stats.tail(b.lag.all).foreach(l => run.put("bench.generator_lag_tail_ms", l.value, "ms"))
    run.put("bench.client_cpu_util", a.clientCpuNanos.get.toDouble /
      (a.seconds * 1e9 * Main.cpus), "ratio")
    // per-class latency of the untraced phase
    a.queryLat.classes.foreach(c => note(s"query.$c.p50_ms", med(a.queryLat.of(c))))
    Seq("batch", "single").foreach(c => note(s"write.$c.p50_ms", med(a.writeLat.of(c))))
    // tracing overhead: traced minus untraced median of the timed op
    for (x <- med(Workloads.opSamples(b)); y <- med(Workloads.opSamples(a)))
      run.put("trace.overhead_ms", x - y, "ms")
    run.note("traced_ops", s"""{"writes":$writes,"queries":$queries}""")
    sys.env.get("ENGINEBENCH_SPANS").foreach { out =>
      tr.rec.write(new File(out))
      run.note("spans_file", Main.jsonStr(out))
    }
  }
}
