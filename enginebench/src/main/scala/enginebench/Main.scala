package enginebench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

/** Engine-plane benchmark entry point (launched by `run.py`, which
  * builds the classpath and owns the temp root):
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --root DIR
  *   Main --smoke --root DIR
  *
  * Prints an envelope line, then as the LAST line one JSON object
  * {correct, attempted, failed, metrics}: the end-to-end metrics of
  * the workload with `--trace 0`, its per-layer metrics with `--trace 1`.
  */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The server JVM's fixed heap (-Xms = -Xmx); it holds ingest's
    * buffer plus the copy a `count(*)` over it makes.
    */
  val ServerHeap = "3g"

  /** Length of each workload's query and write phases in the smoke check. */
  val SmokeSeconds = 1.0

  val FlushPolicy = "per-record flush, no fsync (LYNX_WAL_GROUP_COMMIT_MS and LYNX_WAL_FSYNC unset)"

  def jsonStr(s: String): String = graft.engine.Sinks.jsonString(s)

  /** The end-to-end metrics every workload prints (`--trace 0`); `op`
    * is the workload's timed op (`Workloads.opSamples`).
    */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "op_tail_ms",
    "ops_per_s", "recovery_s", "stored_bytes_per_row", "server_heap_live_mb",
    "server_cpu_ms_per_op")

  /** The per-layer metrics every traced run prints: writes come from
    * the timed or preload writes, queries from the timed queries or
    * (ingest) the recount after the restart. Numbers only some
    * workloads have (tier, bloom, per class) go to the envelope.
    */
  val PerLayer: Seq[String] = Seq(
    "http.write_parse_ms", "http.write_self_ms", "http.query_self_ms",
    "http.response_bytes_per_query",
    "engine.gate_ms", "engine.prune_walk_ms", "engine.write_ms",
    "engine.query_ms", "engine.lock_wait_p50_ms", "engine.lock_wait_tail_ms",
    "engine.query_glue_self_ms",
    "buffer.insert_ms", "buffer.snapshot_ms", "buffer.frame_ms", "buffer.rows",
    "buffer.heap_bytes_per_row",
    "wal.append_ms", "wal.bytes_per_row", "wal.segments", "wal.replay_ms",
    "spark.analyze_ms", "spark.plan_ms", "spark.execute_ms",
    "spark.jobs_per_query", "spark.tasks_per_query",
    "spark.shuffle_bytes_per_query", "spark.executor_cpu_ms_per_query",
    "sinks.render_ms",
    "jvm.gc_ms_per_s", "jvm.cpu_util",
    "bench.generator_lag_tail_ms", "bench.client_cpu_util",
    "trace.overhead_ms")

  private def loadavg: String =
    try jsonStr(new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).trim)
    catch { case _: Exception => "null" }

  /** Child-JVM servers; remembers every one so all are stopped. */
  final class ChildHost(heap: String) extends Host {
    val started = mutable.ArrayBuffer.empty[ChildServer]
    def start(root: File, tier: Boolean): Target = {
      val env = if (tier) Map("LYNX_TIER_DIR" -> new File(root, "tier").getPath)
        else Map.empty[String, String]
      val s = new ChildServer(root, heap, cpus, env)
      started += s
      s.start()
      s
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val smoke = args.contains("--smoke")
    if (smoke) { runSmoke(new File(opts("root"))); return }
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = new File(opt("root"))
    val run = new Run(workload, seed, seconds, Sizes.Full)
    val load0 = loadavg
    val host = new ChildHost(ServerHeap)
    var aborted = false
    try {
      if (trace) Traced.run(run, root)
      else Workloads.run(run, host, root)
    } catch {
      case e: Throwable =>
        aborted = true
        run.fail(s"aborted: $e")
        e.printStackTrace()
    } finally host.started.foreach(_.stop())

    val env = mutable.LinkedHashMap[String, String](
      "workload" -> jsonStr(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> trace.toString,
      "nproc" -> cpus.toString,
      "server_heap" -> jsonStr(if (trace) "in-process" else ServerHeap),
      "generator_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> jsonStr(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "git_commit" -> jsonStr(sys.env.getOrElse("ENGINEBENCH_GIT_COMMIT", "unknown")),
      "source_digest" -> jsonStr(sys.env.getOrElse("ENGINEBENCH_SOURCE_DIGEST", "unknown")),
      "flush_policy" -> jsonStr(FlushPolicy),
      "sizes" -> jsonStr(run.sizes.toString),
      "loadavg_start" -> load0, "loadavg_end" -> loadavg)
    env ++= run.info
    env("errors") = run.errors.map(jsonStr).mkString("[", ",", "]")
    println(env.map { case (k, v) => s"${jsonStr(k)}:$v" }
      .mkString("{\"envelope\":{", ",", "}}"))

    println(result(run, aborted))
    System.out.flush()
    System.exit(if (aborted) 1 else 0)
  }

  /** The result object: {correct, attempted, failed, metrics}. */
  def result(run: Run, aborted: Boolean): String = {
    val ms = run.metrics.filter { case (k, (v, _)) =>
      val ok = !v.isNaN && !v.isInfinite
      if (!ok) run.fail(s"metric $k is not a number")
      ok
    }
    val metrics = ms.map { case (k, (v, u)) =>
      s"${jsonStr(k)}:{\"value\":${java.lang.Double.toString(v)},\"unit\":${jsonStr(u)}}"
    }.mkString("{", ",", "}")
    val failed = run.failed.get
    s"""{"correct":${failed == 0 && !aborted},"attempted":${
      math.max(1L, run.attempted.get)},"failed":$failed,"metrics":$metrics}"""
  }

  /** Smoke check: every workload at tiny size, traced, in this one JVM
    * (the engine hosted in-process, so the kill -9 of `ingest` becomes
    * an in-process engine rebuild over the same WAL). The traced run's
    * untraced phase must print exactly the workload's end-to-end
    * metrics, its traced phase exactly the per-layer ones, and every
    * answer must be correct.
    */
  def runSmoke(root: File): Unit = {
    var ok = true
    for (w <- Workloads.Names) {
      val run = new Run(w, 1L, SmokeSeconds, Sizes.Smoke)
      var phaseA: Option[Run] = None
      var aborted = false
      try phaseA = Some(Traced.run(run, new File(root, w)))
      catch {
        case e: Throwable => aborted = true; run.fail(s"aborted: $e"); e.printStackTrace()
      }
      def expect(r: Run, want: Seq[String]): Unit = {
        val got = r.metrics.keySet.toSet
        val missing = want.toSet -- got
        val extra = got -- want
        if (missing.nonEmpty) run.fail(s"missing metrics: ${missing.toSeq.sorted.mkString(", ")}")
        if (extra.nonEmpty) run.fail(s"unexpected metrics: ${extra.toSeq.sorted.mkString(", ")}")
      }
      expect(run, PerLayer)
      phaseA.foreach(a => expect(a, EndToEnd))
      run.errors.foreach(e => System.err.println(s"[smoke $w] $e"))
      ok &&= run.failed.get == 0 && !aborted
      phaseA.foreach(a => println(s"""{"smoke":${jsonStr(w)},"trace":0,"result":${result(a, aborted)}}"""))
      println(s"""{"smoke":${jsonStr(w)},"trace":1,"result":${result(run, aborted)}}""")
    }
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }
}
