package enginebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The system under test as the load generator sees it: a port, plus
  * the process-level readings the end-to-end metrics need.
  */
trait Target {
  def port: Int
  /** CPU time the server has used so far, in ms. */
  def cpuMs(): Double
  /** Live heap after full GCs, in MiB. */
  def liveHeapMb(): Double
  /** Crash the server (kill -9 for a child JVM) and start it again on
    * the same WAL and tier directories.
    */
  def crashRestart(): Unit
  def stop(): Unit
}

object Target {
  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** Poll /health until the server answers 200 or `alive` turns false. */
  def awaitHealthy(port: Int, alive: () => Boolean, what: => String): Unit = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    var up = false
    while (!up) {
      if (!alive()) throw new IllegalStateException(s"server exited during start: $what")
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"server did not answer /health: $what")
      val h = new Http(port, 2000)
      try up = h.call("/health", null)._1 == 200
      catch { case _: java.io.IOException => Thread.sleep(20) }
      finally h.close()
    }
  }

  private def files(d: File): Seq[java.nio.file.Path] =
    if (!d.exists()) Nil
    else {
      val s = Files.walk(d.toPath)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      finally s.close()
    }

  def dirBytes(d: File): Long = files(d).map(p => Files.size(p)).sum

  /** Bytes of a tier root that still hold data: every file except those
    * compaction parked on a `_manifest/trash-*.list` (kept for a grace
    * period before deletion) and the lists themselves.
    */
  def tierBytes(d: File): Long = {
    val all = files(d)
    val lists = all.filter(p => p.getFileName.toString.matches("trash-.*\\.list"))
    val trashed = lists.flatMap { l =>
      val tableDir = l.getParent.getParent
      Files.readAllLines(l).asScala.filter(_.nonEmpty).map(r => tableDir.resolve(r).normalize)
    }.toSet ++ lists.map(_.normalize)
    all.filterNot(p => trashed(p.normalize)).map(p => Files.size(p)).sum
  }
}

/** `graft.http.LynxServerMain` in a child JVM on this JVM's classpath,
  * configured only through its `LYNX_*` environment. `kill9` is a real
  * SIGKILL; `start` again restarts on the same WAL and tier dirs.
  */
final class ChildServer(root: File, heap: String, cpus: Int,
    env: Map[String, String]) extends Target {
  val port: Int = Target.freePort()
  private val walDir = new File(root, "wal")
  private val log = new File(root, "server.log")
  private var proc: Process = _
  private var starts = 0

  private def javaBin: String = {
    val cmd = ProcessHandle.current().info().command()
    if (cmd.isPresent) cmd.get else new File(System.getProperty("java.home"), "bin/java").getPath
  }

  def start(): Unit = {
    starts += 1
    val tmp = new File(root, s"server-tmp-$starts")
    tmp.mkdirs()
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    // a fixed heap (-Xms = -Xmx): GC frequency must not depend on how
    // far the heap happened to grow, or the tails measure resizing
    val cmd = Seq(javaBin, s"-Xms$heap", s"-Xmx$heap",
      s"-Djava.io.tmpdir=${tmp.getPath}") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.http.LynxServerMain")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().putAll((Map(
      "LYNX_HTTP_ADDR" -> s"127.0.0.1:$port",
      "LYNX_WAL_DIR" -> walDir.getPath,
      "SPARK_MASTER" -> s"local[$cpus]",
      "SPARK_LOCAL_DIRS" -> tmp.getPath) ++ env).asJava)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.appendTo(log))
    proc = pb.start()
    Target.awaitHealthy(port, () => proc.isAlive, logTail)
  }

  def pid: Long = proc.pid()

  private def logTail: String = {
    val lines = if (log.exists()) Files.readAllLines(log.toPath).asScala else Nil
    lines.takeRight(20).mkString("\n")
  }

  private lazy val clkTck: Double =
    try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val v = new String(p.getInputStream.readAllBytes()).trim.toDouble
      p.waitFor(); v
    } catch { case _: Exception => 100.0 }

  def cpuMs(): Double = {
    val stat = new String(Files.readAllBytes(new File(s"/proc/$pid/stat").toPath))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) * 1000.0 / clkTck
  }

  private def jcmd(args: String*): String = {
    val bin = new File(System.getProperty("java.home"), "bin/jcmd")
    val p = new ProcessBuilder((Seq(if (bin.exists()) bin.getPath else "jcmd",
      pid.toString) ++ args).asJava).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    p.waitFor()
    out
  }

  /** Read after three full GCs half a second apart: what Spark's
    * ContextCleaner and finalizers release only becomes garbage after
    * a GC has queued it, and the first reading varied by ~60 MiB
    * between runs where the third varied by ~5.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { i => if (i > 1) Thread.sleep(500); jcmd("GC.run") }
    val used = """used (\d+)K""".r.findFirstMatchIn(jcmd("GC.heap_info"))
      .getOrElse(throw new IllegalStateException("jcmd GC.heap_info gave no heap size"))
    used.group(1).toDouble / 1024
  }

  /** SIGKILL, as a crash: no shutdown hooks, no flush. */
  def kill9(): Unit = {
    proc.destroyForcibly()
    proc.waitFor()
  }

  def crashRestart(): Unit = { kill9(); start() }

  def stop(): Unit =
    if (proc != null && proc.isAlive) {
      proc.destroy()
      if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) proc.destroyForcibly()
      proc.waitFor()
    }
}
