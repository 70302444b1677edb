package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A child JVM observed from outside: every stdout line is stamped on
  * arrival, stderr goes to a log file, and a poller samples the child's
  * peak resident set (`VmHWM`) and its CPU time from /proc.
  */
object Proc {

  final case class Line(atNs: Long, text: String)

  final case class Outcome(startNs: Long, endNs: Long, exitCode: Int,
      lines: Seq[Line], peakRssKb: Long, cpuSec: Double) {
    def wallSec: Double = (endNs - startNs) / 1e9
  }

  /** `java` command for a Spark program: master and driver memory are the
    * only Spark-side choices; temp and shuffle files stay under `tmp`. The
    * JDK module flags Spark needs come from perfbench/jvm.args. */
  def javaCmd(jvmArgs: Path, classpath: String, tmp: Path,
      gcLog: Path, heap: String, cores: Int, mainClass: String,
      args: Seq[String]): Seq[String] =
    Seq("java", s"@$jvmArgs", s"-Xmx$heap", s"-Djava.io.tmpdir=$tmp",
      s"-Xlog:gc:file=$gcLog", s"-Dspark.master=local[$cores]", "-cp",
      classpath, mainClass) ++ args

  private val GcPause = """(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)""".r

  /** Largest heap occupancy right after a collection, in MB, from a
    * `-Xlog:gc` file: the most live data the program held at once. */
  def peakHeapAfterGcMb(gcLog: Path): Option[Double] =
    if (!Files.exists(gcLog)) None
    else {
      def mb(v: String, unit: String): Double = unit match {
        case "K" => v.toDouble / 1024
        case "M" => v.toDouble
        case _ => v.toDouble * 1024
      }
      Files.readAllLines(gcLog).asScala
        .flatMap(l => GcPause.findAllMatchIn(l).map(m => mb(m.group(3), m.group(4))))
        .maxOption
    }

  private val ClockTicks = 100.0 // USER_HZ on Linux

  private def status(pid: Long): Option[(Long, Double)] =
    try {
      val hwm = Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      val stat = new String(Files.readAllBytes(Paths.get(s"/proc/$pid/stat")))
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      Some((hwm, (f(11).toLong + f(12).toLong) / ClockTicks))
    } catch { case _: Exception => None }

  def run(cmd: Seq[String], cwd: Path, env: Map[String, String], stderrLog: Path,
      timeoutSec: Double): Outcome = {
    Files.createDirectories(cwd)
    val pb = new ProcessBuilder(cmd.asJava).directory(cwd.toFile)
      .redirectError(stderrLog.toFile)
    pb.environment().putAll(env.asJava)
    val t0 = System.nanoTime()
    val p = pb.start()
    val pid = p.pid()
    @volatile var peak = 0L
    @volatile var cpu = 0.0
    val poller = new Thread(() => {
      while (p.isAlive) {
        status(pid).foreach { case (h, c) => peak = math.max(peak, h); cpu = c }
        try Thread.sleep(50) catch { case _: InterruptedException => }
      }
    })
    poller.setDaemon(true)
    poller.start()
    val lines = mutable.ArrayBuffer[Line]()
    val reader = new Thread(() => {
      val in = new BufferedReader(new InputStreamReader(p.getInputStream))
      var l = in.readLine()
      while (l != null) {
        val line = Line(System.nanoTime(), l)
        lines.synchronized(lines += line)
        l = in.readLine()
      }
    })
    reader.setDaemon(true)
    reader.start()
    val finished = p.waitFor((timeoutSec * 1000).toLong,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    if (!finished) {
      p.descendants().forEach(d => { d.destroyForcibly(); () })
      p.destroyForcibly()
      p.waitFor()
    }
    val t1 = System.nanoTime()
    reader.join(10000)
    poller.join(1000)
    Outcome(t0, t1, if (finished) p.exitValue() else -1,
      lines.synchronized(lines.toList), peak, cpu)
  }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
