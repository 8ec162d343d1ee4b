package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import org.apache.spark.sql.SparkSession

/** `--key value` arguments. */
final class Args(pairs: Seq[(String, String)]) {
  def apply(k: String): String =
    pairs.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
}

object Args {
  def apply(argv: Array[String]): Args = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${argv.mkString(" ")}")
    new Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toSeq)
  }
}

/** Minimal JSON writer for the raw-sample file `run.py` reads. Numbers are
  * Locale.ROOT-formatted so the JVM locale can never break the file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(d))
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(render).mkString("[", ",", "]")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, render(v).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }
}

object Env {
  def nowMs(): Long = System.currentTimeMillis()
  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** The session every graft main builds (`graft.Bench`, `graft.Verify`):
    * local[cores], shuffle partitions = cores, UTC, no UI. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceKnownBenignWarnings()
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    graft.Bench.readFs("/proc/self/status").flatMap { s =>
      s.linesIterator.collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }
    }.getOrElse(-1.0)

  /** Contention guard inputs read through the program's own helpers. */
  def guard(): Map[String, Any] =
    Map("cgroup_cpus" -> graft.Bench.cgroupCpuLimit(),
      "throttled_usec" -> graft.Bench.cgroupThrottle()._2)
}

/** Samples foreign CPU load (machine load minus this JVM's) every second
  * while a run measures — the signal `graft.Bench` uses for contention. */
final class LoadProbe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]
  @volatile private var on = true
  os.getCpuLoad(); os.getProcessCpuLoad()
  private val t = new Thread(() => {
    while (on) {
      Thread.sleep(1000)
      val all = os.getCpuLoad(); val self = os.getProcessCpuLoad()
      if (!(all.isNaN || self.isNaN || all < 0 || self < 0))
        samples.add(math.max(0.0, all - self)): Unit
    }
  }, "perfbench-load-probe")
  t.setDaemon(true)
  t.start()

  def stop(): Seq[Double] = {
    on = false
    t.join(3000)
    import scala.jdk.CollectionConverters._
    samples.asScala.toSeq
  }
}
