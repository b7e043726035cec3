package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The host stamp every record carries. */
object Host {

  /** (steal, total) jiffies from the kernel's aggregate CPU line, or zeros
    * where it is not readable. */
  def cpuTimes(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def stamp(cores: Int, cpu0: (Long, Long)): Json.Raw = {
    val (s1, t1) = cpuTimes()
    val os = ManagementFactory.getOperatingSystemMXBean
    val ram = os match {
      case b: com.sun.management.OperatingSystemMXBean => b.getTotalMemorySize / 1048576
      case _ => -1L
    }
    val load =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
      catch { case _: Exception => f"${os.getSystemLoadAverage}%.2f" }
    val graftProps = sys.props.toSeq.filter(_._1.startsWith("graft.")).sortBy(_._1)
    Json.obj(
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "ram_mb" -> ram,
      "loadavg" -> load,
      "cpu_steal_frac" -> (if (t1 > cpu0._2) (s1 - cpu0._1).toDouble / (t1 - cpu0._2) else 0.0),
      "graft_props" -> Json.obj(graftProps: _*),
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-X") || a.startsWith("-D")))
  }
}

/** Minimal JSON writer for the records. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
