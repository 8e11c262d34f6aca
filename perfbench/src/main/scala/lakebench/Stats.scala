package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (p == 50.0 && s.size % 2 == 0) (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      else s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  private val TailCandidates = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)

  /** The highest candidate percentile with at least ten samples beyond
    * it: (percentile label, value, samples beyond).
    */
  def tail(xs: Seq[Double]): (String, Double, Int) = {
    val n = xs.size
    val p = TailCandidates.find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).getOrElse(50.0)
    val beyond = n - math.ceil(p / 100.0 * n).toInt
    (if (p == p.floor) p.toInt.toString else p.toString, percentile(xs, p), beyond)
  }

  /** Total length of the union of [a, b) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def procField(file: String, key: String): Option[Double] = {
    val p = Paths.get(file)
    if (!Files.isReadable(p)) None
    else Files.readAllLines(p).asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble)
  }

  /** Peak resident set of this JVM in MB (VmHWM); heap committed as a
    * fallback where /proc is absent.
    */
  def rssPeakMb: Double =
    procField("/proc/self/status", "VmHWM").map(_ / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  def host(cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "mem_total_gb" -> procField("/proc/meminfo", "MemTotal").map(_ / 1048576.0).getOrElse(-1.0),
    "local_k" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION)
}

/** Minimal JSON writer for the report and result files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def write(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (render(v) + "\n").getBytes("UTF-8"))
  }
}
