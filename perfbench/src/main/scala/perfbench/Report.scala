package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and string-keyed maps).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value). Below 20 samples that percentile would sit at
    * or under the median, so the maximum is reported instead (p100).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size >= 20) (100.0 * (s.size - 10) / s.size, s(s.size - 11))
    else (100.0, s.lastOption.getOrElse(0.0))
  }
}

/** Bytes and files under a table root, split into live (referenced by a
  * current snapshot manifest) and unreclaimed.
  */
final case class StoreUsage(liveBytes: Long, liveFiles: Long, deadBytes: Long) {
  def totalBytes: Long = liveBytes + deadBytes
}

object Store {
  /** Every regular file under `root` with its size. */
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else Using.resource(Files.walk(p)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
    }
  }

  /** Live/unreclaimed split: a table is a directory holding `CURRENT`;
    * its live files are the current manifest, `CURRENT` and the data
    * under the partition directories that manifest references. Files
    * outside any table (run checkpoints) count as live.
    */
  def usage(root: String): StoreUsage = {
    val all = files(root)
    val tables = all.keys.filter(_.endsWith("/CURRENT"))
      .map(_.stripSuffix("/CURRENT")).toSeq
    val livePrefixes: Seq[String] = tables.flatMap { t =>
      val snap = Files.readString(Paths.get(t, "CURRENT")).trim
      val m = graft.table.Manifest.fromJson(
        Files.readString(Paths.get(t, "manifests", s"manifest-$snap.json")))
      Seq(s"$t/CURRENT", s"$t/manifests/manifest-$snap.json") ++
        m.partitions.values.collect { case e if e.path.nonEmpty => s"$t/${e.path}/" }
    }
    def inTable(f: String) = tables.exists(t => f.startsWith(t + "/"))
    val (live, dead) = all.partition { case (f, _) =>
      !inTable(f) || livePrefixes.exists(pre => f == pre || f.startsWith(pre))
    }
    StoreUsage(live.values.sum, live.size, dead.values.sum)
  }

  /** Resident-set high-water mark of this process, MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}
