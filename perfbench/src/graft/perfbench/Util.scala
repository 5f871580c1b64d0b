package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {

  /** Bytes of every regular file under `root` (0 when absent). */
  def du(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Directories under `root` whose name starts with `prefix`. */
  def dirsNamed(root: Path, prefix: String): Int =
    if (!Files.exists(root)) 0
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.count(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix))
      finally s.close()
    }

  def rmrf(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total collection time of every JVM garbage collector, in seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
