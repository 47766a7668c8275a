package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal JSON rendering for the result lines (no library on the
  * classpath is guaranteed to stay there across Spark versions). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Full precision, never NaN/Infinity (JSON has neither). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Frames {
  /** Releases the blocks of an eager `localCheckpoint`. */
  def release(df: Dataset[_]): Unit = df.queryExecution.analyzed.foreach {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Nanoseconds per row of a kernel projected over a cached column: the
    * median of several noop-sink passes after one warm-up. */
  def kernelNsPerRow(cached: DataFrame, kernel: Column, reps: Int = 5): Double = {
    val n = cached.count()
    val secs = (0 to reps).map { _ =>
      val t0 = System.nanoTime()
      cached.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(secs.tail) * 1e9 / math.max(1L, n)
  }
}

object Disk {
  /** Bytes of every regular file under `p`, skipping hidden files (the
    * local filesystem's `.crc` checksum siblings). */
  def bytes(p: Path): Long = {
    val f = p.toFile
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length() }
    else Option(f.listFiles()).toSeq.flatten.map(c => bytes(c.toPath)).sum
  }

  /** Number of data files (parquet parts) under `p`. */
  def dataFiles(p: Path): Int = {
    val f = p.toFile
    if (!f.exists()) 0
    else if (f.isFile) { if (f.getName.startsWith("part-")) 1 else 0 }
    else Option(f.listFiles()).toSeq.flatten.map(c => dataFiles(c.toPath)).sum
  }

  def delete(p: Path): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(p.toFile)
  }

  def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }
}

/** Output checks of one pass. A step registers its check while the pass
  * runs; the checks run after the pass's clock stops. A step that never
  * registered (the pass threw before reaching it) counts as failed. */
final class Checks(val steps: Seq[String]) {
  private val deferred = ArrayBuffer.empty[(String, () => Option[String])]
  private val cleanups = ArrayBuffer.empty[() => Unit]

  /** Runs after the checks: releases what the pass kept for them. */
  def cleanup(f: => Unit): Unit = cleanups += (() => f)

  def add(step: String)(check: => Option[String]): Unit = {
    require(steps.contains(step), s"unknown step $step")
    deferred += (step -> (() => check))
  }

  /** Runs the registered checks; returns the error of every failed step. */
  def run(): Seq[String] = {
    val done = deferred.map(_._1).toSet
    val errs = deferred.toSeq.flatMap { case (step, c) =>
      val r = try c() catch { case e: Throwable => Some(s"check threw: $e") }
      r.map(m => s"$step: $m")
    }
    cleanups.foreach(_())
    errs ++ steps.filterNot(done).map(s => s"$s: not reached")
  }
}

object Checks {
  def eq[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Set equality with a short diff in the message. */
  def sameSet[T](what: String, got: Iterable[T], want: Iterable[T]): Option[String] = {
    val (g, w) = (got.toSet, want.toSet)
    if (g.size == got.size && g == w) None
    else Some(s"$what: ${got.size} rows (${g.size} distinct), want ${w.size}; " +
      s"missing ${(w -- g).take(3).mkString(",")} extra ${(g -- w).take(3).mkString(",")}")
  }
}
