package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Engine counters seen by the benchmark's own listener. All times are
  * wall-clock milliseconds as stamped on the events, so job intervals and
  * span windows share one clock.
  */
final class EngineListener extends SparkListener {
  private var active = 0
  private var busySince = 0L
  private val busy = ArrayBuffer[(Long, Long)]()
  private val c = Array.fill(9)(0L) // see Counters.names

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c(0) += 1
    if (active == 0) busySince = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busy += ((busySince, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { c(1) += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c(2) += 1
    if (e.taskInfo != null && e.taskInfo.failed) c(3) += 1
    val m = e.taskMetrics
    if (m != null) {
      c(4) += m.executorRunTime
      c(5) += m.executorCpuTime
      c(6) += m.jvmGCTime
      c(7) += m.shuffleWriteMetrics.bytesWritten
      c(8) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def totals: Array[Long] = synchronized(c.clone())

  /** Milliseconds of [a, b] during which at least one job was running. */
  def busyMs(a: Long, b: Long): Long = synchronized {
    val open = if (active > 0) Seq((busySince, b)) else Nil
    (busy.iterator ++ open).map { case (s, e) => math.max(0L, math.min(e, b) - math.max(s, a)) }.sum
  }
}

object Counters {
  val names = Seq("jobs", "stages", "tasks", "task_failures", "run_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb")
  // raw units -> reported units
  private val scale = Seq(1.0, 1.0, 1.0, 1.0, 1e-3, 1e-9, 1e-3, 1e-6, 1e-6)

  def delta(a: Array[Long], b: Array[Long]): Map[String, Double] =
    names.indices.map(i => names(i) -> (b(i) - a(i)) * scale(i)).toMap
}

/** One traced interval around a call into the program. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
    seconds: Double, counters: Map[String, Double])

/** Spans around module calls, kept in memory and written once at the end.
  * Until [[enable]], `span` is a bare call: no listener, no drain, no
  * /proc reads. Enabled, each span records the listener's counter deltas, the union of
  * job intervals inside it (job-busy time vs driver gap), the process's
  * `/proc/self/io` wchar delta, and the bytes of new files under the
  * watched store directories.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  val listener = new EngineListener
  private var enabled = false
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var watched = Seq.empty[Path]
  /** Seconds spent in span bookkeeping (drains, /proc and directory
    * reads): the tracing cost, measured inside the traced run itself.
    */
  var overheadSeconds = 0.0

  def enable(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    enabled = true
  }

  def watch(dirs: Seq[String]): Unit = watched = dirs.map(Paths.get(_))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      BenchBus.drain(spark.sparkContext)
      val before = listener.totals
      val io0 = Proc.wchar()
      val files0 = Proc.files(watched)
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      overheadSeconds += (t0 - b0) / 1e9
      try body
      finally {
        val secs = (System.nanoTime() - t0) / 1e9
        val w1 = System.currentTimeMillis()
        stack = stack.tail
        BenchBus.drain(spark.sparkContext)
        val d = Counters.delta(before, listener.totals)
        val busyS = listener.busyMs(w0, w1) / 1e3
        val files1 = Proc.files(watched)
        val fresh = files1.filter { case (p, st) => !files0.get(p).contains(st) }
        val extra = Map(
          "job_busy_s" -> busyS,
          "driver_gap_s" -> math.max(0.0, secs - busyS),
          "slot_util" -> (if (busyS > 0) d("run_s") / (busyS * cores) else 0.0),
          "wchar_mb" -> (Proc.wchar() - io0) / 1e6,
          "store_write_mb" -> fresh.values.map(_._1).sum / 1e6,
          "store_files" -> fresh.size.toDouble,
          "store_space_mb" -> files1.values.map(_._1).sum / 1e6)
        spans += Span(id, name, parent, w0, w1, secs, d ++ extra)
        overheadSeconds += (System.nanoTime() - t0) / 1e9 - secs
      }
    }

  /** Self time: the span minus the part of it its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

object Proc {
  import scala.jdk.CollectionConverters._

  private def field(file: String, key: String): Long =
    try {
      Files.readAllLines(Paths.get(file)).toArray.map(_.toString)
        .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }

  def wchar(): Long = field("/proc/self/io", "wchar:")

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = field("/proc/self/status", "VmHWM:") / 1024.0

  /** path -> (bytes, mtime) of every regular file under `dirs`. */
  def files(dirs: Seq[Path]): Map[String, (Long, Long)] =
    dirs.filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try {
        s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
        }.toList
      } finally s.close()
    }.toMap

  def dirBytes(dir: String): Long = files(Seq(Paths.get(dir))).values.map(_._1).sum
}

/** Minimal JSON rendering for the raw run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
        case ch => ch.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o => apply(o.toString)
  }
}
