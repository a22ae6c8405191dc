package flsbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.Row

/** Minimal JSON writer for the report the runner reads back. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def quote(s: String): String = {
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
}

/** Engine-neutral result canonicalization, mirrored cell for cell by
  * `oracle.py`: columns sorted by name, rows sorted, doubles written as
  * their exact decimal expansion (so the comparison is bit-exact),
  * timestamps as microseconds since the epoch. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => plain(b)
    case b: scala.math.BigDecimal => plain(b.bigDecimal)
    case b: Boolean => if (b) "true" else "false"
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else plain(new java.math.BigDecimal(d))

  private def plain(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  final case class Result(cols: Seq[String], rows: Seq[String]) {
    lazy val digest: String = {
      val md = MessageDigest.getInstance("SHA-256")
      md.update((cols.mkString(",") + "\n" + rows.mkString("\n")).getBytes(StandardCharsets.UTF_8))
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
  }

  def apply(cols: Array[String], rows: Array[Row]): Result = {
    val order = cols.indices.sortBy(cols(_))
    Result(order.map(cols(_)),
      rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted.toSeq)
  }
}

/** In-memory spans around the benchmark's own calls into each layer.
  * Off unless the run is traced; written out once at exit. */
object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      request: String, startNs: Long, endNs: Long)

  @volatile var enabled = false
  var request = "setup"
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, request, t0, System.nanoTime())
      }
    }

  /** Per layer: total span time minus the time of its child spans. */
  def selfMs: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Job, stage and task totals from the listener bus. */
final class SparkCounters extends SparkListener {
  private var jobs, stages, tasks, shuffleBytes, spillBytes, peakExecMem, stageMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageMs += c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  def snapshot: Map[String, Double] = synchronized {
    Map("spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.shuffle_bytes" -> shuffleBytes.toDouble,
      "spark.spill_bytes" -> spillBytes.toDouble,
      "spark.peak_exec_mem_mb" -> peakExecMem / 1048576.0, "spark.stage_ms" -> stageMs.toDouble)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
