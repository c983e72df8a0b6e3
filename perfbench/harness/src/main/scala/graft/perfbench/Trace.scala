package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler counters of one op, accumulated by [[OpListener]]. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L        // executor run time summed over tasks
  var taskWaitMs = 0L        // stage submission to task launch, summed
  var shuffleWriteBytes = 0L
  var spillBytes = 0L        // memory + disk bytes spilled
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // launch, finish (epoch ms)
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Wall time of [t0, t1] (epoch ms) during which no task of the op ran. */
  def driverOnlyMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    taskIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (t1 - t0) - covered
  }

  /** Largest max/median task-time ratio over the op's multi-task stages. */
  def skewMaxMedian: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** A SparkListener owned by the benchmark. Jobs are attributed to an op by
  * the job description the benchmark sets before each op
  * (`perfbench:<op id>:<label>`); events carrying any other description
  * are ignored. All callbacks run on Spark's single listener-bus thread. */
final class OpListener extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, String]
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]
  private val counters = new ConcurrentHashMap[String, OpCounters]

  private def opOf(desc: String): Option[String] =
    Option(desc).filter(_.startsWith("perfbench:")).map(_.split(':')(1))

  private def acc(op: String): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .flatMap(p => opOf(p.getProperty("spark.job.description")))
      .foreach { op =>
        val c = acc(op)
        c.jobs += 1
        e.stageIds.foreach(stageOp.put(_, op))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs.put(e.stageInfo.stageId,
      Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val c = acc(op)
      c.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val c = acc(op)
      val info = e.taskInfo
      c.tasks += 1
      c.taskIntervals += ((info.launchTime, info.finishTime))
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        (info.finishTime - info.launchTime)
      Option(stageSubmitMs.get(e.stageId)).foreach { s =>
        c.taskWaitMs += math.max(0L, info.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        c.taskBusyMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Counters of an op once every event it caused has been delivered. */
  def take(sc: SparkContext, op: Int): OpCounters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Option(counters.remove(op.toString)).getOrElse(new OpCounters)
  }
}

/** One timed interval: a span of the trace. `parent` is the enclosing
  * span's name ("" at the op level); spans of one op share `op`. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span record, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(s: Span): Unit = synchronized { buf += s }

  def timed[A](name: String, parent: String, op: Int)(body: => A): (A, Span) = {
    val t0 = System.nanoTime()
    val a = body
    val s = Span(name, t0, System.nanoTime(), parent, op)
    add(s)
    (a, s)
  }

  def all: Seq[Span] = synchronized { buf.toList }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${Json.str(s.parent)},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
