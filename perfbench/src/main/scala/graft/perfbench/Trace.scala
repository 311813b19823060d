package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{BatchRecord, BatchSink, BatchState}

final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)

/** Spans recorded from outside the program: one per benchmark phase and
  * one per call into a layer. All calls come from the thread that runs
  * the benchmark, so a stack gives each span its parent. Spans stay in memory and are
  * written out once, at exit. When tracing is off, `span` only runs its
  * body. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  /** The benchmark phase now running; counters are kept per phase. */
  var phase = ""
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = if (enabled) counters(s"$phase.$key") += v

  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent)
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Every span named `name` under a span named `phase`. */
  def calls(phase: String, name: String): Seq[Span] = {
    val byId = done.map(s => s.id -> s).toMap
    def under(s: Span): Boolean =
      s.parent >= 0 && byId.get(s.parent).exists(p => p.name == phase || under(p))
    done.filter(s => s.name == name && under(s)).toSeq
  }

  /** A span's duration minus its children's; spans of one thread nest,
    * so children never overlap. */
  def selfSeconds(s: Span): Double =
    (s.end - s.start - done.filter(_.parent == s.id).map(k => k.end - k.start).sum) / 1e9

  def write(path: Path): Unit = {
    val rows = done.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        f""""parent":${s.parent},"self_s":${selfSeconds(s)}%.6f}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Engine counters per benchmark phase. Each phase runs under its own
  * Spark job group; jobs, stages and tasks are credited to the group
  * their job was submitted under. */
final class PhaseListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var taskWaitMs, cpuNs, runMs, gcMs = 0L
    var shuffleBytes, spillBytes, inputBytes = 0L
  }
  private val aggs = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  def agg(group: String): Agg = synchronized(aggs.getOrElseUpdate(group, new Agg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      agg(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      agg(g).stages += 1
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = agg(g)
      a.tasks += 1
      stageSubmit.get(e.stageId).foreach(t => a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** The `spark.*` per-layer metrics of one phase. */
  def metrics(group: String): Seq[(String, Double, String)] = {
    val a = agg(group)
    Seq(
      ("jobs", a.jobs.toDouble, "count"),
      ("stages", a.stages.toDouble, "count"),
      ("tasks", a.tasks.toDouble, "count"),
      ("task_wait_s", a.taskWaitMs / 1e3, "s"),
      ("executor_cpu_s", a.cpuNs / 1e9, "s"),
      ("executor_run_s", a.runMs / 1e3, "s"),
      ("shuffle_bytes", a.shuffleBytes.toDouble, "bytes"),
      ("spill_bytes", a.spillBytes.toDouble, "bytes"),
      ("input_bytes", a.inputBytes.toDouble, "bytes"),
      ("gc_s", a.gcMs / 1e3, "s"))
      .map { case (n, v, u) => (s"$group.spark.$n", v, u) }
  }
}

/** Timing decorator for the sink the CLI path builds. */
final class TimedSink(inner: BatchSink, tr: Tracer, rangeDir: (String, Long, Long) => Path)
    extends BatchSink {
  override def write(batch: DataFrame, table: String, lo: Long, hi: Long): Long =
    tr.span("etl.sink.write") {
      val n = inner.write(batch, table, lo, hi)
      tr.add("etl.sink.bytes_written", Fs.bytes(rangeDir(table, lo, hi)).toDouble)
      n
    }

  override def count(spark: SparkSession, table: String, lo: Long, hi: Long): Long =
    tr.span("etl.sink.count")(inner.count(spark, table, lo, hi))
}

/** Timing decorator for the state store the CLI path builds. */
final class TimedState(inner: BatchState, tr: Tracer, versionDir: Long => Path)
    extends BatchState {
  override def currentVersion: Long = inner.currentVersion
  override def read(): Seq[BatchRecord] = tr.span("etl.state.read")(inner.read())
  override def upsert(records: Seq[BatchRecord]): Unit = tr.span("etl.state.upsert") {
    inner.upsert(records)
    tr.add("etl.state.bytes_written", Fs.bytes(versionDir(inner.currentVersion)).toDouble)
  }
}

object Fs {
  /** Total size of the regular files under `p` (0 if it is absent). */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  def path(s: String): Path = Paths.get(s)
}
