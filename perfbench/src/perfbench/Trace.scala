package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import scala.collection.mutable

/** One timed call into a layer, recorded by the benchmark around a call
  * into the program (never inside it). `group` is the pass or feed batch
  * the call belongs to; `parent` is the enclosing span (-1 at top level).
  * `startMs`/`endMs` are wall-clock (Spark stamps jobs with wall-clock
  * millis); `seconds` comes from the monotonic clock.
  */
final case class Span(id: Int, name: String, parent: Int, group: Long,
    startMs: Long, endMs: Long, seconds: Double)

/** Spark work counted inside a span's wall-clock window. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    shuffleBytes: Long, spillBytes: Long, gcSeconds: Double) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, gcSeconds - o.gcSeconds)
}

object Counts { val zero: Counts = Counts(0, 0, 0, 0, 0, 0.0) }

/** Records every job and every finished task. Attribution is by time:
  * a workload is a closed loop with one client, so exactly one call is
  * in flight and a job belongs to the innermost span whose window holds
  * its submission time.
  */
final class CountingListener extends SparkListener {
  private final class StageAcc { var tasks = 0L; var shuffle = 0L
    var spill = 0L; var gcMs = 0L }
  private val jobs = mutable.ArrayBuffer.empty[(Long, Seq[Int])]
  private val stages = mutable.HashMap.empty[Int, StageAcc]

  /** Time spent in this listener's callbacks: the tracing overhead. */
  @volatile var busyNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t0 = System.nanoTime()
    jobs += ((e.time, e.stageIds))
    busyNs += System.nanoTime() - t0
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    if (m != null) {
      a.shuffle += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
    busyNs += System.nanoTime() - t0
  }

  /** Counts of the jobs submitted within `[fromMs, toMs]`. Call after
    * the listener bus has drained ([[ListenerDrain]]).
    */
  def countsIn(fromMs: Long, toMs: Long): Counts = synchronized {
    val inWindow = jobs.filter { case (t, _) => t >= fromMs && t <= toMs }
    val ran = inWindow.flatMap(_._2).distinct.flatMap(stages.get)
    Counts(inWindow.size, ran.size, ran.map(_.tasks).sum,
      ran.map(_.shuffle).sum, ran.map(_.spill).sum,
      ran.map(_.gcMs).sum / 1000.0)
  }
}

/** Spans kept in memory and written once, when the run ends. With
  * `enabled = false` a span only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open: List[Int] = Nil
  private var listener: Option[(SparkContext, CountingListener)] = None

  def attach(sc: SparkContext): Unit = if (enabled && listener.isEmpty) {
    val l = new CountingListener
    sc.addSparkListener(l)
    listener = Some((sc, l))
  }

  def detach(): Unit = listener.foreach { case (sc, l) =>
    ListenerDrain(sc)
    sc.removeSparkListener(l)
  }

  private var bookkeepingNs = 0L

  /** Seconds the tracing itself took: span bookkeeping plus the
    * listener's callbacks.
    */
  def overheadSeconds: Double =
    (bookkeepingNs + listener.map(_._2.busyNs).getOrElse(0L)) / 1e9

  def span[T](name: String, group: Long)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      bookkeepingNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        buf += Span(id, name, parent, group, ms0,
          System.currentTimeMillis(), (t1 - t0) / 1e9)
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  /** A span timed by someone else, e.g. a streaming trigger read from
    * its `StreamingQueryProgress`.
    */
  def record(name: String, group: Long, startMs: Long,
      seconds: Double): Unit = if (enabled) {
    buf += Span(nextId, name, open.headOption.getOrElse(-1), group, startMs,
      startMs + math.round(seconds * 1000), seconds)
    nextId += 1
  }

  def spans: Seq[Span] = buf.toSeq

  /** Counts inside a span's window minus those inside its children's. */
  def selfCounts(s: Span): Counts = listener match {
    case None => Counts.zero
    case Some((sc, l)) =>
      ListenerDrain(sc)
      buf.filter(_.parent == s.id).foldLeft(l.countsIn(s.startMs, s.endMs)) {
        (acc, c) => acc - l.countsIn(c.startMs, c.endMs)
      }
  }

  def selfSeconds(s: Span): Double =
    s.seconds - buf.filter(_.parent == s.id).map(_.seconds).sum

  /** One JSON object per line: the span and its self counts. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = buf.sortBy(_.id).map { s =>
      val c = selfCounts(s)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""group":${s.group},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"seconds":${s.seconds},""" +
        s""""self_seconds":${selfSeconds(s)},"jobs":${c.jobs},""" +
        s""""stages":${c.stages},"tasks":${c.tasks},""" +
        s""""shuffle_bytes":${c.shuffleBytes},""" +
        s""""spill_bytes":${c.spillBytes},"gc_s":${c.gcSeconds}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
  }
}
