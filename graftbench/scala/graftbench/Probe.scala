package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One counted event, in the order the listener bus delivered it. */
sealed trait Ev
final case class TaskEv(stage: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
                        spill: Long, bytesRead: Long, bytesWritten: Long) extends Ev
case object JobEv extends Ev
/** A block's size (memory + disk) right after an update; 0 once removed. */
final case class BlockEv(id: String, bytes: Long) extends Ev
/** One SQL execution's Catalyst phase time. */
final case class ExecEv(planMs: Double) extends Ev

/** Records every task, job, block update and SQL execution of one
  * SparkContext into an append-only log. A span or a
  * call reads the slice of the log posted between its boundaries; the
  * bus is drained at each boundary, so with one client the slice holds
  * exactly the work of that interval.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val log = ArrayBuffer.empty[Ev]
  private val live = scala.collection.mutable.HashSet.empty[String]

  private def add(e: Ev): Unit = synchronized { log += e; () }
  def size: Int = synchronized(log.size)
  def liveBlocks: Set[String] = synchronized(live.toSet)
  def slice(from: Int, until: Int): Vector[Ev] = synchronized(log.slice(from, until).toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = add(JobEv)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      add(TaskEv(e.stageId, m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val id = i.blockId.name
    val bytes = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    if (bytes == 0L) live.remove(id) else live.add(id)
    log += BlockEv(id, bytes)
    ()
  }

  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(ExecEv(planMs(qe)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(ExecEv(planMs(qe)))

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftBenchBridge.drain(spark.sparkContext)
}

/** Counters summed over one slice of the probe's log. */
final case class Stats(jobs: Int, tasks: Int, taskMs: Long, gcMs: Long, shuffleWrite: Long,
                       spill: Long, bytesRead: Long, bytesWritten: Long, planMs: Double,
                       skew: Double, cachedPeak: Long)

object Stats {
  def median[T](xs: Seq[T])(implicit n: Numeric[T]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.map(n.toDouble).sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Peak bytes held by the RDD blocks (persist, localCheckpoint) the
    * slice created. Blocks already live when it opened are left out, so
    * their release by the context cleaner mid-slice cannot hide the
    * slice's own storage. Broadcast blocks are left out too: every stage
    * broadcasts its task binary, and when the cleaner drops those is a
    * matter of GC timing, which moved the peak by a third between
    * identical calls.
    */
  def peakNewBlocks(evs: Vector[Ev], liveAtStart: Set[String]): Long = {
    val held = scala.collection.mutable.HashMap.empty[String, Long]
    var total = 0L
    var peak = 0L
    evs.foreach {
      case BlockEv(id, bytes) if id.startsWith("rdd_") && !liveAtStart(id) =>
        total += bytes - held.getOrElse(id, 0L)
        held(id) = bytes
        peak = math.max(peak, total)
      case _ =>
    }
    peak
  }

  def of(evs: Vector[Ev], liveAtStart: Set[String]): Stats = {
    val tasks = evs.collect { case t: TaskEv => t }
    // Skew: max ÷ median task time in the stage with the most task time.
    val skew = if (tasks.isEmpty) 0.0 else {
      val big = tasks.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum).map(_.runMs)
      big.max / math.max(median(big), 1.0)
    }
    Stats(
      jobs = evs.count(_ == JobEv),
      tasks = tasks.size,
      taskMs = tasks.map(_.runMs).sum,
      gcMs = tasks.map(_.gcMs).sum,
      shuffleWrite = tasks.map(_.shuffleWrite).sum,
      spill = tasks.map(_.spill).sum,
      bytesRead = tasks.map(_.bytesRead).sum,
      bytesWritten = tasks.map(_.bytesWritten).sum,
      planMs = evs.collect { case ExecEv(ms) => ms }.sum,
      skew = skew,
      cachedPeak = peakNewBlocks(evs, liveAtStart))
  }
}

/** An interval over the probe's log: open it, run the work, close it. */
final class Interval(spark: SparkSession, probe: Probe) {
  probe.drain(spark)
  private val from = probe.size
  private val live0 = probe.liveBlocks
  private val t0 = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()

  /** Stop the clock, then drain and count. Returns (seconds, stats). */
  def close(): (Double, Stats) = {
    val secs = (System.nanoTime() - t0) / 1e9
    probe.drain(spark)
    (secs, Stats.of(probe.slice(from, probe.size), live0))
  }
}

/** Spans recorded by the benchmark around its calls into graft's layers.
  * Kept in memory and written out when the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int, startMs: Long,
                      wallS: Double, stats: Stats, extra: Map[String, Double])

final class Trace(spark: SparkSession, probe: Probe, cores: Int) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val notes = scala.collection.mutable.HashMap.empty[Int, Map[String, Double]]
  private var nextId = 0
  var run = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val w = new Interval(spark, probe)
    try body
    finally {
      val (secs, st) = w.close()
      stack = stack.tail
      spans += Span(id, name, parent, run, w.startMs, secs, st,
        notes.remove(id).getOrElse(Map.empty))
    }
  }

  /** Attach a count to the innermost open span. */
  def note(key: String, value: Double): Unit = {
    val id = stack.head
    notes(id) = notes.getOrElse(id, Map.empty[String, Double]) + (key -> value)
  }

  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val childWall = spans.filter(_.parent == s.id).map(_.wallS).sum
    val st = s.stats
    val m: Map[String, Any] = Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.startMs, "wall_s" -> s.wallS, "self_s" -> (s.wallS - childWall),
      "plan_ms" -> st.planMs, "jobs" -> st.jobs, "tasks" -> st.tasks,
      "task_s" -> st.taskMs / 1e3, "idle_core_s" -> (s.wallS * cores - st.taskMs / 1e3),
      "gc_s" -> st.gcMs / 1e3, "shuffle_mb" -> st.shuffleWrite / 1e6,
      "spill_mb" -> st.spill / 1e6, "read_mb" -> st.bytesRead / 1e6,
      "output_mb" -> st.bytesWritten / 1e6, "skew" -> st.skew,
      "cached_mb" -> st.cachedPeak / 1e6)
    m ++ s.extra
  }
}
