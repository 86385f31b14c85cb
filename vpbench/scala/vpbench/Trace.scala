package vpbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Executor-side cost of the jobs one span ran. */
final case class StageCost(
    jobs: Int = 0,
    tasks: Long = 0,
    executorRunS: Double = 0,
    executorCpuS: Double = 0,
    gcS: Double = 0,
    shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0,
    memorySpillBytes: Long = 0,
    diskSpillBytes: Long = 0,
    peakExecMemoryBytes: Long = 0,
    /** max over stages with >= 2 tasks of (max task time / median task time) */
    taskSkew: Double = 1.0) {

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "tasks" -> tasks, "executor_run_s" -> executorRunS,
    "executor_cpu_s" -> executorCpuS, "gc_s" -> gcS,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "memory_spill_bytes" -> memorySpillBytes, "disk_spill_bytes" -> diskSpillBytes,
    "peak_exec_memory_bytes" -> peakExecMemoryBytes, "task_skew" -> taskSkew)
}

/** Task metrics grouped by Spark job group. Stages are mapped to their job's
  * group when the job starts; a caller waits for a group's jobs by job-end
  * events (the listener bus delivers every task end of a job before its job
  * end), never by sleeping.
  */
final class StageCollector extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val ended = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val tasks = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Int, SparkListenerTaskEnd)]]()
  private val lock = new Object

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(Tracer.JobGroupKey)).orNull
    if (g != null) e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) {
      val buf = tasks.computeIfAbsent(g, _ => mutable.ArrayBuffer.empty)
      buf.synchronized { buf += (e.stageId -> e) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    ended.put(e.jobId, true)
    lock.notifyAll()
  }

  /** Blocks until every job of `group` has ended (bounded by `timeoutMs`). */
  def awaitGroup(sc: SparkContext, group: String, timeoutMs: Long = 30000): Int = {
    val jobIds = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      while (!jobIds.forall(id => ended.containsKey(id)) && System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
    }
    jobIds.length
  }

  /** Folds and forgets the group's task metrics. */
  def take(group: String, jobs: Int): StageCost = {
    val buf = Option(tasks.remove(group)).getOrElse(mutable.ArrayBuffer.empty)
    val ends = buf.synchronized(buf.toList)
    var c = StageCost(jobs = jobs, tasks = ends.size)
    ends.foreach { case (_, e) =>
      val m = e.taskMetrics
      c = c.copy(
        executorRunS = c.executorRunS + m.executorRunTime / 1e3,
        executorCpuS = c.executorCpuS + m.executorCpuTime / 1e9,
        gcS = c.gcS + m.jvmGCTime / 1e3,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        memorySpillBytes = c.memorySpillBytes + m.memoryBytesSpilled,
        diskSpillBytes = c.diskSpillBytes + m.diskBytesSpilled,
        peakExecMemoryBytes = math.max(c.peakExecMemoryBytes, m.peakExecutionMemory))
    }
    val skews = ends.groupBy(_._1).values.collect {
      case st if st.size >= 2 =>
        val d = st.map { case (_, e) => math.max(1L, e.taskInfo.duration).toDouble }
        d.max / Stats.median(d)
    }
    c.copy(taskSkew = if (skews.isEmpty) 1.0 else skews.max)
  }
}

/** One recorded span: name, interval, the span that caused it, the run. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startNs: Long, endNs: Long, cost: StageCost, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one traced step, kept in memory (the run writes them at exit). With
  * `enabled = false` every call just runs its body (the untraced run).
  */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  private val collector = if (enabled) {
    val c = new StageCollector
    sc.addSparkListener(c)
    Some(c)
  } else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[(Int, mutable.Map[String, Double])]()
  private var nextId = 0
  private val origin = System.nanoTime()

  /** Runs `body` as span `name` under the innermost open span. Spark jobs
    * started by `body` on this thread are tagged with the span's job group.
    */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val group = s"$runId/$id"
    val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
    val prevDesc = sc.getLocalProperty(Tracer.JobDescriptionKey)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val counts = mutable.LinkedHashMap.empty[String, Double]
    stack.push(id -> counts)
    val t0 = System.nanoTime()
    val out = try body finally {
      stack.pop()
      if (prevGroup != null) sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      else sc.clearJobGroup()
    }
    val t1 = System.nanoTime()
    val c = collector.get
    val cost = c.take(group, c.awaitGroup(sc, group))
    spans += Span(id, parent, name, runId, t0 - origin, t1 - origin, cost, counts.toMap)
    out
  }

  /** Adds `v` to counter `name` of the innermost open span. */
  def count(name: String, v: Double): Unit =
    stack.headOption.foreach { case (_, m) => m(name) = m.getOrElse(name, 0.0) + v }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Seconds of span `s` not covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def close(): Unit = collector.foreach(sc.removeSparkListener)
}

object Tracer {
  /** Local-property keys Spark stores the job group and description under. */
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescriptionKey = "spark.job.description"

  /** One span as a JSON line: identity, interval, Spark cost, counters. */
  def render(s: Span): String =
    Stats.json(scala.collection.immutable.ListMap[String, Any](
      "run_id" -> s.runId, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9) ++ s.cost.fields ++
      s.counts.toSeq.sortBy(_._1))
}
