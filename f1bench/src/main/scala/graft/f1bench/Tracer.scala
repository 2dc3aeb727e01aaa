package graft.f1bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Executor-side counters of the Spark jobs one span launched. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var schemaJobs = 0L
  var schemaJobMs = 0L
  val jobMs = ArrayBuffer[Long]()
  /** (stage wall ms, max task ms / median task ms) of the slowest stage. */
  var slowestStage = (0L, 0.0)
}

/** Attributes Spark jobs to the benchmark's spans. Before each call into the
  * engine the benchmark sets the local property [[Tracer.Key]] to the id of
  * the open span; every job started under it, its stages and their tasks
  * are counted against that span. Jobs started without the property are
  * counted against span -1.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val byJob = new ConcurrentHashMap[Int, (Int, Long, Boolean)]()
  private val byStage = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val events = new AtomicLong

  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var open = List.empty[Span]

  def apply(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  /** Run `body` inside a new span named `name`, child of the open span. */
  def span[T](name: String, op: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = Span(id, parent, name, op, System.nanoTime(), 0L)
    open = s :: open
    sc.setLocalProperty(Tracer.Key, id.toString)
    try body
    finally {
      open = open.tail
      spans += s.copy(end = System.nanoTime())
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the asynchronous listener bus has delivered every event:
    * two quiet 50 ms windows in a row, bounded at 5 s. Each handler bumps
    * `events` last, so reading it here also publishes the counters.
    */
  def settle(): Unit = {
    var prev = events.get
    var quiet = 0
    var waited = 0
    while (quiet < 2 && waited < 5000) {
      Thread.sleep(50); waited += 50
      val cur = events.get
      if (cur == prev) quiet += 1 else { quiet = 0; prev = cur }
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spanOf(e.properties)
    // the call site of a parquet schema-inference job is the engine's
    // table reader, e.g. "parquet at Tables.scala:51"
    val schema = e.stageInfos.exists(_.name.contains("Tables.scala"))
    byJob.put(e.jobId, (id, e.time, schema))
    e.stageIds.foreach(byStage.put(_, id))
    val c = apply(id)
    c.synchronized { c.jobs += 1; if (schema) c.schemaJobs += 1 }
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(byJob.remove(e.jobId)).foreach { case (id, t0, schema) =>
      val c = apply(id)
      c.synchronized {
        c.jobMs += e.time - t0
        if (schema) c.schemaJobMs += e.time - t0
      }
    }
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = apply(byStage.getOrDefault(e.stageId, -1))
    stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]()) += e.taskInfo.duration
    c.synchronized {
      c.tasks += 1
      if (e.taskInfo.failed) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = apply(byStage.getOrDefault(info.stageId, -1))
    val wall = (for (s <- info.submissionTime; f <- info.completionTime) yield f - s)
      .getOrElse(0L)
    val durs = Option(stageTasks.remove(info.stageId)).map(_.sorted).getOrElse(ArrayBuffer())
    val skew =
      if (durs.isEmpty) 1.0
      else durs.last.toDouble / math.max(durs(durs.size / 2), 1L).toDouble
    c.synchronized {
      c.stages += 1
      if (wall > c.slowestStage._1) c.slowestStage = (wall, skew)
    }
    events.incrementAndGet()
  }
}

object Tracer {
  val Key = "f1bench.span"
}
