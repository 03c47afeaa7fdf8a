package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work attributed to one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var executorMs = 0L
  var shuffleBytes = 0L
  /** Partition count of an RDD the group's jobs built with `partitionBy`:
    * the bucket count of `Executor.execute`'s identity-partitioned copy;
    * -1 when no job did. */
  var partitionByParts = -1
  val stageTaskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; executorMs += o.executorMs; shuffleBytes += o.shuffleBytes
    partitionByParts = math.max(partitionByParts, o.partitionByParts)
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** Max over median task time of the stage that ran the most task time. */
  def busiestStageSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).map(_.toDouble).toSeq
      val med = Stats.median(ts)
      if (med <= 0) 1.0 else ts.max / med
    }
}

/** Counts jobs, tasks, executor time and shuffle bytes per job group. A
  * stage is attributed to the group of the job that submitted it, so a task
  * event that arrives after its job ended still lands in the right group. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  private def of(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    val s = of(g)
    s.jobs += 1
    e.stageInfos.iterator.flatMap(_.rddInfos).filter(_.callSite.startsWith("partitionBy at "))
      .foreach(r => s.partitionByParts = math.max(s.partitionByParts, r.numPartitions))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.executorMs += m.executorRunTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
    s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  /** Remove and return the counters of one group. */
  def take(group: String): GroupStats = synchronized(groups.remove(group).getOrElse(new GroupStats))
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder: name, start, end and parent of each timed call
  * the benchmark makes into a layer; written out as JSON lines at the end. */
final class Spans(enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    Files.writeString(path, done.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Js.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("", "\n", "\n"))
  }
}
