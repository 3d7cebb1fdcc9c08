package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Counters for one attribution key (a unit of work or a trace span). */
final class Counts {
  var jobs, tasks, failedTasks = 0L
  var runMs, cpuNs, shuffleWrite, spill, bytesRead = 0L
}

/** A SparkListener that attributes jobs, tasks, shuffle, spill, input and
  * failures to the key the submitting thread set as the local property
  * [[Census.Key]], and tracks the bytes the block manager holds for
  * persisted (RDD) blocks. It only observes events: it adds no Spark
  * jobs. Readers call [[drain]] first so every event of the finished
  * work has been counted. */
final class Census(sc: SparkContext) extends SparkListener {
  private val byKey = mutable.HashMap.empty[String, Counts]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val blocks = mutable.HashMap.empty[Int, mutable.HashMap[String, Long]]
  private var held, peak = 0L

  sc.addSparkListener(this)

  private def counts(k: String): Counts = byKey.getOrElseUpdate(k, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = Option(e.properties).flatMap(p => Option(p.getProperty(Census.Key)))
      .getOrElse("")
    counts(k).jobs += 1
    e.stageIds.foreach(stageKey(_) = k)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageKey.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId.asRDDId.foreach { id =>
      val info = e.blockUpdatedInfo
      val rdd = blocks.getOrElseUpdate(id.rddId, mutable.HashMap.empty)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += size - rdd.getOrElse(id.name, 0L)
      if (size == 0) rdd.remove(id.name) else rdd(id.name) = size
      peak = math.max(peak, held)
    }
  }

  // unpersisting an RDD drops its blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.remove(e.rddId).foreach(rdd => held -= rdd.values.sum)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Counters of `key` so far (after a [[drain]]). */
  def of(key: String): Counts = synchronized(counts(key))

  /** Start a new peak-storage window at the bytes held now. */
  def resetPeak(): Unit = { drain(); synchronized { peak = held } }

  /** Highest bytes held by persisted blocks since [[resetPeak]]. */
  def peakBytes(): Long = { drain(); synchronized(peak) }
}

object Census {
  val Key = "perfbench.key"

  /** Run `body` with its Spark jobs attributed to `key`. */
  def attributed[T](sc: SparkContext, key: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, key)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** One span of a traced run: a layer call between two boundaries. */
final class Span(val id: Int, val name: String, val parent: Int,
    val runId: String, val start: Long) {
  var end = 0L
  var gcMs = 0L
  var childNs, childGcMs = 0L
  val extra = mutable.HashMap.empty[String, Double]
  def selfNs: Long = end - start - childNs
}

/** Records spans in memory; [[Tracer.records]] renders them when the run
  * ends. Each span's Spark work is attributed to it through [[Census]],
  * so a span's counters are its self counters. */
final class Tracer(sc: SparkContext, census: Census, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private def gcMs(): Long = graft.Bench.gcMs()

  def span[T](name: String)(body: Span => T): T = {
    val s = new Span(spans.length, name, open.headOption.fold(-1)(_.id), runId,
      System.nanoTime())
    spans += s
    open = s :: open
    val gc0 = gcMs()
    try Census.attributed(sc, s"$runId/${s.id}")(body(s))
    finally {
      s.end = System.nanoTime()
      s.gcMs = gcMs() - gc0
      open = open.tail
      open.headOption.foreach { p => p.childNs += s.end - s.start; p.childGcMs += s.gcMs }
    }
  }

  /** Spans of this run with their self time and self counters. */
  def records(origin: Long): Seq[Map[String, Any]] = {
    census.drain()
    spans.toSeq.map { s =>
      val c = census.of(s"$runId/${s.id}")
      Map[String, Any]("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "run_id" -> s.runId, "start_s" -> (s.start - origin) / 1e9,
        "end_s" -> (s.end - origin) / 1e9, "self_s" -> s.selfNs / 1e9,
        "gc_s" -> (s.gcMs - s.childGcMs) / 1e3, "jobs" -> c.jobs,
        "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks,
        "busy_s" -> c.runMs / 1e3, "cpu_s" -> c.cpuNs / 1e9,
        "shuffle_write_mb" -> c.shuffleWrite / 1e6, "spill_mb" -> c.spill / 1e6,
        "mb_read" -> c.bytesRead / 1e6, "extra" -> s.extra.toMap)
    }
  }
}
