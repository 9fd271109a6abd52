package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced layer call: wall interval, parent span and the Spark work
  * attributed to it. Counters are written by listener threads under the
  * tracer's lock.
  */
final class Span(val id: Int, val name: String, val parent: Int, val unit: String, val start: Double) {
  var end: Double = Double.NaN
  var jobs = 0
  var untaggedJobs = 0
  var stages = 0
  var smallStages = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var statements = 0
  var catalystMs = 0L
  var exchanges = 0
  var batches = 0
  var addBatchMs = 0L
  var commitMs = 0L
  /** streaming query id -> state rows in its latest progress report */
  val stateRows = mutable.LinkedHashMap.empty[String, Long]

  def write(n: ObjectNode): Unit = {
    n.put("id", id); n.put("name", name); n.put("parent", parent); n.put("unit", unit)
    n.put("start", start); n.put("end", end)
    n.put("jobs", jobs); n.put("untagged_jobs", untaggedJobs)
    n.put("stages", stages); n.put("small_stages", smallStages)
    n.put("task_s", taskMs / 1000.0)
    n.put("shuffle_mb", shuffleBytes / 1048576.0)
    n.put("spill_mb", spillBytes / 1048576.0)
    n.put("peak_exec_mem_mb", peakExecBytes / 1048576.0)
    n.put("statements", statements); n.put("catalyst_ms", catalystMs); n.put("exchanges", exchanges)
    n.put("batches", batches); n.put("add_batch_ms", addBatchMs); n.put("commit_ms", commitMs)
    n.put("state_rows", stateRows.values.sum)
  }
}

private object PlanShape extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in an executed plan, looking inside adaptive stages. */
  def exchanges(qe: QueryExecution): Int =
    collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
}

/** Span recorder for the traced run.
  *
  * Spark work is attributed to spans with one job tag per open span
  * (`SparkContext.addJobTag`): a job carries the tags of every span open on
  * the submitting thread, so a parent span also counts its children's jobs.
  * Jobs submitted from pool threads that did not inherit the tags fall back
  * to the spans open when the job started — the benchmark drives one
  * operation at a time, so that is the caller — and are counted apart as
  * `untagged_jobs`. The listener bus is drained at every span boundary, so
  * statement, stage and streaming-progress events land in the span whose
  * call caused them.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val tagPrefix = "perfbench-span-"
  private val open = mutable.ArrayBuffer.empty[Span]
  private val stageOwners = mutable.HashMap.empty[Int, Seq[Span]]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Spans are recorded only while enabled; listeners stay registered. */
  @volatile var enabled = false
  @volatile var unit = ""

  private def now(): Double = Clock.now()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      Bus.drain(sc)
      val s = synchronized {
        val s = new Span(spans.size, name, open.lastOption.map(_.id).getOrElse(-1), unit, now())
        spans += s
        open += s
        s
      }
      sc.addJobTag(tagPrefix + s.id)
      try body
      finally {
        Bus.drain(sc)
        sc.removeJobTag(tagPrefix + s.id)
        synchronized { s.end = now(); open -= s }
      }
    }

  def install(): Unit = {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val tagged = Bus.jobTags(e.properties).filter(_.startsWith(tagPrefix))
          .flatMap(t => spans.lift(t.stripPrefix(tagPrefix).toInt))
        val owners = if (tagged.nonEmpty) tagged else open.toSeq
        owners.foreach { s =>
          s.jobs += 1
          if (tagged.isEmpty) s.untaggedJobs += 1
        }
        e.stageInfos.foreach(si => stageOwners.getOrElseUpdate(si.stageId, owners))
      }

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
        stageOwners.getOrElse(e.stageInfo.stageId, Nil).foreach { s =>
          s.stages += 1
          if (e.stageInfo.numTasks <= 3) s.smallStages += 1
        }
      }

      // StreamingQueryListener progress events reach every SparkListener
      // through the context's bus; reading them here sees the queries of
      // every session, where `spark.streams.addListener` sees one session's
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent => progress(p.progress)
        case _ =>
      }

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        val m = e.taskMetrics
        if (m != null) stageOwners.getOrElse(e.stageId, Nil).foreach { s =>
          s.taskMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.peakExecBytes = math.max(s.peakExecBytes, m.peakExecutionMemory)
        }
      }
    })

    def progress(p: StreamingQueryProgress): Unit = {
      def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      synchronized {
        open.foreach { s =>
          s.batches += 1
          s.addBatchMs += dur("addBatch")
          s.commitMs += dur("walCommit") + dur("commitOffsets")
          s.stateRows(p.id.toString) = rows
        }
      }
    }

    def statement(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      val exchanges = scala.util.Try(PlanShape.exchanges(qe)).getOrElse(0)
      synchronized {
        open.foreach { s =>
          s.statements += 1
          s.catalystMs += ms
          s.exchanges += exchanges
        }
      }
    }
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = statement(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = statement(qe)
    })

  }

  def write(arr: ArrayNode): Unit = synchronized {
    spans.foreach(s => s.write(arr.addObject()))
  }
}

/** Heap occupancy right after each garbage collection, sampled while active. */
final class HeapMonitor {
  @volatile var active = false
  @volatile private var peak = 0L

  def install(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakMb: Double = peak / 1048576.0
}

object Clock {
  /** Wall clock in epoch seconds, microsecond resolution; comparable with
    * the launching process's `time.time()`.
    */
  def now(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}
