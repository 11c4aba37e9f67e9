package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's Spark and streaming listeners. Jobs are charged to the
  * span that was current on the calling thread when they started (a local
  * property); block updates and streaming progress to the span current
  * when they arrive, which is exact because [[Ctx]] drains the listener
  * bus at every span boundary. */
final class Listeners(spark: SparkSession) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val counters = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  @volatile private var current = 0
  // touched only from the listener bus thread
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def add(span: Int, key: String, v: Double): Unit = counters.synchronized {
    val m = counters.getOrElseUpdate(span, mutable.HashMap.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  private val exec = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(current)
      add(span, "jobs", 1)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sid = e.stageInfo.stageId
      val span = stageSpan.getOrElse(sid, current)
      add(span, "stages", 1)
      val ds = stageTasks.remove(sid).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      if (ds.length >= 2) {
        // max/median task time of the stage, weighted by the stage's task time
        val weight = ds.sum.toDouble
        val skew = ds.last.toDouble / math.max(ds(ds.length / 2), 1L).toDouble
        add(span, "skew_num", skew * weight)
        add(span, "skew_den", weight)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrElse(e.stageId, current)
      add(span, "tasks", 1)
      val d = e.taskInfo.duration
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += d
      add(span, "task_s", d / 1000.0)
      val m = e.taskMetrics
      if (m != null) {
        add(span, "gc_s", m.jvmGCTime / 1000.0)
        add(span, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(span, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(span, "spill_b", m.diskBytesSpilled.toDouble)
        add(span, "input_b", m.inputMetrics.bytesRead.toDouble)
        add(span, "output_b", m.outputMetrics.bytesWritten.toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      val bytes = i.memSize + i.diskSize
      if (i.blockId.isRDD && i.storageLevel.isValid && bytes > 0) {
        add(current, "pins", 1)
        add(current, "pinned_b", bytes.toDouble)
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        add(current, "stream.batches", 1)
        Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "triggerExecution")
          .foreach(k => Option(p.durationMs.get(k)).foreach(v => add(current, s"stream.$k", v.toDouble)))
      }
    }
  }

  def attach(): Unit = { sc.addSparkListener(exec); spark.streams.addListener(streams) }

  def detach(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(exec)
    spark.streams.removeListener(streams)
    sc.setLocalProperty(Key, null)
  }

  def enter(span: Int): Unit = {
    BusDrain(sc)
    current = span
    sc.setLocalProperty(Key, span.toString)
  }

  /** Closes `span`, hands its counters back and makes `parent` current. */
  def leave(span: Int, parent: Int): Map[String, Double] = {
    BusDrain(sc)
    current = parent
    sc.setLocalProperty(Key, parent.toString)
    counters.synchronized(counters.remove(span)).map(_.toMap).getOrElse(Map.empty)
  }
}
