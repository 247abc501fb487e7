package layerbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spark executor work per job group (one group per traced span). */
final class ExecCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** Rows each task emitted (its largest "number of output rows" SQL
    * metric): for a sink write, the rows one writer task flushed. */
  val taskOutputRecords = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** RDDs whose first block was stored while this group ran. */
  val cachedRdds = scala.collection.mutable.Set.empty[Int]
}

/** Attaches task metrics to the job group the job was submitted under.
  * Read only after [[org.apache.spark.PerfbenchBus.drain]]. */
final class ExecListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, ExecCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val seenRdds = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var currentGroup: String = null

  def counts: Map[String, ExecCounts] = byGroup.asScala.toMap

  private def of(g: String): ExecCounts = byGroup.computeIfAbsent(g, _ => new ExecCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the group SparkContext.setJobGroup put on the submitting thread
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    currentGroup = g
    val c = of(g)
    c.synchronized { c.jobs += 1 }
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    val c = of(g)
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageGroup.getOrDefault(e.stageId, ""))
      c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val rows = e.taskInfo.accumulables.collect {
          case a if a.name.contains("number of output rows") => a.update.fold(0L)(_.toString.toLong)
        }
        if (rows.nonEmpty) c.taskOutputRecords += rows.max
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid =>
        val c = of(Option(currentGroup).getOrElse(""))
        if (seenRdds.add(rdd)) c.synchronized { c.cachedRdds += rdd }
      case _ => ()
    }
}
