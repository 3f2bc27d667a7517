package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Bench-side Spark listener. It never looks inside the program: it only
  * aggregates the scheduler's task metrics by the job group the benchmark
  * sets around each call into a layer, and tallies the bytes the block
  * manager holds for cached RDD partitions. Groups nest by `/`: a job of
  * group `a/b` counts in `a/b` and in `a`.
  */
final class Ledger extends SparkListener {

  /** Task-metric totals of one job group. */
  final class Group {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runNs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    /** (launch ms, finish ms) of every task — driver idle is the part of
      * a call's wall that no task covers. */
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Task durations by stage — skew is max/median within a stage. */
    val durByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

    /** max/median task duration of the stage with the longest task. */
    def taskSkew: Double =
      if (durByStage.isEmpty) 1.0
      else {
        val d = durByStage.values.maxBy(_.max).sorted
        val med = d(d.size / 2)
        if (med <= 0) 1.0 else d.last.toDouble / med
      }

    /** Wall [t0, t1] (ms) minus the union of task intervals. */
    def idleMs(t0: Long, t1: Long): Long = {
      var covered = 0L
      var end = t0
      for ((s, f) <- intervals.sortBy(_._1)) {
        val (a, b) = (math.max(s, end), math.min(f, t1))
        if (b > a) { covered += b - a; end = b }
      }
      (t1 - t0) - covered
    }
  }

  private val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def group(id: String): Group = groups.computeIfAbsent(id, _ => new Group)

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))

  /** `a/b/c` -> `a/b/c`, `a/b`, `a`. */
  private def withParents(g: String): Seq[String] =
    g.split('/').inits.filter(_.nonEmpty).map(_.mkString("/")).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).toSeq.flatMap(withParents).foreach { g =>
      val grp = group(g)
      grp.synchronized { grp.jobs += 1 }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach { g0 =>
      stageGroup.put(e.stageInfo.stageId, g0)
      for (g <- withParents(g0)) {
        val grp = group(g)
        grp.synchronized { grp.stages += 1 }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).toSeq.flatMap(withParents).foreach { g =>
      val grp = group(g)
      val m = e.taskMetrics
      grp.synchronized {
        grp.tasks += 1
        grp.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        grp.durByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
        if (m != null) {
          grp.runNs += m.executorRunTime * 1000000L
          grp.cpuNs += m.executorCpuTime
          grp.gcMs += m.jvmGCTime
          grp.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          grp.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  // ---- cached-block tally ---------------------------------------------

  private val blockBytes = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  private val blockStores = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  @volatile private var held = 0L
  @volatile private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case key: RDDBlockId => synchronized {
        val now = info.memSize + info.diskSize
        val before = Option(blockBytes.get(key)).map(_.longValue).getOrElse(0L)
        if (now > 0) {
          blockBytes.put(key, now)
          if (before == 0L) blockStores.merge(key, 1L, (a, b) => a + b)
        } else blockBytes.remove(key)
        held += now - before
        peak = math.max(peak, held)
      }
      case _ => ()
    }
  }

  /** Bytes held right now, by cached RDD id. */
  def rddBytes: Map[Int, Long] = blockBytes.asScala.toSeq
    .groupBy(_._1.rddId).map { case (id, bs) => id -> bs.map(_._2.longValue).sum }

  /** Bytes held by cached RDD blocks right now (as far as the listener
    * bus has delivered). */
  def heldBytes: Long = held

  /** Peak held bytes since the last [[resetPeak]]. */
  def peakBytes: Long = peak
  def resetPeak(): Unit = synchronized { peak = held }


  /** Cached partitions that were stored more than once (computed, dropped
    * and computed again) since the last [[resetStores]]. */
  def recomputedParts: Long = blockStores.values.asScala.count(_ > 1).toLong
  def resetStores(): Unit = blockStores.clear()
}
