package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Checkpointed stage graph with per-partition lineage/metrics and
  * resume-from-checkpoint (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * Each stage writes its output as parquet under `<root>/<name>` plus a
  * `_lineage.json` sidecar recording, per write task (= per output
  * partition): records written, bytes written, run time, plus stage
  * totals. A stage whose `_SUCCESS` marker and sidecar already exist is
  * NOT recomputed — it is read back, so a killed run re-executes only the
  * stages after the last completed checkpoint.
  *
  * Metrics come from Spark's own task metrics via a SparkListener
  * (driver-side, zero per-row overhead — no mapPartitions wrapper
  * deserializing the hot path), scoped to the write job through a job
  * group id. This is the idiomatic cluster design: at 1000 executors the
  * sidecar is a few KB per stage and the listener sees only task-end
  * events.
  */
object Pipeline {

  final case class TaskLineage(partitionId: Int, recordsWritten: Long,
                               bytesWritten: Long, runTimeMs: Long)

  final case class StageLineage(stage: String, partitions: Int,
                                records: Long, bytes: Long,
                                wallMs: Long, tasks: Seq[TaskLineage])

  private final class GroupListener(groupId: String) extends SparkListener {
    private val stageIds = TrieMap.empty[Int, Unit]
    val tasks = new mutable.ArrayBuffer[TaskLineage]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      if (js.properties != null &&
        groupId == js.properties.getProperty("spark.jobGroup.id")) {
        js.stageIds.foreach(id => stageIds.put(id, ()))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      if (stageIds.contains(te.stageId) && te.taskMetrics != null) {
        val om = te.taskMetrics.outputMetrics
        tasks.synchronized {
          tasks += TaskLineage(te.taskInfo.index, om.recordsWritten,
            om.bytesWritten, te.taskInfo.duration)
        }
      }
    }
  }

  /** Run (or resume) one checkpointed stage.
    *
    * @param root    checkpoint root directory (any Hadoop-visible URI)
    * @param name    stage name — becomes the subdirectory
    * @param compute lazily evaluated stage plan; skipped on resume
    * @return        the stage output read back from the checkpoint (so
    *                downstream stages cut lineage and re-read columnar)
    */
  def stage(spark: SparkSession, root: String, name: String)
           (compute: => DataFrame): DataFrame = {
    val dir = s"$root/$name"
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val success = new Path(dir, "_SUCCESS")
    val sidecar = new Path(dir, "_lineage.json")

    if (fs.exists(success) && fs.exists(sidecar))
      return spark.read.parquet(dir)

    val groupId = s"graft-stage-$name"
    val listener = new GroupListener(groupId)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      spark.sparkContext.setJobGroup(groupId, s"stage $name", false)
      compute.write.mode("overwrite").parquet(dir)
    } finally {
      spark.sparkContext.clearJobGroup()
      // listener-bus delivery is async; drain the bus so every task-end
      // event of this stage reaches the listener before it is read
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val wallMs = (System.nanoTime() - t0) / 1000000
    val tasks = listener.tasks.filter(_.recordsWritten > 0).toSeq
      .sortBy(_.partitionId)
    val lin = StageLineage(name, tasks.size, tasks.map(_.recordsWritten).sum,
      tasks.map(_.bytesWritten).sum, wallMs, tasks)
    writeSidecar(fs, sidecar, lin)
    spark.read.parquet(dir)
  }

  /** Read a stage's lineage sidecar back (tests + ops tooling). */
  def readLineage(spark: SparkSession, root: String,
                  name: String): Option[String] = {
    val p = new Path(s"$root/$name", "_lineage.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem,
                           p: Path, lin: StageLineage): Unit = {
    val tasksJson = lin.tasks.map(t =>
      s"""{"partition":${t.partitionId},"records":${t.recordsWritten},""" +
        s""""bytes":${t.bytesWritten},"runTimeMs":${t.runTimeMs}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"stage":"${lin.stage}","partitions":${lin.partitions},""" +
        s""""records":${lin.records},"bytes":${lin.bytes},""" +
        s""""wallMs":${lin.wallMs},"tasks":$tasksJson}"""
    val out = fs.create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
