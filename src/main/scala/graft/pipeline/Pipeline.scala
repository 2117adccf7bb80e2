package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Checkpointed stage graph with per-partition lineage/metrics and
  * resume-from-checkpoint (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics"), and the one rule for when a
  * staged file tree may be reused.
  *
  * Each stage writes its output under `<root>/<name>` plus a
  * `_lineage.json` sidecar recording, per write task (= per output
  * partition): records written, bytes written, run time, plus stage
  * totals and the stage's content key ([[fingerprint]]). A stage whose
  * `_SUCCESS` marker exists and whose sidecar holds the key of the plan
  * asked for now is NOT recomputed — it is read back, so a killed run
  * re-executes only the stages after the last completed checkpoint. Any
  * other tree under the stage dir (another config, other input files,
  * other code) is overwritten. The key is read from the files alone,
  * so a tree left by an earlier process with an equal key is reused:
  * that is what resumable means.
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

  /** Run (or resume) one checkpointed stage. Callers are serialised, so
    * two threads never write one stage dir at once.
    *
    * @param root    checkpoint root directory (any Hadoop-visible URI)
    * @param name    stage name — becomes the subdirectory
    * @param write   writes the stage's rows to its dir (plain parquet
    *                unless the stage needs another layout)
    * @param compute the stage plan; built on every call to key it, run
    *                only when the stage does not resume
    * @return        the stage output read back from the checkpoint (so
    *                downstream stages cut lineage and re-read columnar)
    */
  def stage(spark: SparkSession, root: String, name: String,
            write: (DataFrame, String) => Unit = (df, dir) =>
              df.write.mode("overwrite").parquet(dir))
           (compute: => DataFrame): DataFrame = synchronized {
    val dir = s"$root/$name"
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val plan = compute
    val key = fingerprint(spark, plan)
    val stored =
      if (!fs.exists(new Path(dir, "_SUCCESS"))) None
      else readLineage(spark, root, name)
        .flatMap(KeyField.findFirstMatchIn(_)).map(_.group(1))
    if (key.isEmpty || stored != key) {
      val groupId = s"graft-stage-$name"
      val listener = new GroupListener(groupId)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try {
        spark.sparkContext.setJobGroup(groupId, s"stage $name", false)
        write(plan, dir)
      } finally {
        spark.sparkContext.clearJobGroup()
        // listener-bus delivery is async; drain the bus so every task-end
        // event of this stage reaches the listener before it is read
        org.apache.spark.GraftListenerBridge.waitUntilEmpty(
          spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val wallMs = (System.nanoTime() - t0) / 1000000
      val tasks = listener.tasks.filter(_.recordsWritten > 0).toSeq
        .sortBy(_.partitionId)
      writeSidecar(fs, new Path(dir, "_lineage.json"), name, wallMs, tasks,
        key)
    }
    spark.read.parquet(dir)
  }

  private val KeyField = """"key":"([0-9a-f]+)"""".r

  /** The content key of `df`: an MD5 of its analyzed plan's text, masked
    * as [[graft.Harness.masked]] masks it (the code, the config and the
    * upstream plan), and of what each leaf holds — the sorted
    * (path, length, mtime) listing of a file source's root paths, read
    * now, or the rows of an in-memory `LocalRelation`, which the plan
    * text does not show. None when a leaf's content is out of sight
    * (an RDD, a catalog table, a stream): such a stage always
    * recomputes. Closures (typed lambdas, Scala UDFs) show only by
    * their class, so a stage must not depend on a value one captures. */
  private def fingerprint(spark: SparkSession, df: DataFrame)
  : Option[String] = {
    val analyzed = df.queryExecution.analyzed
    val conf = spark.sparkContext.hadoopConfiguration
    val leaves = analyzed.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => Some(h.location.rootPaths.flatMap { p =>
          val files = p.getFileSystem(conf).listFiles(p, true)
          Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
            .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}")
        }.sorted.mkString("|"))
        case _ => None
      }
      case r: LocalRelation =>
        val bytes = UnsafeProjection.create(r.schema)
        Some(md5Hex(r.data.flatMap(bytes(_).getBytes).toArray))
      case _: Range | _: OneRowRelation => Some("")
      case _: LeafNode => None
    }
    if (leaves.contains(None)) None
    else Some(md5Hex((graft.Harness.masked(analyzed.toString) +:
      leaves.flatten).mkString("\n").getBytes(StandardCharsets.UTF_8)))
  }

  private def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** The checkpoint root of `kind` for the input dir `dir`, under
    * `java.io.tmpdir`: one per (kind, dir), named by the dir path's MD5.
    * [[stage]] decides what under it is still valid. */
  def tmpRoot(kind: String, dir: String): String =
    new Path(System.getProperty("java.io.tmpdir"),
      s"graft_$kind/${md5Hex(dir.getBytes(StandardCharsets.UTF_8)).take(12)}")
      .toString

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

  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                           stage: String, wallMs: Long,
                           tasks: Seq[TaskLineage],
                           key: Option[String]): Unit = {
    val tasksJson = tasks.map(t =>
      s"""{"partition":${t.partitionId},"records":${t.recordsWritten},""" +
        s""""bytes":${t.bytesWritten},"runTimeMs":${t.runTimeMs}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"stage":"$stage","partitions":${tasks.size},""" +
        s""""records":${tasks.map(_.recordsWritten).sum},""" +
        s""""bytes":${tasks.map(_.bytesWritten).sum},""" +
        s""""wallMs":$wallMs,""" +
        s""""key":${key.fold("null")("\"" + _ + "\"")},"tasks":$tasksJson}"""
    val out = fs.create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
