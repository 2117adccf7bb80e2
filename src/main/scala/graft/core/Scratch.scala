package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one staging policy for files a query writes under
  * `java.io.tmpdir` and reuses across invocations in the process (the
  * dedup signature store, the resume query's checkpoint tree).
  *
  * A staged root is keyed by CONTENT, not by path: the key is an MD5 of
  * the source table's sorted file listing (path, length, mtime) — one
  * FS listing, and any rewrite of the table under the same dir changes
  * it. The first use of a (kind, dir) in the process, and every change
  * of its listing, deletes that (kind, dir) subtree (stale content and
  * orphans of an earlier process alike) and re-fills a fresh root, so
  * nothing is ever served from, or accretes beside, old content. A
  * production service would key on a table-format snapshot id instead.
  * Staged roots outlive session teardowns: paths, not plans, are
  * memoized. */
object Scratch {

  private val memo = scala.collection.mutable.Map[(String, String),
    (String, String)]()

  /** First 12 hex digits of the MD5 of `s`. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** The staged root of `kind` for the content of `table` under `dir`:
    * memoized while the listing of `$dir/$table.parquet` is unchanged,
    * else created empty and handed to `fill` first. Callers are
    * serialised, so concurrent callers never fill one root twice. */
  def keyed(spark: SparkSession, kind: String, dir: String, table: String)
           (fill: String => Unit): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(dir, s"$table.parquet")
    val files = src.getFileSystem(conf).listFiles(src, true)
    val listing = Iterator.continually(files).takeWhile(_.hasNext)
      .map(_.next())
      .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}")
      .toSeq.sorted.mkString("|")
    val tag = md5Hex(listing)
    synchronized {
      memo.get((kind, dir)) match {
        case Some((t, root)) if t == tag => root
        case _ =>
          memo.remove((kind, dir))
          val parent = new Path(System.getProperty("java.io.tmpdir"),
            s"graft_$kind/${md5Hex(dir)}")
          val fs = parent.getFileSystem(conf)
          fs.delete(parent, true)
          val root = new Path(parent, tag)
          fs.mkdirs(root)
          fill(root.toString)
          memo((kind, dir)) = (tag, root.toString)
          root.toString
      }
    }
  }
}
