package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The (path, mtime, size) of every file under some paths, read through
  * Hadoop `FileSystem` with the session's Hadoop conf, so any scheme the
  * session can read (`file:`, `hdfs:`, `s3a:`, a custom `fs.<scheme>.impl`)
  * fingerprints the same way. The planning memos ([[Tables.load]]'s schema
  * memo, [[graft.ops.PlanStatMemo]]) key on it: rewriting any input file
  * invalidates their entries.
  */
private[graft] object FileFingerprint {

  /** Sorted `path:mtime:size` entries of every file at or under `paths`
    * (a file, or a directory listed recursively), or None when any path is
    * missing or cannot be listed.
    */
  def of(spark: SparkSession, paths: Seq[String]): Option[String] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val files = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        leaves(fs, fs.getFileStatus(path))
      }
      Some(files.map(s => s"${s.getPath}:${s.getModificationTime}:${s.getLen}").sorted
        .mkString(","))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves(fs, _)) else Seq(st)
}
