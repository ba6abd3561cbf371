package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The on-disk identity of a parquet table: every `.parquet` part file
  * under a path, listed recursively (so `court_level=N/` partition
  * directories count), as sorted (relative name, mtime, length).
  *
  * Caches keyed on a table compare this, never the directory: a
  * directory's own mtime stays put when a part file is overwritten in
  * place, and an append lands in a partition subdirectory. Listing costs
  * a few milliseconds on the driver; it reads no data and starts no job.
  */
final case class FileStamp(files: Seq[FileStatus], stamp: Seq[(String, Long, Long)])

object FileStamp {

  /** The part files of `path` (a parquet file, or a directory of part
    * files at any depth) and their stamp.
    */
  def parquet(fs: FileSystem, path: Path): FileStamp = {
    // `listStatus` per directory, not `listFiles(path, recursive)`: the
    // located statuses that one builds copy each file's permissions, and
    // the local file system without native IO forks a shell to read them
    def walk(dir: Path, rel: String): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq.flatMap { f =>
        val name = rel + f.getPath.getName
        if (f.isDirectory) walk(f.getPath, name + "/")
        else if (name.endsWith(".parquet")) Seq(name -> f)
        else Nil
      }
    val st = fs.getFileStatus(path)
    val named = (if (st.isDirectory) walk(path, "") else Seq(st.getPath.getName -> st))
      .sortBy(_._1)
    FileStamp(named.map(_._2),
      named.map { case (name, f) => (name, f.getModificationTime, f.getLen) })
  }
}
