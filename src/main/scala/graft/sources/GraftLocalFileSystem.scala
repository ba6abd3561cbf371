package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its process spawns.
  *
  * Without Hadoop's native IO library, `RawLocalFileSystem` forks a
  * shell for two calls that every table write and every streaming
  * checkpoint commit makes:
  *  - `setPermission` runs `chmod`, once for each file and each `.crc`
  *    sidecar a create makes;
  *  - `getFileLinkStatus` runs `readlink`, and `FileContext.rename`
  *    (Spark's checkpoint commit) calls it on both of its paths.
  *
  * Here `setPermission` makes the same chmod(2) call through the JDK's
  * `unix:mode` attribute, and `getFileLinkStatus` answers
  * `getFileStatus` for a path that is not a symbolic link, which is what
  * `RawLocalFileSystem` returns for one; a link still goes to
  * `RawLocalFileSystem`. Where the JDK has no `unix` attribute view,
  * both calls are `RawLocalFileSystem`'s.
  *
  * `src/main/resources/core-site.xml` registers the checksummed wrappers
  * [[GraftLocalFileSystem]] (`FileSystem`) and [[GraftLocalFs]]
  * (`FileContext`) for the `file:` scheme, so every Hadoop
  * `Configuration` built with the engine on its classpath uses them.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (GraftRawLocalFileSystem.unixAttributes)
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))
    else super.setPermission(p, permission)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (GraftRawLocalFileSystem.unixAttributes && !Files.isSymbolicLink(pathToFile(f).toPath))
      getFileStatus(f)
    else super.getFileLinkStatus(f)
}

object GraftRawLocalFileSystem {
  private val unixAttributes: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` (`.crc` checksums and all)
  * over [[GraftRawLocalFileSystem]].
  *
  * A rename onto an existing file returns false, as on HDFS. The Spark
  * distribution's Hive jar registers `ProxyLocalFileSystem`, which does
  * the same, for `file:`, and the engine's commit protocols (markers,
  * swaps) read a false rename as a lost race.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val replaces = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !replaces && super.rename(src, dst)
  }
}

/** `FileContext`'s raw local file system over [[GraftRawLocalFileSystem]],
  * with `RawLocalFs`'s overrides.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`)
  * over [[GraftRawLocalFs]], with the `.crc` checked on `open(path)`:
  * `ChecksumFs` checks it only on `open(path, bufferSize)`, and its
  * parent `FilterFs` sends `open(path)`, the call `FileContext.open`
  * makes, straight to the raw file system. Spark reads streaming
  * offsets, commits and state through `FileContext.open`.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
