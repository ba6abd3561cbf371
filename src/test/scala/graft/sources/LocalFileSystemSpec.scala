package graft.sources

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's local file system ([[GraftRawLocalFileSystem]]) against a
  * stock `RawLocalFileSystem`: same modes, same link statuses, same
  * checksums, and resolved for `file:` by every `Configuration`.
  */
class LocalFileSystemSpec extends AnyFunSuite {

  private val local = URI.create("file:///")

  private def stockRaw(conf: Configuration = new Configuration()) = {
    val fs = new RawLocalFileSystem(); fs.initialize(local, conf); fs
  }
  private def graftRaw(conf: Configuration = new Configuration()) = {
    val fs = new GraftRawLocalFileSystem(); fs.initialize(local, conf); fs
  }
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0x0fff

  test("a fresh Configuration resolves file: to the engine's classes, for both Hadoop APIs") {
    val conf = new Configuration()
    val fs = FileSystem.get(local, conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[GraftRawLocalFileSystem])
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs])

    // Spark's checkpoint commit: create a temp file, rename it over the target
    val dir = Files.createTempDirectory("graft-fc")
    val tmp = new Path(dir.resolve("tmp").toString)
    val dst = new Path(dir.resolve("dst").toString)
    val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    out.write("v1".getBytes("UTF-8")); out.close()
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("tmp")))
    assert(new String(Files.readAllBytes(dir.resolve("dst")), "UTF-8") == "v1")
    assert(Files.exists(dir.resolve(".dst.crc")))
  }

  test("setPermission sets the modes a stock RawLocalFileSystem sets, on files and directories") {
    val (stock, graft) = (stockRaw(), graftRaw())
    val dir = Files.createTempDirectory("graft-perm")
    for (m <- Seq("0600", "0640", "0755", "0777", "1777"); dirs <- Seq(false, true)) {
      val paths = Seq("stock", "graft").map { side =>
        val p = dir.resolve(s"$side-$m-$dirs")
        if (dirs) Files.createDirectory(p) else Files.createFile(p)
        p
      }
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      stock.setPermission(new Path(paths(0).toString), perm)
      graft.setPermission(new Path(paths(1).toString), perm)
      assert(mode(paths(1)) == mode(paths(0)), s"mode $m, directory $dirs")
      assert(mode(paths(1)) == perm.toShort, s"mode $m, directory $dirs")
    }
  }

  test("create under the umask gives a file and its .crc the stock modes") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val dir = Files.createTempDirectory("graft-umask")
    def write(fs: FileSystem, name: String): Unit = {
      val out = fs.create(new Path(dir.resolve(name).toString), new FsPermission("777"),
        true, 4096, 1.toShort, 1L << 20, null)
      out.write(Array.fill[Byte](100)(1)); out.close()
    }
    val stock = new LocalFileSystem(); stock.initialize(local, conf)
    val graft = new GraftLocalFileSystem(); graft.initialize(local, conf)
    write(stock, "stock"); write(graft, "graft")
    assert(mode(dir.resolve("graft")) == mode(dir.resolve("stock")))
    assert(mode(dir.resolve("graft")) == Integer.parseInt("750", 8))
    assert(mode(dir.resolve(".graft.crc")) == mode(dir.resolve(".stock.crc")))
  }

  test("getFileLinkStatus matches the stock answer for files, directories, links and missing paths") {
    val (stock, graft) = (stockRaw(), graftRaw())
    val dir = Files.createTempDirectory("graft-link")
    val file = Files.write(dir.resolve("file"), "abc".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)
    def outcome(fs: RawLocalFileSystem, path: Path) =
      Try(view(fs.getFileLinkStatus(path))).toEither.left.map(_.getClass)
    val missing = dir.resolve("missing")
    for (p <- Seq(file, sub, link, dangling, missing); q <- Seq(p.toString, p.toUri.toString)) {
      val path = new Path(q)
      assert(outcome(graft, path) == outcome(stock, path), q)
    }
    // both throw for a path that is not there
    assert(outcome(graft, new Path(missing.toString)) == Left(classOf[FileNotFoundException]))
  }

  test("rename refuses to replace an existing file and moves the checksum with the data") {
    val fs = FileSystem.get(local, new Configuration())
    val dir = Files.createTempDirectory("graft-rename")
    def write(name: String, text: String): Path = {
      val p = new Path(dir.resolve(name).toString)
      val out = fs.create(p); out.write(text.getBytes("UTF-8")); out.close(); p
    }
    val (a, b) = (write("a", "first"), write("b", "second"))
    assert(!fs.rename(a, b))
    assert(new String(Files.readAllBytes(dir.resolve("b")), "UTF-8") == "second")
    assert(fs.rename(a, new Path(dir.resolve("c").toString)))
    assert(!Files.exists(dir.resolve("a")) && !Files.exists(dir.resolve(".a.crc")))
    assert(Files.exists(dir.resolve(".c.crc")))
  }

  test("a .crc sidecar is still written and still catches a flipped data byte") {
    // LocalFileSystem would also move the bad file to a bad_files
    // directory at the top of its device; this one leaves it in place
    val fs = new GraftLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(local, new Configuration())
    val dir = Files.createTempDirectory("graft-crc")
    val data = dir.resolve("data")
    val out = fs.create(new Path(data.toString))
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    val raf = new RandomAccessFile(data.toFile, "rw")
    try { raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0xff) }
    finally raf.close()
    val in = fs.open(new Path(data.toString))
    try intercept[ChecksumException](in.readFully(new Array[Byte](4096)))
    finally in.close()
  }

  test("a FileContext read checks the .crc of a file it wrote") {
    // Spark reads streaming offsets, commits and state through FileContext
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    val data = Files.createTempDirectory("graft-fc-crc").resolve("data")
    val out = fc.create(new Path(data.toString), EnumSet.of(CreateFlag.CREATE))
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    val raf = new RandomAccessFile(data.toFile, "rw")
    try { raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0xff) }
    finally raf.close()
    val in = fc.open(new Path(data.toString))
    try intercept[ChecksumException](in.readFully(new Array[Byte](4096)))
    finally in.close()
  }
}
