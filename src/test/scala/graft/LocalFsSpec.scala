package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The fork-free `file:` filesystem (graft.io.LocalFs) is registered for
  * every Hadoop Configuration and is observably the stock local
  * filesystem: same permission bits, same link status, same checksum
  * sidecars and checksum failures. Stock instances are built directly
  * (FileSystem) or through an explicit class override (FileContext). */
class LocalFsSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(name: String): JPath =
    Files.createTempDirectory(s"graft_localfs_$name")

  private def conf(umask: String = "022"): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def stockFc(c: Configuration): FileContext = {
    val s = new Configuration(c)
    s.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getLocalFSFileContext(s)
  }

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session's file: FileSystem and FileContext resolve to the nio classes") {
    val c = spark.sessionState.newHadoopConf()
    val fs = new Path("file:///tmp").getFileSystem(c)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(c).isInstanceOf[NioLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext(c).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    // a bare Configuration (no session) loads the same core-site.xml
    assert(FileContext.getLocalFSFileContext(new Configuration())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("created files and directories get stock POSIX permissions") {
    for (umask <- Seq("022", "077"); mode <- Seq("644", "755", "700", "640")) {
      val c = conf(umask)
      val perm = new FsPermission(mode)
      val got = Seq(new RawLocalFileSystem, new NioRawLocalFileSystem)
        .map { raw =>
          val fs = init(raw, c)
          val d = tmpDir("perm")
          val f = new Path(d.toString, "f")
          fs.create(f, perm, true, 4096, 1.toShort, 1L << 20, null).close()
          fs.mkdirs(new Path(d.toString, "sub"), perm)
          val g = new Path(d.toString, "g")
          fs.create(g).close()
          fs.setPermission(g, perm) // explicit: no umask
          Seq("f", "sub", "g").map(n => perms(d.resolve(n)))
        }
      assert(got(1) == got(0), s"umask $umask mode $mode")
      assert(got(1)(2) == rwx(mode), s"setPermission $mode")
    }
    // sticky bit takes the stock path and still applies the rwx bits
    val d = tmpDir("sticky")
    init(new NioRawLocalFileSystem, conf())
      .setPermission(new Path(d.toString), new FsPermission("1750"))
    assert(perms(d) == "rwxr-x---")
  }

  private def rwx(mode: String): String = {
    val bits = Integer.parseInt(mode, 8)
    "rwxrwxrwx".zipWithIndex.map { case (ch, i) =>
      if ((bits & (1 << (8 - i))) != 0) ch else '-' }.mkString
  }

  /** Everything a caller of getFileLinkStatus can observe but identity. */
  private def shape(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.isDirectory, st.isSymlink, st.getLen,
      st.getModificationTime, st.getPermission,
      if (st.isSymlink) st.getSymlink else None)

  private def linkStatus(f: => FileStatus): Either[Class[_], Seq[Any]] =
    try Right(shape(f))
    catch { case e: FileNotFoundException => Left(e.getClass) }

  test("getFileLinkStatus matches stock for a file, a directory, a symlink and a missing path") {
    val d = tmpDir("link")
    Files.write(d.resolve("file"), "abc".getBytes)
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("rel"), java.nio.file.Paths.get("dir"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("nope"))
    val c = conf()
    val stock = init(new RawLocalFileSystem, c)
    val nio = init(new NioRawLocalFileSystem, c)
    val names = Seq("file", "dir", "link", "rel", "dangling", "missing")
    for (n <- names; p <- Seq(new Path(d.resolve(n).toString),
        new Path("file:" + d.resolve(n)))) {
      val want = linkStatus(stock.getFileLinkStatus(p))
      assert(linkStatus(nio.getFileLinkStatus(p)) == want, p)
      if (want.exists(_(2) == true))
        assert(nio.getLinkTarget(p) == stock.getLinkTarget(p), p)
    }
    // the comparison covers a real link: stock reports one for the
    // unqualified form
    assert(stock.getFileLinkStatus(new Path(d.resolve("link").toString))
      .isSymlink)

    // FileContext: same answers as stock LocalFs, same symlink support
    val fc = FileContext.getLocalFSFileContext(c)
    val sfc = stockFc(c)
    for (n <- names) {
      val p = new Path("file:" + d.resolve(n))
      assert(linkStatus(fc.getFileLinkStatus(p)) ==
        linkStatus(sfc.getFileLinkStatus(p)), p)
    }
    val (afs, safs) = (fc.getDefaultFileSystem, sfc.getDefaultFileSystem)
    assert(afs.supportsSymlinks == safs.supportsSymlinks)
    assert(afs.getUriDefaultPort == safs.getUriDefaultPort)
    assert(afs.getUri == safs.getUri)
    def bytes(w: org.apache.hadoop.io.Writable): Seq[Byte] = {
      val out = new org.apache.hadoop.io.DataOutputBuffer()
      w.write(out)
      out.getData.take(out.getLength).toSeq
    }
    val root = new Path("file:///")
    assert(bytes(afs.getServerDefaults(root)) ==
      bytes(safs.getServerDefaults(root)))
    def symlink(c: FileContext, name: String): Any =
      scala.util.Try(c.createSymlink(new Path("file:" + d.resolve("file")),
        new Path("file:" + d.resolve(name)), false))
        .fold(_.getClass, _ => Files.readSymbolicLink(d.resolve(name)))
    assert(symlink(fc, "made") == symlink(sfc, "made_stock"))
  }

  test(".crc sidecars are written and a corrupted file fails its checksum") {
    val d = tmpDir("crc")
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    def corrupt(p: JPath): Unit = {
      val b = Files.readAllBytes(p)
      b(100) = (b(100) ^ 0xff).toByte
      Files.write(p, b)
    }
    val fs = new Path("file:///").getFileSystem(conf())
    /** Writes the payload through `create`, checks its sidecar through
      * the checksummed FileSystem reader, then corrupts the data file. */
    def written(name: String)(create: Path => java.io.OutputStream): Path = {
      val p = new Path("file:" + d.resolve(name))
      val out = create(p)
      try out.write(payload) finally out.close()
      assert(Files.exists(d.resolve(s".$name.crc")))
      val in = fs.open(p)
      assert(try in.readAllBytes().sameElements(payload) finally in.close())
      corrupt(d.resolve(name))
      val bad = fs.open(p)
      intercept[ChecksumException](try bad.readAllBytes() finally bad.close())
      p
    }
    written("fs.bin")(fs.create(_))

    // FileContext writes the same sidecar; its own reader behaves as
    // stock LocalFs's (which, in this Hadoop, returns the corrupted
    // bytes unchecked)
    val c = conf()
    val fcRead = Seq(FileContext.getLocalFSFileContext(c) -> "fc.bin",
        stockFc(c) -> "stock.bin").map { case (fc, name) =>
      val g = written(name)(
        fc.create(_, java.util.EnumSet.of(CreateFlag.CREATE)))
      val in = fc.open(g)
      scala.util.Try(try in.readAllBytes() finally in.close())
        .fold(_.getClass.getName, _.sameElements(Files.readAllBytes(
          d.resolve(name))).toString)
    }
    assert(fcRead(0) == fcRead(1))
  }
}
