package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without process forks. Without libhadoop, stock
  * [[RawLocalFileSystem]] runs `chmod` as a child process for every
  * file and directory it creates with a permission (every parquet part
  * file, `_SUCCESS`, state-table version directory, streaming offset,
  * commit and state-store delta file), and `readlink` for every
  * `getFileLinkStatus` (every `FileContext` rename). On a 4-vCPU VM a
  * fork from a driver JVM with a 4 GB heap took ~1.7 ms; the `java.nio`
  * calls below take ~0.01 ms and set the same bits.
  *
  * Registered for `file:` by `core-site.xml` on the engine's classpath
  * (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`), so every Hadoop
  * Configuration in the JVM picks it up; a deployment's own
  * `core-site.xml` earlier on the classpath gets stock Hadoop. Both
  * classes subclass the stock ones, so code matching on
  * `LocalFileSystem`/`RawLocalFileSystem` is unaffected. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** Stock: `chmod %04o` via a child process. Anything outside the nine
    * rwx bits (the sticky bit) or a store without a POSIX attribute view
    * keeps the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(
        classOf[attribute.PosixFilePermission])
      NioRawLocalFileSystem.Bits.foreach { case (bit, perm) =>
        if ((mode & bit) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }

  /** Stock: `readlink <f.toString>` via a child process, and the plain
    * `getFileStatus(f)` when that prints nothing. The same lookup of the
    * same string (so a qualified `file:/…` path, which `readlink` cannot
    * resolve, stays a non-link exactly as before), through `java.nio`. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Stock's deprecated (libhadoop-less) link status, target unqualified. */
  private def linkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      try {
        val fs = getFileStatus(f)
        new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission,
          fs.getOwner, fs.getGroup, target, f)
      } catch {
        // dangling link: stock reports it with default attributes
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
            "", "", target, f)
      }
    }
  }
}

private object NioRawLocalFileSystem {
  /** Mode bit → POSIX permission; the enum lists owner r/w/x first. */
  val Bits: Seq[(Int, attribute.PosixFilePermission)] =
    attribute.PosixFilePermission.values.toSeq
      .map(p => (1 << (8 - p.ordinal)) -> p)
}

/** Checksummed `file:` FileSystem (`.crc` sidecars) over the fork-free
  * raw one — what `fs.file.impl` resolves to. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Checksummed `file:` AbstractFileSystem for `FileContext` (Spark's
  * streaming checkpoint and state store write through it) — stock
  * `LocalFs` with the fork-free raw FileSystem underneath. The
  * (URI, Configuration) constructor is the one Hadoop instantiates;
  * like `LocalFs` it ignores the URI (always `file:///`). */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(conf))

/** Stock `RawLocalFs` over [[NioRawLocalFileSystem]]; its constructors
  * are package-private, so its overrides are restated here. Symlink
  * support (`supportsSymlinks`, `createSymlink`, `getFileLinkStatus`,
  * `getLinkTarget`) delegates to the FileSystem, as in stock. */
private class NioRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
    false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
