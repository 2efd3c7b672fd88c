package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file://` file system without subprocesses.
  *
  * Without the native `libhadoop`, the stock `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates (`setPermission`) and
  * `readlink` for every link-status probe (`getFileLinkStatus`, twice per
  * `FileContext` rename). A streaming ORC commit creates dozens of files
  * per micro-batch, so process launches took a large share of it. This
  * subclass does the common cases with `java.nio` system calls and hands
  * every other case to the stock code, so every permission bit and every
  * symlink answer stays what the stock file system gives:
  *
  *  - `setPermission` with a plain rwx mode is one `chmod(2)`. A mode with
  *    the sticky bit goes to `super`, and so does a directory that carries
  *    setuid/setgid bits: `chmod 0755` keeps those on a directory, while
  *    `chmod(2)` would clear them.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`; a real (or dangling) symlink goes to `super`.
  *
  * [[LocalSpark.session]] installs it for the `FileSystem` API
  * ([[ForklessLocalFileSystem]]) and the `FileContext` API
  * ([[ForklessLocalFs]], used by the streaming checkpoint). */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  import ForklessRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val file = pathToFile(p).toPath
    if ((mode & ~RwxBits) != 0 || specialDir(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(mode))
    ()
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForklessRawLocalFileSystem {
  private val RwxBits = 0x1ff      // 0777
  private val SetIdBits = 0xc00    // 06000
  private val TypeBits = 0xf000    // S_IFMT
  private val DirType = 0x4000     // S_IFDIR

  /** OWNER_READ (0400) down to OTHERS_EXECUTE (0001), in bit order. */
  private val Perms = PosixFilePermission.values.toSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Perms.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(perm)
    }
    s
  }

  /** A directory with setuid/setgid bits, which `chmod` keeps. */
  private def specialDir(file: java.nio.file.Path): Boolean = {
    val m = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (m & TypeBits) == DirType && (m & SetIdBits) != 0
  }
}

/** The checksummed `FileSystem` (`fs.file.impl`) over
  * [[ForklessRawLocalFileSystem]]. */
class ForklessLocalFileSystem
    extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The raw `FileContext` file system: what Hadoop's `RawLocalFs` is, over
  * [[ForklessRawLocalFileSystem]] (`RawLocalFs` hard-codes the stock
  * one). */
class ForklessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` file system
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`. Hadoop
  * instantiates it through its (URI, Configuration) constructor; like
  * `LocalFs`, it is always `file:///`. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(conf))
