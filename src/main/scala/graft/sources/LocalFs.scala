package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's checksummed `LocalFileSystem`
  * (`.crc` siblings as before) over [[LocalFs.Raw]], which starts no
  * process. Without `libhadoop`, Hadoop's `RawLocalFileSystem` forks `chmod`
  * for every file and directory it creates and `readlink` for every
  * FileContext rename: dozens of child processes per partitioned write or
  * stream commit, and most of its time.
  *
  * A rename onto an existing file returns false and leaves both files: the
  * rule of Hive's `ProxyLocalFileSystem`, which `file:` resolves to when Hive
  * is on the classpath and the session does not install this class (Hadoop's
  * own local rename replaces the file). `GraftSession` installs it for
  * `FileSystem` (`fs.file.impl`) and FileContext
  * (`fs.AbstractFileSystem.file.impl`, [[LocalFs.Context]]). */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile
      catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

object LocalFs {
  /** Hadoop's raw local filesystem with the two calls that fork done in
    * process. */
  class Raw extends RawLocalFileSystem {
    /** The 9 permission bits through `chmod(2)`; Hadoop's own path for
      * the sticky bit, the only other bit an `FsPermission` carries. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE: bits 8 … 0
        val set = new java.util.HashSet[PosixFilePermission]()
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((bits & (0x100 >> i)) != 0) set.add(perm)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      }
    }

    /** A path that is not a symbolic link has its plain status, which is
      * what Hadoop returns after asking `readlink`. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** [[Raw]] under FileContext, checksummed as Hadoop's `local.LocalFs`.
    * FileContext's own rename refuses an existing name unless asked to
    * overwrite. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop configuration keys and values that install both classes. */
  val Conf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)
}
