package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell-outs. Without the native
  * `libhadoop`, `RawLocalFileSystem` starts a `chmod` child process on
  * every `create`/`mkdirs` and a `readlink` child on every
  * `getFileLinkStatus`, so each checkpoint log write, state-store commit
  * and Parquet commit paid several process spawns (a checkpoint
  * `createAtomic` of 200 bytes took about 63 ms, and 1-2 ms without
  * them, on a 4-core x86 VM). These two overrides do the
  * same work through `java.nio`; checksums, permission bits and rename
  * semantics are Hadoop's own. `core-site.xml` registers the wrappers
  * below for the `file:` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO, which cannot express the sticky bit: only a
    * sticky mode takes the shell path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(permission))

  /** Hadoop asks `readlink` about `new File(f.toString)` and, when that is
    * no link, returns `getFileStatus(f)`; the same test through NIO keeps
    * every answer, and a real link still gets Hadoop's own link status.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // PosixFilePermission declares OWNER_READ … OTHERS_EXECUTE in mode-bit
  // order, highest bit (0400) first
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode >> (8 - i) & 1) == 1) set.add(p)
    }
    set
  }
}

/** `file:` for the `FileSystem` API (Parquet writers, committers, file
  * stream sources): Hadoop's checksummed `LocalFileSystem` over the NIO raw
  * filesystem.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over the NIO raw filesystem
  * (Hadoop's class cannot take another raw filesystem); like it, always
  * rooted at `file:///`.
  */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` for the `FileContext` API, which Spark's checkpoint file manager
  * uses for offset, commit, source and sink logs and state-store files:
  * Hadoop's `LocalFs` (checksummed `RawLocalFs`) over the NIO raw
  * filesystem. `AbstractFileSystem.get` calls the `(URI, Configuration)`
  * constructor; the URI is always `file:///`, as in `LocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
