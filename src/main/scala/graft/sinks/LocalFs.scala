package graft.sinks

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem with its metadata calls made in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs a child process
  * for two calls the streaming checkpoint and the sink commit make on every
  * micro-batch: `chmod` in `setPermission` (on every `create` and `mkdirs`)
  * and `readlink` in `getFileLinkStatus`. Here `setPermission` writes the
  * mode through `java.nio.file`'s `unix` view, and `getFileLinkStatus` skips
  * the `readlink` unless the path is a symlink. Bytes on disk, `.crc` side
  * files, permission bits and rename semantics are Hadoop's own.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  // One chmod(2) with the full mode, sticky bit included. Stock runs
  // `chmod 0755`-style 4-digit modes, and GNU chmod keeps a directory's
  // setuid/setgid bits (octal 06000) under those, so a directory keeps them
  // here too; a file loses them, as under stock.
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val cur = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    val keep = if ((cur & 0xF000) == 0x4000) cur & 0xC00 else 0 // S_IFDIR
    Files.setAttribute(path, "unix:mode", Int.box(permission.toShort | keep))
  }

  // stock returns getFileStatus(f) whenever readlink finds no link target
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `AbstractFileSystem` (the `FileContext` API). Mirrors
  * `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors are
  * package-private.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `AbstractFileSystem`,
  * as `org.apache.hadoop.fs.local.LocalFs` builds it.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
