package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with permission and stat calls made through
  * `java.nio` instead of forked commands.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod` for
  * every `setPermission` (so every `create` or `mkdirs` with a permission),
  * `ls -ld` for the permission, owner and group of every `FileStatus` it
  * hands out, and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on source and target. Each fork costs
  * milliseconds from a large JVM, and a streaming trigger writes several
  * such files. Here the same results come from `stat`/`chmod`/`readlink`
  * system calls; the statuses are filled eagerly and carry the same fields
  * the stock class reports.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** POSIX permission sets cannot carry the sticky bit, so a sticky mode
    * takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else nio(p)(Files.setPosixFilePermissions(_, NioRawLocalFileSystem.posixSet(permission)))

  override def getFileStatus(p: Path): FileStatus = status(p, attributes(p))

  override def getFileLinkStatus(p: Path): FileStatus = {
    val fi = linkStatus(p)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(p: Path): Path = linkStatus(p).getSymlink

  /** Runs `op` on the local path of `p`; a path that cannot be stat'ed is
    * missing, as `java.io.File.exists` (the stock check) reports it. */
  private def nio[A](p: Path)(op: java.nio.file.Path => A): A =
    try op(pathToFile(p).toPath)
    catch {
      case e: FileSystemException =>
        throw new FileNotFoundException(s"File $p does not exist").initCause(e)
    }

  /** `p`'s attributes, following symlinks unless `NOFOLLOW_LINKS` is given. */
  private def attributes(p: Path, opts: LinkOption*): PosixFileAttributes =
    nio(p)(Files.readAttributes(_, classOf[PosixFileAttributes], opts: _*))

  private def status(p: Path, a: PosixFileAttributes, opts: LinkOption*): FileStatus = nio(p) { f =>
    // "unix:mode" carries the sticky bit, which the POSIX view drops.
    val mode = Files.getAttribute(f, "unix:mode", opts: _*).asInstanceOf[Int]
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(p), a.lastModifiedTime.toMillis,
      a.lastAccessTime.toMillis, new FsPermission((mode & 0x3ff).toShort), a.owner.getName,
      a.group.getName, new Path(f.toString).makeQualified(getUri, getWorkingDirectory))
  }

  /** The stock link status: a plain path's own status; for a symlink, the
    * target's length, times and permission, not a directory, with the raw
    * link text as its (unqualified) symlink; for a dangling symlink, zeros.
    * The stock class runs `readlink` on the path's text, so behind a
    * `file:`-qualified path it sees no link; here both forms see it. */
  private def linkStatus(p: Path): FileStatus = {
    val own = attributes(p, LinkOption.NOFOLLOW_LINKS)
    if (!own.isSymbolicLink) return status(p, own, LinkOption.NOFOLLOW_LINKS)
    val target = new Path(nio(p)(Files.readSymbolicLink).toString)
    try {
      val t = status(p, attributes(p))
      new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
        t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, p)
    } catch {
      case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, p)
    }
  }
}

object NioRawLocalFileSystem {
  /** The rwx bits of `permission` as a POSIX set; the enum lists owner,
    * group, others × read, write, execute, from bit 0400 down to 0001. */
  private def posixSet(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(bit)
    }
    set
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[NioRawLocalFileSystem]]
  * (stock: `LocalFileSystem` over `RawLocalFileSystem`). With Hive on the
  * classpath the service-loaded `file:` class is Hive's
  * `ProxyLocalFileSystem`, whose `rename` refuses an existing target file
  * (returns false) where `RawLocalFileSystem` would replace it; that
  * refusal, which the FileSystem contract asks for, is kept. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The `AbstractFileSystem` (FileContext) side of [[NioRawLocalFileSystem]];
  * mirrors the stock `RawLocalFs`, whose constructors are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("AbstractFileSystem API", "") override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext filesystem
  * (stock: `LocalFs`), so streaming checkpoints keep their `.crc` files. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
