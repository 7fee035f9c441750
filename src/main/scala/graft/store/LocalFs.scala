package graft.store

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the forked processes.
  *
  * Without `libhadoop`, `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` (so for every file it creates with a permission), and
  * its deprecated link-status path forks `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls four times per
  * rename. Both are done here with `java.nio.file` instead:
  *
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`; a permission that carries the sticky
  *    bit (or any bit above 0777) still goes to Hadoop's shell path.
  *  - `getFileLinkStatus`/`getLinkTarget` read the link with
  *    `Files.readSymbolicLink` and build the status the way Hadoop's
  *    deprecated path does. Hadoop hands `readlink` the `file:` URI
  *    string, which is never an existing path, so that path never saw a
  *    link and always returned the plain `getFileStatus`; this one reports
  *    a real symlink as one, with its target.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The unqualified link status: `getFileStatus` for a file or directory,
    * the same status carrying the target for a symlink, a bare status for
    * a dangling one.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(pathToFile(f).toPath).toString
      catch { case _: IOException => "" }
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {
  private val bits = PosixFilePermission.values() // OWNER_READ .. OTHERS_EXECUTE

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (1 << (8 - i))) != 0) s.add(bits(i))
    s
  }
}

/** `fs.file.impl`: the checksummed local `FileSystem` over the no-fork raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` and Spark's
  * checkpoint file manager use): Hadoop's `LocalFs` over the no-fork raw
  * file system.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over the no-fork raw file system. `RawLocalFs`'s
  * constructors are package-private, so its four one-line overrides are
  * repeated here.
  */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
  override def getServerDefaults() = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Scratch directories under `java.io.tmpdir` that go away with the JVM.
  * `File.deleteOnExit` only removes an empty directory, so a scratch store
  * written into one stayed behind on every run; these are deleted whole
  * by one shutdown hook. A query that returns a lazy plan over its scratch
  * files (q75, q91, q92) cannot delete them any earlier.
  */
object LocalFs {

  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => scratch.forEach(d =>
      try deleteTree(d) catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }),
      "graft-scratch-cleanup"))

  /** A new directory under `java.io.tmpdir`, deleted with its contents at JVM exit. */
  def scratchDir(prefix: String): java.nio.file.Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    scratch.add(dir)
    dir
  }

  /** Deletes `root` and everything under it; a missing `root` is a no-op. */
  def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
