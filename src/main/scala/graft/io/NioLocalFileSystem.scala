package graft.io

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.fs.{FileStatus, FileUtil, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system: Hadoop's checksummed
  * [[LocalFileSystem]] over [[NioRawLocalFileSystem]], registered as
  * `fs.file.impl` by [[graft.GraftSession.builder]].
  *
  * Without the native `libhadoop`, the stock `RawLocalFileSystem`
  * launches a process for permission work: a `chmod` for every file or
  * directory it creates, and an `ls -ld` the first time a status's
  * permission, owner or group is read — which `listFiles` does for
  * every `LocatedFileStatus` it builds. At about 15 ms per launch, a
  * sharded export with manifests spends seconds of driver time in
  * `fork`/`exec`. This file system does the same work through
  * `java.nio` system calls; `.crc` sidecars and checksum verification
  * are unchanged (they live in the [[LocalFileSystem]] wrapper). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[RawLocalFileSystem]] whose permission reads and writes never fork:
  * `setPermission` sets the mode with `Files.setPosixFilePermissions`
  * (modes above 0777 — sticky bit — fall back to the stock method,
  * which java.nio cannot express), and every status it returns loads
  * permission, owner and group lazily from the `unix:` attribute view
  * instead of parsing `ls -ld`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (mode > 0x1ff) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case _: java.nio.file.NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist") }
    new NioFileStatus(file.getPath, attrs, getDefaultBlockSize(f),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = pathToFile(f)
    if (!dir.isDirectory) Array(getFileStatus(f))
    else FileUtil.list(dir).flatMap { name =>
      // an entry removed since the listing is skipped, as the stock method does
      try Some(getFileStatus(new Path(f, new Path(null, null, name))))
      catch { case _: FileNotFoundException => None }
    }
  }
}

object NioRawLocalFileSystem {
  private val bits = Seq(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE)

  /** The `rwxrwxrwx` bits of `mode` as a java.nio permission set. */
  private[io] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) s.add(b) }
    s
  }
}

/** A local file's status whose permission, owner and group are read
  * from the `unix:` attribute view on first use. The file's path is
  * kept as a string so the status stays serializable. */
private final class NioFileStatus(local: String, attrs: BasicFileAttributes,
    blockSize: Long, qualified: Path)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
      null, null, null, qualified) {

  @volatile private var loaded = false

  private def load(): Unit = synchronized {
    if (!loaded) {
      val a = Files.readAttributes(Paths.get(local), "unix:mode,owner,group")
      // 0x3ff = the sticky bit plus rwxrwxrwx, the bits FsPermission holds
      super.setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
      super.setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      super.setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      loaded = true
    }
  }

  override def getPermission: FsPermission = { if (!loaded) load(); super.getPermission }
  override def getOwner: String = { if (!loaded) load(); super.getOwner }
  override def getGroup: String = { if (!loaded) load(); super.getGroup }
}
