package graft.store

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` file system of a graft session ([[graft.Env.session]]):
  * Hadoop's checksummed local file system over a raw one that sets and
  * reads POSIX permissions through `java.nio`. Without Hadoop's native
  * library the stock raw file system starts a `chmod` process for every
  * file and directory it creates and an `ls -ld` process for every file
  * status whose permission is read (a located listing reads them all),
  * a few milliseconds each. Modes, owners and checksum files are the
  * same as the stock file system's. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val modes = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(m => if ((bits & bit(m)) != 0) modes.add(m))
      Files.setPosixFilePermissions(pathToFile(p).toPath, modes)
    }

    override def getFileStatus(f: Path): FileStatus = new Status(super.getFileStatus(f))

    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(s => new Status(s): FileStatus)
  }

  /** The mode bit of `m`: `PosixFilePermission` lists owner, group and
    * others' read, write and execute from the highest bit down. */
  private def bit(m: PosixFilePermission): Int = 1 << (8 - m.ordinal)

  /** A raw status whose permission, owner and group are read through
    * `java.nio` when first asked for, as the stock status reads them
    * lazily through `ls -ld`. */
  private final class Status(st: FileStatus) extends FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getAccessTime,
      null, null, null, st.getPath) {
    private var loaded = false

    private def load(): Unit = if (!loaded) {
      val a = try Files.readAttributes(new java.io.File(getPath.toUri.getPath).toPath,
        classOf[PosixFileAttributes])
      catch { case e: java.io.IOException => throw new java.io.UncheckedIOException(e) }
      var bits = 0
      a.permissions.forEach(m => bits |= bit(m))
      setPermission(new FsPermission(bits.toShort))
      setOwner(a.owner.getName)
      setGroup(a.group.getName)
      loaded = true
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
