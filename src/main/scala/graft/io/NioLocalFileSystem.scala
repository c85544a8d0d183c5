package graft.io

import java.io.FileNotFoundException
import java.nio.file.{FileSystems, Files, NoSuchFileException, Path => JPath}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local FileSystem (`.crc` files and all) over
  * [[NioRawLocalFileSystem]]: the `file:` implementation graft's sessions
  * register (`fs.file.impl`, see [[graft.plans.SessionDefaults]]). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's RawLocalFileSystem without its shell fallbacks.
  *
  * Without the native-hadoop library (`NativeIO` unavailable — the stock
  * Spark distribution on Linux ships none), RawLocalFileSystem forks
  * `chmod` for every file, `.crc` file and directory a write creates, and
  * `ls -ld` the first time anything reads a status's permission, owner or
  * group (LocatedFileStatus copies all three, so every listed file pays).
  * Here both go through `java.nio` in-process, with the same result:
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`; a mode with a sticky bit, which NIO
  *    cannot set, still goes to the stock path;
  *  - `getFileStatus` / `listStatus` read the mode, owner and group once
  *    per status from the JDK's `unix` attribute view (the POSIX view plus
  *    the full mode word, so a sticky bit reads back as `ls -ld` shows
  *    it).
  * With NativeIO present, or on a platform without the `unix` view, every
  * call is the stock one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (stock || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's declaration order is OWNER_READ (0400) down
      // to OTHERS_EXECUTE (0001): ordinal i is bit 0400 >> i
      val bits = new java.util.HashSet[PosixFilePermission]
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b))
      nio(p)(Files.setPosixFilePermissions(_, bits))
    }
  }

  override def getFileStatus(f: Path): FileStatus = withNioPermission(super.getFileStatus(f))

  /** `super.listStatus` reads a directory's entries through
    * [[getFileStatus]] (already converted: a plain FileStatus) but builds
    * the status of a listed plain file itself. */
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(st => if (st.getClass == classOf[FileStatus]) st else withNioPermission(st))

  private def withNioPermission(st: FileStatus): FileStatus =
    if (stock) st
    else {
      val a = nio(st.getPath)(Files.readAttributes(_, "unix:mode,owner,group"))
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime,
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0xfff).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        st.getPath)
    }

  /** `body` on the local path of `p`; a path that vanished raises what the
    * stock calls raise, FileNotFoundException, which listings skip. */
  private def nio[T](p: Path)(body: JPath => T): T =
    try body(pathToFile(p).toPath)
    catch { case e: NoSuchFileException =>
      throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
    }
}

object NioRawLocalFileSystem {
  /** True where the stock calls need no shell, or NIO cannot stand in. */
  val stock: Boolean =
    NativeIO.isAvailable || !FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}
