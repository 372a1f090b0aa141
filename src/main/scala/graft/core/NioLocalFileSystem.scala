package graft.core

import java.io.{File, IOException, UncheckedIOException}
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, UserPrincipal}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem without a process per file.
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem` sets a mode by
  * running `chmod` (once per created file, `.crc` sibling and new dir)
  * and reads one by running `ls -ld` (once per status whose permission,
  * owner or group is asked for — every `listFiles` entry, through
  * `LocatedFileStatus`). Each is an OS process of a few milliseconds.
  * This class keeps every byte, path and checksum of the stock
  * `LocalFileSystem` and replaces only those two forks with the JDK's
  * `unix` attribute view: one `chmod(2)` and one `lstat(2)` in process.
  *
  * Parity with the forks: a set mode carries the sticky bit, and a
  * directory keeps its setuid/setgid bits, as GNU `chmod 0755` does; a
  * read mode is `ls -ld`'s — the rwx bits plus the sticky bit of the
  * entry itself, a symlink not followed — and owner and group are the
  * names `ls` prints (the numeric id when the id has no name). A status
  * of a file deleted before its permission is read keeps the defaults,
  * as the stock status does. On a JDK without the `unix` view the stock
  * behaviour is kept.
  *
  * [[Warehouse]] uses it for a `file:` root unless the session registered
  * its own `fs.file.impl` ([[Warehouse.localIoOptions]]).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  private val UnixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // st_mode bits: the file type (S_IFMT) and a dir's type (S_IFDIR), the
  // set-id bits (S_ISUID | S_ISGID), and what `ls -ld` shows (rwx, sticky)
  private val TypeBits = 0xf000
  private val DirType = 0x4000
  private val SetIdBits = 0xc00
  private val LsBits = 0x3ff

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (!UnixView) super.setPermission(p, perm)
      else {
        val f = pathToFile(p).toPath
        val mode: Int = Files.getAttribute(f, "unix:mode").asInstanceOf[Integer]
        val kept = if ((mode & TypeBits) == DirType) mode & SetIdBits else 0
        Files.setAttribute(f, "unix:mode", Int.box(perm.toShort | kept))
        ()
      }

    override def getFileStatus(f: Path): FileStatus =
      lazyOwnership(super.getFileStatus(f))

    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(lazyOwnership)

    private def lazyOwnership(st: FileStatus): FileStatus = st match {
      case s: LazyStatus => s
      case s if UnixView => new LazyStatus(s)
      case s => s
    }
  }

  /** A status whose permission, owner and group load on first use from
    * one `lstat`. Every other field is the stock status's.
    */
  private final class LazyStatus(st: FileStatus)
      extends FileStatus(st.getLen, st.isDirectory, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        null, null, null, st.getPath) {
    private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        try {
          val a = Files.readAttributes(new File(getPath.toUri).toPath,
            "unix:mode,owner,group", LinkOption.NOFOLLOW_LINKS)
          setPermission(new FsPermission(
            (a.get("mode").asInstanceOf[Integer] & LsBits).toShort))
          setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
          setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        } catch {
          case _: NoSuchFileException => ()
          case e: IOException => throw new UncheckedIOException(e)
        }
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
