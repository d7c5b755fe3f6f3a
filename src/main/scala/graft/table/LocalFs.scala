package graft.table

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file` scheme of every Hadoop `Configuration` built from this
  * classpath: `src/main/resources/core-site.xml` sets `fs.file.impl` to
  * this class, so Spark's writer, committer and file index, and
  * `FileSystem.getLocal`, all get it without a session setting.
  *
  * It is Hadoop's checksummed [[LocalFileSystem]] — every data file still
  * gets a `.crc` sibling that is verified on read — over a
  * [[RawLocalFileSystem]] that does not fork. Without libhadoop the stock
  * raw FS forks `chmod` for every create and mkdir, and a command that
  * reads the permission, owner and group of every file status (and so of
  * every child `listStatus` returns); a table commit makes hundreds of
  * those calls. Here each is one syscall through java.nio, with the
  * stock results.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.NioRawLocalFs)

object LocalFs {

  /** [[RawLocalFileSystem]] with its two forking calls done in-process.
    * Anything the fast path does not model (a sticky-bit mode, a non-Unix
    * filesystem, an error other than a missing path) goes to the stock
    * implementation, so the results never differ, only the cost.
    */
  private[table] final class NioRawLocalFs extends RawLocalFileSystem {

    /** `chmod` as a syscall; java.nio cannot set the sticky bit. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

    /** One `stat(2)` following links. The stock status reads the same
      * fields, but forks a shell command for permission, owner and group
      * the first time any of them is asked for (and `LocatedFileStatus`,
      * which Spark's file listing builds, asks for all three).
      */
    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath,
                "unix:mode,size,isDirectory,lastModifiedTime,lastAccessTime,owner,group")
        catch {
          case _: NoSuchFileException =>
            throw new FileNotFoundException(s"File $f does not exist")
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            return super.getFileStatus(f)
        }
      new FileStatus(a.get("size").asInstanceOf[Long],
        a.get("isDirectory").asInstanceOf[Boolean], 1, getDefaultBlockSize(f),
        a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
        a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0xfff).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }
  }
}
