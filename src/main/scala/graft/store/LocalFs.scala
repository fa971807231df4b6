package graft.store

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem without process forks.
  *
  * Without native Hadoop, `RawLocalFileSystem` forks a `chmod` shell for
  * every permission it sets (each create and mkdir of a Spark write) and a
  * `readlink` shell for every link status (each FileContext rename of a
  * stream checkpoint). [[LocalFs.Raw]] makes both NIO calls; everything
  * else — `.crc` files, renames, statuses — is Hadoop's own code.
  * `Sessions.builder` installs this class as `fs.file.impl` and
  * [[LocalFs.Fc]] as `fs.AbstractFileSystem.file.impl`.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val rwx = attribute.PosixFilePermission.values() // owner r..others x

  /** `RawLocalFileSystem` whose `setPermission` and link status are NIO
    * calls. A mode with bits outside rwx (sticky, setuid) goes to the
    * parent's chmod.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = new java.util.HashSet[attribute.PosixFilePermission]()
        rwx.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) perms.add(rwx(i)))
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus = {
      val st = linkStatus(f)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** The parent's link status with `readlink` replaced by NIO. The link
      * is read at `new File(f.toString)`, as the parent reads it, so a
      * `file:`-qualified path never reads as a link there or here.
      */
    private def linkStatus(f: Path): FileStatus = {
      val file = new File(f.toString).toPath
      val target = if (Files.isSymbolicLink(file)) Files.readSymbolicLink(file).toString else ""
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty => // dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    }
  }

  /** The FileContext twin, laid out as Hadoop's `local.LocalFs`: a
    * `ChecksumFs` over a `DelegateToFileSystem` of [[Raw]].
    */
  class Fc(uri: URI, conf: Configuration) extends ChecksumFs(new RawFc(uri, conf))

  private class RawFc(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
