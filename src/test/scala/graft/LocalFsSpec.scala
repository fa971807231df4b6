package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.store.LocalFs

/** `graft.store.LocalFs`, the fork-free local filesystem `Sessions`
  * installs: NIO permission and link calls that agree with Hadoop's
  * shell-backed ones, checksums still written.
  */
class LocalFsSpec extends AnyFunSuite {
  private def tmp(): java.nio.file.Path = Files.createTempDirectory("localfs")

  private def rm(dir: java.nio.file.Path): Unit = {
    import scala.reflect.io.Directory
    new Directory(dir.toFile).deleteRecursively()
    ()
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission gives the modes chmod gives; other bits go to chmod") {
    val dir = tmp()
    try {
      val nio = raw(new LocalFs.Raw)
      val shell = raw(new RawLocalFileSystem)
      for (mode <- Seq("000", "644", "700", "755")) {
        val (a, b) = (dir.resolve(s"nio$mode"), dir.resolve(s"shell$mode"))
        Files.createFile(a); Files.createFile(b)
        val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
        nio.setPermission(new Path(a.toString), perm)
        shell.setPermission(new Path(b.toString), perm)
        val got = PosixFilePermissions.toString(Files.getPosixFilePermissions(a))
        assert(got == PosixFilePermissions.toString(Files.getPosixFilePermissions(b)),
          s"mode $mode")
        assert(got == perm.toString, s"mode $mode")
      }
      // the sticky bit is outside rwx: the parent's chmod sets it
      val sticky = dir.resolve("sticky")
      Files.createDirectory(sticky)
      nio.setPermission(new Path(sticky.toString), new FsPermission("1777"))
      assert((Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & 0x200) != 0)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(sticky)) ==
        "rwxrwxrwx")
    } finally rm(dir)
  }

  test("link status of files, directories and symlinks agrees with " +
       "RawLocalFileSystem") {
    val dir = tmp()
    try {
      Files.write(dir.resolve("file"), Array.fill[Byte](37)(1))
      Files.createDirectory(dir.resolve("sub"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("rel"), Paths.get("sub"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      val nio = raw(new LocalFs.Raw)
      val shell = raw(new RawLocalFileSystem)
      // a qualified path to a dangling link fails in both: neither reads
      // a `file:` path as a link, and its target does not exist
      def view(fs: FileSystem, p: Path) = scala.util.Try {
        val st = fs.getFileLinkStatus(p)
        (st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
          st.getLen, st.isDirectory,
          if (st.isSymlink) Some(fs.getLinkTarget(p)) else None)
      }.toEither.left.map(_.getClass)
      for (name <- Seq("file", "sub", "link", "rel", "dangling");
           p <- Seq(new Path(dir.resolve(name).toString),
                    new Path(dir.resolve(name).toUri))) // unqualified, file:
        assert(view(nio, p) == view(shell, p), p)
      assert(view(nio, new Path(dir.resolve("link").toString)).exists(_._1),
        "a link reads as one")
      val missing = new Path(dir.resolve("absent").toString)
      intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(missing))
      intercept[java.io.FileNotFoundException](shell.getFileLinkStatus(missing))
    } finally rm(dir)
  }

  test("the checksummed filesystem and its FileContext twin still write " +
       ".crc files and rename them with the data") {
    val dir = tmp()
    try {
      val conf = new Configuration()
      conf.set("fs.file.impl", classOf[LocalFs].getName)
      conf.set("fs.file.impl.disable.cache", "true")
      conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Fc].getName)
      val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
      assert(fs.isInstanceOf[LocalFs])
      val out = fs.create(new Path(dir.resolve("a").toString))
      out.write(Array.fill[Byte](100)(7)); out.close()
      assert(Files.exists(dir.resolve(".a.crc")))
      assert(AbstractFileSystem.get(java.net.URI.create("file:///"), conf)
        .isInstanceOf[LocalFs.Fc])
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(conf)
      val b = new Path(dir.resolve("b").toString)
      val o2 = fc.create(b, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      o2.write(Array.fill[Byte](10)(3)); o2.close()
      assert(Files.exists(dir.resolve(".b.crc")))
      fc.rename(b, new Path(dir.resolve("c").toString),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      assert(Files.exists(dir.resolve("c")) && Files.exists(dir.resolve(".c.crc")))
      assert(!Files.exists(dir.resolve("b")) && !Files.exists(dir.resolve(".b.crc")))
      assert(Files.readAllBytes(dir.resolve("c")).toSeq == Seq.fill[Byte](10)(3))
    } finally rm(dir)
  }
}

object LocalFsSpec {
  /** Runs `body` with `spark`'s Hadoop configuration on [[LocalFs]] (the
    * keys `Sessions` sets at session start, here set at run time on the
    * shared test context, with the FileSystem cache off so no cached
    * stock instance answers).
    */
  def withLocalFs[T](spark: SparkSession)(body: => T): T = {
    val keys = Seq("fs.file.impl" -> classOf[LocalFs].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Fc].getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val conf = spark.sessionState.newHadoopConf()
      val root = java.net.URI.create("file:///")
      assert(FileSystem.get(root, conf).isInstanceOf[LocalFs])
      assert(AbstractFileSystem.get(root, conf).isInstanceOf[LocalFs.Fc])
      body
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
