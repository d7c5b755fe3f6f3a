package graft.table

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] answers like the stock local filesystem, and it is the one
  * every Hadoop configuration of this classpath uses, `.crc` checks
  * included.
  */
class LocalFsSpec extends AnyFunSuite with SparkSuite {

  private def tmpDir(tag: String) = Files.createTempDirectory(s"graft-$tag")

  /** (stock, java.nio) raw filesystems under one Hadoop umask. */
  private def pair(umask: String = "022"): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val stock = new RawLocalFileSystem
    val nio = new LocalFs.NioRawLocalFs
    Seq(stock, nio).foreach(_.initialize(URI.create("file:///"), conf))
    (stock, nio)
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
     s.getPermission, s.getOwner, s.getGroup, s.getBlockSize, s.getReplication)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("getFileStatus agrees with RawLocalFileSystem on a file, a dir and a symlink") {
    val (stock, nio) = pair()
    val d = tmpDir("lfs-stat")
    val file = Files.writeString(d.resolve("f.bin"), "x" * 1234)
    val dir = Files.createDirectory(d.resolve("sub"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    Files.setPosixFilePermissions(file,
      java.nio.file.attribute.PosixFilePermissions.fromString("rw-r-----"))
    for (p <- Seq(file, dir, link)) {
      val hp = new Path(p.toUri)
      assert(fields(nio.getFileStatus(hp)) == fields(stock.getFileStatus(hp)), s"at $p")
    }
    assert(nio.getFileStatus(new Path(file.toUri)).getLen == 1234L)
    // listStatus builds every child's status through getFileStatus
    def listed(fs: RawLocalFileSystem) =
      fs.listStatus(new Path(d.toUri)).map(fields).sortBy(_._1.toString).toSeq
    assert(listed(nio) == listed(stock) && listed(nio).size == 3)
  }

  test("a missing path throws FileNotFoundException") {
    val (_, nio) = pair()
    val missing = new Path(tmpDir("lfs-missing").resolve("nope").toUri)
    intercept[java.io.FileNotFoundException](nio.getFileStatus(missing))
    assert(!nio.exists(missing))
  }

  for ((umask, fileBits, dirBits) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"),
                                         ("077", "rw-------", "rwx------")))
  test(s"create and mkdirs give the stock permission bits under umask $umask") {
    val (stock, nio) = pair(umask)
    val d = tmpDir(s"lfs-umask$umask")
    def made(fs: RawLocalFileSystem, tag: String): (FsPermission, FsPermission) = {
      val f = new Path(d.resolve(s"$tag/a/f").toUri)
      fs.create(f).close()
      val sub = new Path(d.resolve(s"$tag/dir").toUri)
      assert(fs.mkdirs(sub, FsPermission.getDirDefault))
      (stock.getFileStatus(f).getPermission, stock.getFileStatus(sub).getPermission)
    }
    val want = made(stock, "stock")
    assert(made(nio, "nio") == want)
    assert(want == (FsPermission.valueOf("-" + fileBits), FsPermission.valueOf("d" + dirBits)))
  }

  test("a sticky-bit mode falls back to the stock chmod") {
    val (stock, nio) = pair()
    val dir = Files.createDirectory(tmpDir("lfs-sticky").resolve("d"))
    val hp = new Path(dir.toUri)
    nio.setPermission(hp, new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1750", 8))
    assert(nio.getFileStatus(hp).getPermission.getStickyBit)
    assert(fields(nio.getFileStatus(hp)) == fields(stock.getFileStatus(hp)))
    // without the sticky bit the java.nio path sets the mode itself
    nio.setPermission(hp, new FsPermission(Integer.parseInt("0705", 8).toShort))
    assert(mode(dir) == Integer.parseInt("0705", 8))
  }

  test("the session's file scheme is LocalFs, for FileSystem.get and getLocal") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(conf).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(conf).getRawFileSystem.isInstanceOf[LocalFs.NioRawLocalFs])
  }

  test("the shipped core-site.xml holds exactly one property: fs.file.impl") {
    val url = getClass.getClassLoader.getResource("core-site.xml")
    assert(url != null, "core-site.xml is not on the classpath")
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance
      .newDocumentBuilder.parse(url.openStream())
    val props = doc.getElementsByTagName("property")
    assert(props.getLength == 1, s"$url holds ${props.getLength} properties")
    val text = (tag: String) => doc.getElementsByTagName(tag).item(0).getTextContent.trim
    assert(text("name") == "fs.file.impl" && text("value") == classOf[LocalFs].getName)
  }

  test("committed data files carry .crc siblings and a flipped byte fails the read") {
    import spark.implicits._
    val root = tmpDir("lfs-crc")
    val t = new TierTable(root.toString, spark).init()
    t.commitOverwrite((0L until 200L).map(i => (i % 2L, i, s"row-$i")).toDF("day_epoch", "i", "s"),
                      "day_epoch")
    val files = scala.util.Using.resource(Files.walk(root.resolve("data")))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    val parquet = files.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.nonEmpty)
    for (f <- parquet)
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
    assert(t.read(Set("0")).collect().length == 100)

    val victim = parquet.find(_.toString.contains("day_epoch=1")).get
    val raf = new java.io.RandomAccessFile(victim.toFile, "rw")
    try { raf.seek(4); val b = raf.read(); raf.seek(4); raf.write(b ^ 0xff) }
    finally raf.close()
    val e = intercept[Exception](t.read(Set("1")).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
    assert(chain.exists(_.isInstanceOf[ChecksumException]),
      s"no ChecksumException in ${chain.map(_.getClass.getName)}")
  }
}
