package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.TestSpark

/** The in-process local filesystem writes what Hadoop's own writes:
  * the same permission bits, `.crc` siblings and bytes, through both
  * the FileSystem and the FileContext forms, and every byte still
  * passes a Hadoop FileSystem counter.
  */
class InProcessLocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def conf = new Configuration(spark.sparkContext.hadoopConfiguration)

  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def perms(p: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p)))

  private def bytes(p: String): Seq[Byte] = Files.readAllBytes(Paths.get(p)).toSeq

  /** Every file and directory below `root`, relative, with its mode
    * and (for files) its bytes.
    */
  private def tree(root: String): Map[String, (String, Seq[Byte])] =
    Files.walk(Paths.get(root)).iterator.asScala.filterNot(_.toString == root).map { p =>
      Paths.get(root).relativize(p).toString ->
        ((perms(p.toString), if (Files.isDirectory(p)) Seq.empty[Byte] else bytes(p.toString)))
    }.toMap

  test("FileSystem writes match Hadoop's LocalFileSystem: modes, .crc siblings, bytes") {
    val base = graft.Scratch.dir("inprocess_fs_equiv")
    val payload = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    def writeAll(fs: FileSystem, root: String): Unit = {
      val out = fs.create(new Path(s"$root/sub/data.bin"))
      try out.write(payload) finally out.close()
      fs.create(new Path(s"$root/empty"), false).close()
      val ro = fs.create(new Path(s"$root/ro.bin"), new FsPermission(Integer.parseInt("640", 8).toShort),
        true, 4096, 1.toShort, 1L << 20, null)
      try ro.write(payload, 0, 100) finally ro.close()
      fs.mkdirs(new Path(s"$root/made/deep"))
      fs.mkdirs(new Path(s"$root/private"), new FsPermission(Integer.parseInt("700", 8).toShort))
      fs.setPermission(new Path(s"$root/empty"), new FsPermission(Integer.parseInt("600", 8).toShort))
      // A sticky directory: a mode NIO cannot set goes to Hadoop's code.
      fs.mkdirs(new Path(s"$root/sticky"))
      fs.setPermission(new Path(s"$root/sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert(fs.rename(new Path(s"$root/sub/data.bin"), new Path(s"$root/sub/moved.bin")))
    }
    writeAll(initialized(new InProcessLocalFileSystem), s"$base/graft")
    writeAll(initialized(new LocalFileSystem), s"$base/hadoop")
    val (ours, theirs) = (tree(s"$base/graft"), tree(s"$base/hadoop"))
    assert(ours.keySet.contains("sub/.moved.bin.crc"))
    assert(ours("sub/moved.bin")._2 === payload.toSeq)
    assert(ours("private")._1 === "rwx------" && ours("ro.bin")._1 === "rw-r-----")
    assert(ours === theirs)
    val sticky = FileSystem.getLocal(conf).getFileStatus(new Path(s"$base/graft/sticky"))
    assert(sticky.getPermission.getStickyBit)
    assert(Files.size(Paths.get(s"$base/graft/sub/moved.bin")) === payload.length.toLong)
  }

  test("FileContext writes match Hadoop's LocalFs, and the drill key selects the in-process form") {
    val base = graft.Scratch.dir("inprocess_fc_equiv")
    val payload = Array.tabulate[Byte](3000)(i => (i * 7).toByte)
    val inProcess = conf
    inProcess.set(InProcessLocalFileSystem.fileContextKey._1, InProcessLocalFileSystem.fileContextKey._2)
    def writeAll(fc: FileContext, root: String): Unit = {
      fc.mkdir(new Path(s"$root/state/0"), FsPermission.getDirDefault, true)
      val tmp = new Path(s"$root/state/0/.1.delta.tmp")
      val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(payload) finally out.close()
      fc.rename(tmp, new Path(s"$root/state/0/1.delta"), Options.Rename.OVERWRITE)
    }
    val ours = FileContext.getFileContext(URI.create("file:///"), inProcess)
    assert(ours.getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
    writeAll(ours, s"$base/graft")
    writeAll(FileContext.getFileContext(URI.create("file:///"), conf), s"$base/hadoop")
    val (a, b) = (tree(s"$base/graft"), tree(s"$base/hadoop"))
    assert(a.keySet === Set("state", "state/0", "state/0/1.delta", "state/0/.1.delta.crc"))
    assert(a("state/0/1.delta")._2 === payload.toSeq)
    assert(a === b)
  }

  test("a real symbolic link still reports its target; a plain file is its own link status") {
    val base = graft.Scratch.dir("inprocess_fs_link")
    val target = Paths.get(s"$base/target.bin")
    Files.createDirectories(target.getParent)
    Files.write(target, Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(Paths.get(s"$base/link.bin"), target)
    val ours = initialized(new InProcessLocalFileSystem)
    val theirs = initialized(new LocalFileSystem)
    val viaOurs = ours.getFileLinkStatus(new Path(link.toString))
    val viaTheirs = theirs.getFileLinkStatus(new Path(link.toString))
    assert(viaOurs.isSymlink)
    assert(viaOurs.getSymlink.toUri.getPath === target.toString)
    assert(viaOurs.getSymlink === viaTheirs.getSymlink)
    val plain = ours.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.getLen === 3L)
    assert(plain.getPath === theirs.getFileLinkStatus(new Path(target.toString)).getPath)
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(new Path(s"$base/missing")))
  }

  test("a commit's data bytes reach Hadoop's FileSystem statistics") {
    import spark.implicits._
    @annotation.nowarn("cat=deprecation")
    def written: Long = FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
    val table = graft.Scratch.dir("inprocess_fs_stats")
    val before = written
    SnapshotTable.commit((0L until 5000L).map(k => (k, k.toString * 3)).toDF("k", "s")
      .repartition(3), table, 1L)
    val after = written
    val dataBytes = SnapshotTable.listFiles(spark, table, 1L)
      .map(f => Files.size(Paths.get(new URI(f)))).sum
    assert(dataBytes > 0L)
    assert(after - before >= dataBytes,
      s"FileSystem statistics saw ${after - before} bytes written, the data files hold $dataBytes")
  }
}
