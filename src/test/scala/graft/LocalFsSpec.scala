package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.{Event, EventStreams}

/** JFR event the fork probe commits to know the recording has caught up. */
@jdk.jfr.Name("graft.ForkProbeMarker")
final class ForkProbeMarker extends jdk.jfr.Event

/** The fork-free local FS (sources/LocalFs.scala): parity with Hadoop's
  * `RawLocalFileSystem` on permission bits and link status, and no child
  * process on the session's checkpoint, state-store and sink paths. */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private val local = URI.create("file:///")

  /** Hadoop's FS and graft's over one conf, with a non-default umask. */
  private def pair(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val hadoop = new RawLocalFileSystem
    val graft = new NioRawLocalFileSystem
    hadoop.initialize(local, conf)
    graft.initialize(local, conf)
    (hadoop, graft)
  }

  private def tmp(prefix: String): File = Files.createTempDirectory(prefix).toFile

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Integer] & 0xfff

  private def fields(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
     if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
     s.getPermission, s.getOwner, s.getGroup)

  test("permission bits after create, mkdirs and setPermission match Hadoop's") {
    val (hadoop, graft) = pair()
    val root = tmp("graft-localfs-perm")
    def made(fs: FileSystem, name: String): (File, File) = {
      val base = new File(root, name)
      val file = new File(base, "f")
      val dir = new File(base, "d")
      fs.create(new Path(file.getPath), perm("666"), false, 4096,
        1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(new Path(dir.getPath), perm("777")))
      (file, dir)
    }
    val (hf, hd) = made(hadoop, "hadoop")
    val (gf, gd) = made(graft, "graft")
    assert(mode(gf) === Integer.parseInt("640", 8)) // umask 027 applied
    assert(mode(gf) === mode(hf))
    assert(mode(gd) === mode(hd))
    for (m <- Seq("000", "400", "644", "600", "750", "755", "777", "1777")) {
      Seq(hadoop -> hd, graft -> gd).foreach { case (fs, d) =>
        fs.setPermission(new Path(d.getPath), perm(m)) }
      Seq(hadoop -> hf, graft -> gf).foreach { case (fs, f) =>
        fs.setPermission(new Path(f.getPath), perm(m.takeRight(3))) }
      assert(mode(gd) === Integer.parseInt(m, 8), m)
      assert(mode(gd) === mode(hd), m)
      assert(mode(gf) === mode(hf), m)
      assert(Files.getPosixFilePermissions(gf.toPath) === Files.getPosixFilePermissions(hf.toPath))
    }
  }

  test("sticky-bit directory keeps Hadoop's chmod path") {
    val (_, graft) = pair()
    val d = tmp("graft-localfs-sticky")
    graft.setPermission(new Path(d.getPath), perm("1770"))
    assert(mode(d) === Integer.parseInt("1770", 8))
    assert(graft.getFileStatus(new Path(d.getPath)).getPermission.getStickyBit)
  }

  test("getFileLinkStatus matches Hadoop's for files, dirs, symlinks and missing paths") {
    val (hadoop, graft) = pair()
    val root = tmp("graft-localfs-link")
    val file = new File(root, "file")
    Files.write(file.toPath, "abc".getBytes)
    val dir = new File(root, "dir")
    assert(dir.mkdir())
    val link = Files.createSymbolicLink(Paths.get(root.getPath, "link"), file.toPath).toFile
    val dangling = Files.createSymbolicLink(Paths.get(root.getPath, "dangling"),
      Paths.get(root.getPath, "gone")).toFile
    for (f <- Seq(file, dir, link, dangling)) {
      val p = new Path(f.getPath)
      assert(fields(graft.getFileLinkStatus(p)) === fields(hadoop.getFileLinkStatus(p)), f)
    }
    val ls = graft.getFileLinkStatus(new Path(link.getPath))
    assert(ls.isSymlink && ls.getSymlink === new Path("file:" + file.getPath))
    assert(graft.getFileLinkStatus(new Path(dangling.getPath)).isSymlink)
    assert(!graft.getFileLinkStatus(new Path(file.getPath)).isSymlink)
    val missing = new Path(new File(root, "missing").getPath)
    intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
    intercept[FileNotFoundException](graft.getFileLinkStatus(missing))
  }

  test("checksummed FS writes .crc files and renames like the default file:// class") {
    val conf = new Configuration()
    val default = FileSystem.getFileSystemClass("file", conf).getDeclaredConstructor().newInstance()
    val graft = new NioLocalFileSystem
    default.initialize(local, conf)
    graft.initialize(local, conf)
    val root = tmp("graft-localfs-rename")
    for ((fs, name) <- Seq(default -> "default", graft -> "graft")) {
      def p(f: String) = new Path(new File(root, s"$name-$f").getPath)
      for (f <- Seq("a", "b", "c")) {
        val out = fs.create(p(f))
        out.writeBytes(f)
        out.close()
      }
      assert(new File(root, s".$name-a.crc").isFile)
      assert(fs.rename(p("a"), p("moved")))
      assert(new File(root, s".$name-moved.crc").isFile)
    }
    // onto an existing file: the same outcome and the same files left
    assert(graft.rename(new Path(new File(root, "graft-b").getPath),
      new Path(new File(root, "graft-c").getPath)) ===
      default.rename(new Path(new File(root, "default-b").getPath),
        new Path(new File(root, "default-c").getPath)))
    val names = root.list.toSet
    assert(names.filter(_.contains("graft")).map(_.replace("graft", "default")) ===
      names.filter(_.contains("default")))
  }

  test("session resolves file:// to the graft FS and its checkpoint, state and sink writes fork nothing") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // FileSystem instances are cached JVM-wide by scheme, so resolve through
    // the session's own Hadoop conf to catch a wiring mistake
    val hconf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(local, hconf).getClass === classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(local, hconf).getClass === classOf[NioLocalFs])
    // one-time host probes in class initializers, not per file: Hadoop's
    // Shell runs `setsid`, Spark's executor-metrics getter `getconf PAGESIZE`
    Seq("org.apache.hadoop.util.Shell", "org.apache.spark.executor.ProcfsMetricsGetter$")
      .foreach(Class.forName)

    val ck = tmp("graft-localfs-ck")
    val out = new File(tmp("graft-localfs-sink"), "parquet").getPath
    val base = 1704067200000L
    def ev(id: Long, minutes: Long, user: Long): Event =
      Event(id, new Timestamp(base + minutes * 60000L), user, "click", 1.0, "{}")

    val forks = new ConcurrentLinkedQueue[String]
    val markers = new Semaphore(0)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[ForkProbeMarker])
      rs.onEvent("jdk.ProcessStart", e => forks.add(e.getString("command")))
      rs.onEvent("graft.ForkProbeMarker", _ => markers.release())
      rs.startAsync()
      def sync(): Unit = {
        new ForkProbeMarker().commit()
        assert(markers.tryAcquire(60, TimeUnit.SECONDS), "JFR marker not delivered")
      }
      sync()
      val in = MemoryStream[Event]
      val q = EventStreams.sessionizeWithState(in.toDS(), gapMs = 30 * 60000L)
        .writeStream.outputMode("append").format("memory").queryName("localfs_forks")
        .option("checkpointLocation", ck.getPath).start()
      try {
        for ((id, minutes, user) <- Seq((1L, 0L, 7L), (2L, 60L, 7L), (3L, 300L, 9L))) {
          in.addData(ev(id, minutes, user))
          q.processAllAvailable()
        }
        assert(q.recentProgress.count(_.numInputRows > 0) === 3)
        assert(spark.table("localfs_forks").count() === 2)
      } finally q.stop()
      spark.range(100).write.parquet(out)
      sync()
    } finally rs.close()

    assert(forks.isEmpty, forks.asScala.mkString("; "))
    assert(spark.read.parquet(out).count() === 100)
    // checksums are still written beside checkpoint and sink files
    for (dir <- Seq(ck.toPath, Paths.get(out)))
      assert(Files.walk(dir).iterator.asScala.exists(_.getFileName.toString.endsWith(".crc")), dir)
  }
}
