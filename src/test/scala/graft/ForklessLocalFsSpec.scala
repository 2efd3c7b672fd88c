package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.config.ExportConfig
import graft.operators.ExportPipeline
import graft.streaming.{Replay, StreamingExport}
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The session's local file system starts no process on the streaming ORC
  * commit path, and answers permissions and link status exactly as the
  * stock `RawLocalFileSystem` does. */
class ForklessLocalFsSpec extends SparkSpec {

  /** The `jdk.ProcessStart` events the JVM records while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Scratch.dir("graft_jfr_").resolve("process.jfr")
    rec.dump(out); rec.close()
    RecordingFile.readAllEvents(out).asScala.toSeq
  }

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int]

  private def local[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }

  test("streaming ORC catalog export starts no process; stock chmod does") {
    assert(FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForklessLocalFileSystem])
    val cfg = ExportConfig(db = "graft_test", table = "forkless_orc",
      partitionColumns = Map("FORKLESS_ORC" -> Seq("CONTINENT", "COUNTRY")))
    ExportPipeline.dropTableAndLocation(spark, "graft_test", "forkless_orc")
    // 3 ranged files (one micro-batch each), every one covering all 3 x 3
    // (continent, country) partitions
    val events = spark.range(0, 90).select(
      col("id"), concat(lit("m"), col("id")).as("msg"),
      element_at(array(lit("EU"), lit("NA"), lit("AS")),
        (col("id") % 3 + 1).cast("int")).as("continent"),
      concat(lit("c"), (col("id") / 3 % 3).cast("long")).as("country"))
    val root = Scratch.dir("graft_forkless_")
    val staged = Replay.stage(events.repartitionByRange(3, col("id")),
      root.resolve("src").toString, 3)
    val ckpt = root.resolve("ckpt").toString
    val starts = processStarts {
      Replay.drain(spark) {
        StreamingExport.exportStreamCatalog(staged.stream, "forkless_orc",
          cfg, ckpt)
      }
    }
    // JVM-wide background work may land in the window, off the commit
    // path: the driver heartbeater's one-time `getconf PAGESIZE` (executor
    // metrics) and a Cleaner thread's `rm -rf` of a garbage-collected
    // earlier session's artifact dir
    val commitPath = starts.filterNot { e =>
      val t = e.getThread("eventThread").getJavaName
      t == "driver-heartbeater" || t.startsWith("Cleaner-")
    }
    assert(commitPath.isEmpty, commitPath.mkString("\n"))
    // not vacuous: three commits (create, then two INSERT OVERWRITEs)
    // wrote a part file per (batch, continent, country)
    val commits = new File(s"$ckpt/commits").listFiles().toSeq
      .filter(_.getName.forall(_.isDigit))
    assert(commits.size >= 3, commits)
    val parts = spark.table("graft_test.forkless_orc").inputFiles
    assert(parts.count(_.endsWith(".orc")) >= 25, parts.mkString("\n"))

    // control: the stock file system's chmod is a recorded process start
    val f = Files.createFile(root.resolve("stock")).toString
    val stock = processStarts {
      new RawLocalFileSystem().setPermission(new Path(f), perm("644"))
    }
    assert(stock.nonEmpty)
  }

  test("created files and dirs get the stock file system's modes") {
    val ours = local(new ForklessRawLocalFileSystem)
    val stock = local(new RawLocalFileSystem)
    val root = Scratch.dir("graft_forkless_modes_").toFile
    for (m <- Seq("600", "640", "644", "700", "750", "755")) {
      def made(fs: RawLocalFileSystem, kind: String): Int = {
        val p = new File(root, s"$kind-$m-${fs.getClass.getSimpleName}")
        if (kind == "file")
          fs.create(new Path(p.toString), perm(m), false, 4096, 1.toShort,
            1L << 20, null).close()
        else assert(fs.mkdirs(new Path(p.toString), perm(m)))
        mode(p)
      }
      for (kind <- Seq("file", "dir"))
        assert(made(ours, kind) == made(stock, kind), s"$kind $m")
    }
    // a 01777 dir keeps its sticky bit (the stock chmod; the umask that
    // mkdirs applies would drop it, so it is set on an existing dir)
    val sticky = Seq(ours, stock).map { fs =>
      val d = new File(root, s"sticky-${fs.getClass.getSimpleName}")
      assert(d.mkdir())
      fs.setPermission(new Path(d.toString), perm("1777"))
      mode(d)
    }
    assert(sticky(0) == sticky(1) &&
      (sticky(0) & 0xfff) == Integer.parseInt("1777", 8),
      sticky.map(_.toOctalString))
    // chmod 0755 keeps a directory's setgid bit; so must we
    val setgid = Seq(ours, stock).map { fs =>
      val d = new File(root, s"setgid-${fs.getClass.getSimpleName}")
      assert(d.mkdir())
      assert(new ProcessBuilder("chmod", "2700", d.toString).start()
        .waitFor() == 0)
      fs.setPermission(new Path(d.toString), perm("755"))
      mode(d)
    }
    assert(setgid(0) == setgid(1) &&
      (setgid(0) & 0xfff) == Integer.parseInt("2755", 8),
      setgid.map(_.toOctalString))
  }

  test("getFileLinkStatus answers as the stock file system") {
    val ours = local(new ForklessRawLocalFileSystem)
    val stock = local(new RawLocalFileSystem)
    val root = Scratch.dir("graft_forkless_links_")
    val target = Files.write(root.resolve("target"), "abc".getBytes)
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"),
      root.resolve("gone"))
    def view(s: FileStatus) = (s.getPath, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.isFile, s.isDirectory,
      s.getLen)
    def status(fs: RawLocalFileSystem, p: java.nio.file.Path) =
      view(fs.getFileLinkStatus(new Path(p.toString)))

    val linked = status(ours, link)
    assert(linked == status(stock, link))
    assert(linked._2 && linked._3 == new Path(s"file:$target"), linked)
    val dangled = status(ours, dangling)
    assert(dangled == status(stock, dangling) && dangled._2, dangled)
    val plain = status(ours, target)
    assert(plain == status(stock, target) && !plain._2 && plain._6 == 3,
      plain)
    for (fs <- Seq(ours, stock))
      intercept[FileNotFoundException](status(fs, root.resolve("missing")))
  }
}
