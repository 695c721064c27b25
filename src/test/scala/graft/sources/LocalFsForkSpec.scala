package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.{SparkEntry, SparkSpec}

/** The local storage and streaming path writes without forking: the
  * classpath `core-site.xml` selects [[NioLocalFileSystem]] and the
  * `FileSystem`-based checkpoint manager, and the lakehouse queries start
  * no process through Hadoop's `Shell`. [[NioRawLocalFileSystem]] leaves
  * the same mode bits as the stock forked `chmod`. */
class LocalFsForkSpec extends SparkSpec {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** The `jdk.ProcessStart` events, with stacks, of every process the JVM
    * starts while `body` runs. The recording is stopped and dumped before
    * it is read, so no event arrives after the read. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def framesOf(e: RecordedEvent): Seq[(String, String)] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => (f.getMethod.getType.getName, f.getMethod.getName))

  private def classesOf(e: RecordedEvent): Seq[String] = framesOf(e).map(_._1)

  /** The command and the first frame outside the JDK and Hadoop. */
  private def describe(e: RecordedEvent): String =
    e.getString("command") + " <- " + framesOf(e).collectFirst {
      case (c, m) if !Seq("java.", "jdk.", "org.apache.hadoop.")
          .exists(c.startsWith) => s"$c.$m"
    }.getOrElse("?")

  test("the classpath core-site.xml selects the nio filesystem and the " +
      "FileSystem checkpoint manager") {
    assert(FileSystem.get(new URI("file:///"), hadoopConf)
      .isInstanceOf[NioLocalFileSystem])
    val dir = Files.createTempDirectory("graft_cfm")
    try {
      val cfm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
      assert(cfm.isInstanceOf[FileSystemBasedCheckpointFileManager],
        cfm.getClass.getName)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("q216, q219, q228 and q273 start no process through Hadoop's Shell") {
    // Shell's class initializer probes `setsid` once per JVM; that is
    // not a per-file fork, so it runs before the recording starts.
    Class.forName("org.apache.hadoop.util.Shell")
    val queries = Seq("q216_time_travel", "q219_version_feed",
      "q228_mor_delete", "q273_materialized_view")
    val events = processStarts {
      queries.foreach(q => assert(SparkEntry.queries(q)(spark, sf)
        .collect().nonEmpty, q))
    }
    val (viaShell, others) =
      events.partition(classesOf(_).contains("org.apache.hadoop.util.Shell"))
    // Spark's own forks (`rm -rf` from deleteRecursivelyUsingUnixNative,
    // `getconf`) are not the storage path's; they are counted, not failed.
    val sparkOwn =
      others.count(classesOf(_).exists(_.startsWith("org.apache.spark.")))
    assert(viaShell.isEmpty,
      s"${viaShell.size} Hadoop Shell forks (and ${others.size} others, " +
        s"$sparkOwn of them Spark's own); first: " +
        viaShell.take(5).map(describe).mkString("; "))
  }

  private def withRawFileSystems(body: (RawLocalFileSystem, RawLocalFileSystem,
      JPath) => Unit): Unit = {
    val stock = new RawLocalFileSystem
    val nio = new NioRawLocalFileSystem
    Seq(stock, nio).foreach(_.initialize(new URI("file:///"), hadoopConf))
    val dir = Files.createTempDirectory("graft_nio_chmod")
    try body(stock, nio, dir)
    finally {
      Seq(stock, nio).foreach(_.close())
      FileUtils.deleteDirectory(dir.toFile)
    }
  }

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort
  private def unixMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  test("NioRawLocalFileSystem.setPermission leaves the permissions stock " +
      "chmod leaves, on files and directories") {
    withRawFileSystems { (stock, nio, dir) =>
      for (mode <- Seq("0644", "0755", "0700", "0600", "0750");
           kind <- Seq("file", "dir")) {
        val Seq(a, b) = Seq("stock", "nio").map { side =>
          val p = dir.resolve(s"$side-$kind-$mode")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
          Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxrwxrwx"))
          p
        }
        stock.setPermission(new Path(a.toUri), new FsPermission(octal(mode)))
        nio.setPermission(new Path(b.toUri), new FsPermission(octal(mode)))
        val want = Files.getPosixFilePermissions(a)
        assert(Files.getPosixFilePermissions(b) == want, s"$kind $mode")
        assert(PosixFilePermissions.toString(want) ==
          new FsPermission(octal(mode)).toString, s"$kind $mode")
        assert(unixMode(b) == unixMode(a), s"$kind $mode")
      }
    }
  }

  test("a mode nio cannot express, or a setgid directory, takes the stock " +
      "chmod; a missing path raises an IOException") {
    withRawFileSystems { (stock, nio, dir) =>
      // sticky: the result carries 01000, which no nio permission set sets
      val sticky = Files.createDirectory(dir.resolve("sticky"))
      nio.setPermission(new Path(sticky.toUri), new FsPermission(octal("1755")))
      assert(unixMode(sticky) == octal("1755"))
      // chmod 0755 keeps a directory's setgid bit; a 9-bit chmod(2) clears it
      val Seq(a, b) = Seq("stock", "nio").map { side =>
        val p = Files.createDirectory(dir.resolve(s"setgid-$side"))
        Files.setAttribute(p, "unix:mode", Integer.valueOf(octal("2750")))
        p
      }
      stock.setPermission(new Path(a.toUri), new FsPermission(octal("0755")))
      nio.setPermission(new Path(b.toUri), new FsPermission(octal("0755")))
      assert(unixMode(b) == unixMode(a))
      assert(unixMode(b) == octal("2755"))
      intercept[IOException] {
        nio.setPermission(new Path(dir.resolve("missing").toUri),
          new FsPermission(octal("0644")))
      }
    }
  }
}
