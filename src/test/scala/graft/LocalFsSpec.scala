package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.source.{LocalFs, Storage}
import graft.streaming.Streams

/** The `file://` shim: same permissions and link status as Hadoop's own
  * local file system, wired into every `GraftSession`, and no shell process
  * left on the streaming and parquet write paths. */
class LocalFsSpec extends SparkSpec {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Command lines of the processes this JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks-", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("setPermission sets chmod's mode bits; the sticky bit keeps Hadoop's path") {
    val dir = Files.createTempDirectory("graft-localfs-")
    val shim = init(new LocalFs.Raw)
    val hadoop = init(new RawLocalFileSystem)
    Seq("644", "755", "700").foreach { m =>
      val a = Files.createFile(dir.resolve(s"shim-$m"))
      val b = Files.createFile(dir.resolve(s"chmod-$m"))
      shim.setPermission(new Path(a.toString), mode(m))
      hadoop.setPermission(new Path(b.toString), mode(m))
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), s"mode $m")
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(a)) == mode(m).toString)
    }
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    shim.setPermission(new Path(sticky.toString), mode("1777"))
    val got = shim.getFileStatus(new Path(sticky.toString)).getPermission
    assert(got.getStickyBit && got.toShort == mode("1777").toShort, s"got $got")
  }

  test("getFileLinkStatus matches RawLocalFileSystem on a file and a symlink; a missing path throws") {
    val dir = Files.createTempDirectory("graft-localfs-")
    val file = Files.writeString(dir.resolve("f"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val shim = init(new LocalFs.Raw)
    val hadoop = init(new RawLocalFileSystem)
    def facts(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, if (s.isSymlink) s.getSymlink else null)
    Seq(file, link, dir).foreach { p =>
      val hp = new Path(p.toString)
      assert(facts(shim.getFileLinkStatus(hp)) == facts(hadoop.getFileLinkStatus(hp)), s"$p")
    }
    assert(shim.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(!shim.getFileLinkStatus(new Path(file.toString)).isSymlink)
    intercept[FileNotFoundException](shim.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("a GraftSession resolves file:// to the shim through FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(URI.create("file:///"), conf) match {
      case fs: LocalFs => assert(fs.getRaw.isInstanceOf[LocalFs.Raw])
      case other => fail(s"FileSystem resolved to ${other.getClass.getName}")
    }
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs.Context], afs.getClass.getName)
  }

  test("a RocksDB dedup/RSI micro-batch and a parquet save start no readlink, chmod, stat or ls") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-forks-").toString
    (0 until 40).map(i => ("S" + (i % 2), i.toLong,
        new java.sql.Timestamp(1700000000000L + i * 1000L), 100.0 + i % 7))
      .toDF("symbol", "event_id", "ts", "close")
      .coalesce(1).write.parquet(s"$base/in/b1")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "symbol STRING, event_id BIGINT, ts TIMESTAMP, close DOUBLE")
    val started = processStarts {
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(s"$base/in")
      Streams.sinkUpsert(Streams.pipelineDedupRsi(stream), s"$base/table", s"$base/ckpt",
        Seq("symbol", "event_id"), "event_id").awaitTermination(180000)
      Storage.save(spark.read.parquet(s"$base/table"), s"$base/saved")
      // control: the recording sees a process this test starts itself
      new ProcessBuilder("true").start().waitFor()
    }
    assert(spark.read.parquet(s"$base/saved").count() == 40)
    assert(started.exists(_.split(' ').head.endsWith("true")), s"control not recorded: $started")
    val shell = Set("readlink", "chmod", "stat", "ls")
    val forked = started.filter(c => shell(c.split(' ').head.split('/').last))
    assert(forked.size == 0, s"shell starts, e.g. ${forked.take(3)}")
  }
}
