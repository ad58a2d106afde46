package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.sources.{PosixLocalFileSystem, ShardedParquetSink}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

/** Laws of the engine's `file:` filesystem ([[PosixLocalFileSystem]]):
  * a local dump starts no `chmod` process, and every file and directory
  * it writes carries the permissions stock Hadoop gives it.
  */
class LocalWriteSpec extends SparkSpec {

  private def fresh(name: String): String = {
    val dir = s"$testOut/$name"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    dir
  }

  /** The commands of the `chmod` processes `body` starts that name `dir`,
    * from a JFR recording of `jdk.ProcessStart` around it.
    */
  private def chmodsNaming(dir: String)(body: => Unit): Seq[String] = {
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try body
    finally recording.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      recording.dump(file)
      jdk.jfr.consumer.RecordingFile
        .readAllEvents(file)
        .asScala
        .toSeq
        .map(_.getString("command"))
        .filter(c => c.startsWith("chmod") && c.contains(dir))
    } finally {
      recording.close()
      Files.delete(file)
    }
  }

  /** Relative path (task UUIDs masked) -> `rwxr-x---` of every file and
    * directory under `root`, `root` itself included.
    */
  private def permissions(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(base)
    try
      walk.iterator.asScala.map { p =>
        base.relativize(p).toString.replaceAll(uuid, "U") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    finally walk.close()
  }

  private def frame = spark.range(0L, 400L, 1L, 4).selectExpr("id", "cast(id * 7 as string) as text")

  test("a 4-shard local write plus read-back starts no chmod process") {
    val dir = fresh("local_write_spawns")
    val chmods = chmodsNaming(dir) {
      ShardedParquetSink.write(frame, dir)
      assert(ShardedParquetSink.readBackReport(spark, dir).numFiles === 4)
    }
    assert(chmods.size === 0, chmods.mkString("\n"))
  }

  test("every file and directory written has stock LocalFileSystem's permissions") {
    // a fresh filesystem per write, so each takes this write's umask
    // (027, unlike the process's usual 022) and its fs.file.impl: the
    // engine's by default (the session's), Hadoop's stock one by option
    def write(dir: String, impl: Option[String]): Seq[String] = chmodsNaming(dir) {
      val options = Map("fs.file.impl.disable.cache" -> "true", "fs.permissions.umask-mode" -> "027") ++
        impl.map("fs.file.impl" -> _)
      frame.write.mode("overwrite").options(options).parquet(dir)
    }
    val engine = fresh("local_write_engine")
    val stock = fresh("local_write_stock")
    assert(write(engine, None).isEmpty)
    assert(write(stock, Some(classOf[org.apache.hadoop.fs.LocalFileSystem].getName)).nonEmpty)
    val written = permissions(engine)
    assert(written === permissions(stock))
    // the umask reached every entry: directories rwxr-x---, files rw-r-----
    assert(written.keySet.size === 11, written.keySet) // dir, _SUCCESS, 4 shards, 5 .crc
    written.foreach { case (p, perms) =>
      val expected = if (Files.isDirectory(Paths.get(engine, p))) "rwxr-x---" else "rw-r-----"
      assert(perms === expected, p)
    }
  }

  test("setPermission sets exactly the mode it is given, the sticky bit through Hadoop's own path") {
    val dir = fresh("local_write_modes")
    val fs = new PosixLocalFileSystem.Raw
    fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val file = new Path(dir, "f")
    fs.create(file).close()
    def modeOf(p: Path): Int = Files.getAttribute(fs.pathToFile(p).toPath, "unix:mode").asInstanceOf[Int] & 0xfff
    for (mode <- Seq(0, 0x1ff, 0x1a4, 0x1e8, 0x124, 0x92, 0x49, 0x180, 0x38, 0x7)) {
      fs.setPermission(file, new FsPermission(mode.toShort))
      assert(modeOf(file) === mode, f"mode $mode%o")
    }
    val sub = new Path(dir, "d")
    assert(fs.mkdirs(sub))
    fs.setPermission(sub, new FsPermission(0x3ed.toShort)) // 01755
    assert(modeOf(sub) === 0x3ed)
  }
}
