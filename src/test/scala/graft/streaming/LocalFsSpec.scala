package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import graft.SparkSpec
import graft.dim.DimRouter
import graft.model.Envelopes
import graft.util.LocalFs

/** The engine's `file://` FileSystem: sessions resolve it, permissions land
  * with the same bits, the sticky bit still applies, checksums are still
  * written, and the store write path starts no `chmod` process. */
class LocalFsSpec extends SparkSpec {

  private def localFs: FileSystem =
    FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def octal(s: String): FsPermission =
    new FsPermission(Integer.parseInt(s, 8).toShort)

  test("file:// resolves to LocalFs in the session's Hadoop configuration") {
    assert(localFs.isInstanceOf[LocalFs], localFs.getClass.getName)
  }

  test("setPermission writes the same bits, sticky bit included") {
    val dir = Files.createTempDirectory("localfs")
    val file = dir.resolve("f")
    Files.writeString(file, "x")
    val fs = localFs
    fs.setPermission(new Path(file.toUri), octal("640"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) == "rw-r-----")
    fs.setPermission(new Path(file.toUri), octal("755"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) == "rwxr-xr-x")
    // POSIX permission sets cannot carry the sticky bit: it must still land
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    fs.setPermission(new Path(sticky.toUri), octal("1755"))
    val mode = Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    assert(mode == Integer.parseInt("1755", 8), f"mode $mode%o")
  }

  test("KeyedStore.merge into a fresh root still writes .crc siblings") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("localfs_store").resolve("t")
    KeyedStore.merge(Seq(("k1", "v1", 1L), ("k2", "v2", 1L)).toDF("k", "v", "seq"),
      dir.toString, keys = Seq("k"), seqCols = Seq("seq"))
    val walk = Files.walk(dir)
    val parquet = try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
    assert(parquet.nonEmpty)
    parquet.foreach { p =>
      val crc = p.resolveSibling("." + p.getFileName + ".crc")
      assert(Files.exists(crc), s"no checksum beside $p")
    }
  }

  test("DimRouter.applyBatch and KeyedStore.merge start no chmod process") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("localfs_jfr")
    val cdc = Envelopes.maxwell(s, sfDir())
    val cfg = Envelopes.configDim(s)
    val dump: JPath = root.resolve("rec.jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      DimRouter.applyBatch(cdc, cfg, root.resolve("dims").toString)
      KeyedStore.merge(Seq(("k1", "v1", 1L), ("k2", "v2", 1L)).toDF("k", "v", "seq"),
        root.resolve("store").toString, keys = Seq("k"), seqCols = Seq("seq"))
      rec.stop()
      rec.dump(dump)
    } finally rec.close()
    val chmods = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(_.contains("chmod")).toList
    val n = chmods.size
    assert(n == 0, s"$n chmod starts, e.g. ${chmods.take(3).mkString("; ")}")
  }
}
