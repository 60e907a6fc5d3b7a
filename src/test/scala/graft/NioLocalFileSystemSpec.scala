package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import graft.sources.{NioLocalFileSystem, NioRawLocalFileSystem, Tables}

/** The engine's `file:` filesystem sets permissions through `java.nio`
  * and must leave exactly what Hadoop's stock local filesystem leaves. */
class NioLocalFileSystemSpec extends SparkSpec {

  /** The filesystem a write of session `s` resolves for `file:`: the
    * context's Hadoop conf with the session's confs on top, as Spark
    * builds it for a write job. */
  private def fileFs(s: SparkSession): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    s.conf.getAll.foreach { case (k, v) => conf.set(k, v) }
    FileSystem.get(new URI("file:///"), conf)
  }

  /** Every file and directory under `root`, relative to it with write
    * UUIDs masked, and its POSIX permissions. */
  private def perms(root: JPath): Seq[(String, String)] =
    Files.walk(root).iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("an engine session's file: filesystem is the engine class") {
    val fs = fileFs(spark)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ===
      classOf[NioRawLocalFileSystem])
  }

  test("setPermission sets the exact mode, the sticky bit through super") {
    val raw = new NioRawLocalFileSystem
    raw.initialize(new URI("file:///"), new Configuration())
    val dir = Files.createTempDirectory("graft-perm-")
    val file = Files.createFile(dir.resolve("f"))
    try {
      raw.setPermission(new Path(file.toUri), new FsPermission(
        Integer.parseInt("640", 8).toShort))
      assert(mode(file) === Integer.parseInt("640", 8))
      raw.setPermission(new Path(dir.toUri), new FsPermission(
        Integer.parseInt("1750", 8).toShort))
      assert(mode(dir) === Integer.parseInt("1750", 8))
    } finally {
      Files.delete(file)
      Files.delete(dir)
    }
  }

  test("writes leave the permissions the stock local filesystem leaves") {
    // uncached filesystems, so each side sees its session's umask; 027
    // differs from the JVM's file-creation default, so a permission the
    // filesystem failed to set would show
    def session(impl: Option[Class[_]]) = {
      val s = spark.newSession()
      impl.foreach(c => s.conf.set("fs.file.impl", c.getName))
      s.conf.set("fs.file.impl.disable.cache", "true")
      s.conf.set("fs.permissions.umask-mode", "027")
      s
    }
    val engine = session(None)
    val stock = session(Some(classOf[LocalFileSystem]))
    assert(fileFs(engine).getClass === classOf[NioLocalFileSystem])
    assert(fileFs(stock).getClass === classOf[LocalFileSystem])
    val root = Files.createTempDirectory("graft-perms-")
    def write(s: SparkSession, side: String): Unit = {
      val df = s.range(40).selectExpr("id", "cast(id AS string) AS s")
        .repartition(2)
      df.write.parquet(root.resolve(s"$side/pq").toString)
      Tables.writeCsv(df, root.resolve(s"$side/csv").toString)
    }
    write(engine, "engine")
    write(stock, "stock")
    val got = perms(root.resolve("engine"))
    assert(got === perms(root.resolve("stock")))
    assert(got.map(_._1).count(_.endsWith(".crc")) >= 4, got)
    assert(got.map(_._2).toSet === Set("rw-r-----", "rwxr-x---"), got)
  }
}
