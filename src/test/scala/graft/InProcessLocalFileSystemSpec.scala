package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[InProcessLocalFileSystem]] must leave every file and directory with
  * the mode the stock `RawLocalFileSystem` (its forked `chmod`) leaves,
  * and keep `LocalFileSystem`'s `.crc` sidecars. Each side gets a file
  * system of its own, initialized outside Hadoop's `FileSystem` cache. */
class InProcessLocalFileSystemSpec extends AnyFunSuite {

  private def init[F <: FileSystem](fs: F, conf: Configuration = new Configuration()): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  private def withTmp(prefix: String)(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** The rwx set and the whole `st_mode` (type, sticky bit and rwx). */
  private def mode(p: java.nio.file.Path) =
    (Files.getPosixFilePermissions(p), Files.getAttribute(p, "unix:mode"))

  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)

  test("setPermission matches chmod for all 512 rwx modes") {
    val (stock, ours) = (init(new RawLocalFileSystem), init(new InProcessLocalFileSystem.Raw))
    withTmp("inproc-modes") { dir =>
      val diffs = (0 until 512).flatMap { m =>
        val perm = new FsPermission(m.toShort)
        val (a, b) = (dir.resolve(s"stock-$m"), dir.resolve(s"ours-$m"))
        Files.createFile(a); Files.createFile(b)
        stock.setPermission(hpath(a), perm)
        ours.setPermission(hpath(b), perm)
        if (mode(a) == mode(b)) None else Some(f"$m%03o: ${mode(a)} vs ${mode(b)}")
      }
      assert(diffs.isEmpty, diffs.take(5))
      // the modes really differ from each other: none was dropped
      assert((0 until 512).map(m => mode(dir.resolve(s"ours-$m"))._1).toSet.size === 512)
    }
  }

  test("create under umask 027 and mkdirs(path, perm) match the stock file system") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val (stock, ours) = (init(new RawLocalFileSystem, conf), init(new InProcessLocalFileSystem.Raw, conf))
    withTmp("inproc-umask") { dir =>
      for ((fs, side) <- Seq(stock -> "stock", ours -> "ours")) {
        fs.create(hpath(dir.resolve(s"$side-file"))).close()
        assert(fs.mkdirs(hpath(dir.resolve(s"$side-dir")), new FsPermission("751")))
        assert(fs.mkdirs(hpath(dir.resolve(s"$side-open/a/b")), new FsPermission("777")))
      }
      for (name <- Seq("file", "dir", "open", "open/a", "open/a/b"))
        assert(mode(dir.resolve(s"stock-$name")) === mode(dir.resolve(s"ours-$name")), name)
      assert(Files.getAttribute(dir.resolve("ours-file"), "unix:mode") === (0x8000 | Integer.parseInt("640", 8)))
    }
  }

  test("a sticky-bit directory mode takes the chmod path and matches") {
    val (stock, ours) = (init(new RawLocalFileSystem), init(new InProcessLocalFileSystem.Raw))
    withTmp("inproc-sticky") { dir =>
      val perm = new FsPermission(Integer.parseInt("1777", 8).toShort)
      val (a, b) = (Files.createDirectory(dir.resolve("stock")), Files.createDirectory(dir.resolve("ours")))
      stock.setPermission(hpath(a), perm)
      ours.setPermission(hpath(b), perm)
      assert(mode(b) === mode(a))
      // NIO cannot set the sticky bit; only chmod leaves it
      assert((Files.getAttribute(b, "unix:mode").asInstanceOf[Int] & Integer.parseInt("1000", 8)) !== 0)
    }
  }

  test("a LocalFileSystem write still leaves its .crc sibling") {
    val fs = init(new InProcessLocalFileSystem)
    withTmp("inproc-crc") { dir =>
      val out = fs.create(hpath(dir.resolve("data")))
      out.write("payload".getBytes("UTF-8"))
      out.close()
      assert(Files.exists(dir.resolve(".data.crc")))
      val in = fs.open(hpath(dir.resolve("data")))
      try assert(new String(in.readAllBytes(), "UTF-8") === "payload") finally in.close()
      assert(Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
        === Set("data", ".data.crc"))
    }
  }

  test("the engine's sessions resolve file: to the in-process file system") {
    val spark = SparkTestSession.spark
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[InProcessLocalFileSystem])
    assert(new Path(Paths.get("/").toUri)
      .getFileSystem(org.apache.spark.sql.graftshim.Shims.newHadoopConf(spark))
      .isInstanceOf[InProcessLocalFileSystem])
  }
}
