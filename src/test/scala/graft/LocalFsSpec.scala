package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

import graft.util.{InProcessLocalFileSystem, InProcessLocalFs, Probes}

/** The engine's local filesystem ([[graft.util.InProcessLocalFileSystem]]):
  * the session resolves `file:` to it, it forks no process for file
  * metadata, and it leaves the same modes and link statuses on disk as
  * Hadoop's stock `LocalFileSystem`, which forks `chmod` and `readlink`. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()
  private val Sf = "/root/testdata/sf0.001"

  test("the session resolves file: to the in-process local filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[InProcessLocalFileSystem])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).isInstanceOf[InProcessLocalFs])
  }

  test("a stream run and a parquet write fork no chmod, readlink, ls or stat") {
    withTempDir("graft-localfs") { tmp =>
      val out = tmp.toString + "/out"
      val (_, forks) = Probes.forks {
        graft.streaming.Streams.streamHourly(spark, Sf).collect()
        spark.range(100).write.parquet(out)
      }
      val metadata = forks.filter { c =>
        Set("chmod", "readlink", "ls", "stat")(Paths.get(c.trim.split("\\s+").head).getFileName.toString)
      }
      assert(metadata.size === 0, s"first: ${metadata.headOption}")
    }
  }

  /** The stock filesystem and the engine's, both on `conf`. */
  private def both(conf: Configuration): Seq[FileSystem] = {
    val stock = new LocalFileSystem()
    val ours = new InProcessLocalFileSystem()
    Seq(stock, ours).map { fs => fs.initialize(URI.create("file:///"), conf); fs }
  }

  /** The full mode, sticky bit included, of a local path. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  test("modes after create and mkdirs match the stock filesystem, umask and sticky bit included") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val modes = both(conf).map { fs =>
        withTempDir("graft-localfs-mode") { dir =>
          val root = new Path(dir.toUri)
          val perms = Seq(0x1a0, 0x1ed, 0x3ed).map(m => new FsPermission(m.toShort)) // 0640, 0755, 01755
          val files = perms.zipWithIndex.map { case (perm, i) =>
            val f = new Path(root, s"f$i")
            fs.create(f, perm, true, 4096, 1.toShort, 1L << 20, null).close()
            f
          }
          val dirs = perms.zipWithIndex.map { case (perm, i) =>
            val d = new Path(root, s"d$i/sub")
            assert(fs.mkdirs(d, perm))
            d
          }
          val plain = new Path(root, "plain")
          fs.create(plain).close()
          // create and mkdirs drop a sticky bit with the umask; a direct
          // setPermission keeps it, which takes Hadoop's shell path
          val sticky = new Path(root, "sticky")
          assert(fs.mkdirs(sticky))
          fs.setPermission(sticky, new FsPermission(0x3ff.toShort)) // 01777
          (files ++ dirs :+ plain :+ new Path(root, ".plain.crc") :+ sticky).map(mode)
        }
      }
      assert(modes(0) === modes(1), s"umask $umask")
      assert(modes(1).last === 0x3ff, f"umask $umask: ${modes(1).last}%o")
    }
  }

  test("getFileLinkStatus matches the stock filesystem on links, qualified paths and files") {
    withTempDir("graft-localfs-link") { root =>
      val target = Files.write(root.resolve("target"), Array[Byte](1, 2, 3))
      val link = Files.createSymbolicLink(root.resolve("link"), target)
      def fields(s: FileStatus): Seq[Any] =
        Seq(s.getPath, s.isSymlink, s.isFile, s.isDirectory, s.getLen, s.getModificationTime) ++
          (if (s.isSymlink) Seq(s.getSymlink) else Nil)
      val paths = Seq(
        new Path(link.toString),           // a real link, unqualified: Hadoop reads it
        new Path(link.toUri),              // qualified: Hadoop's probe sees no link
        new Path(target.toString))         // a plain file
      val Seq(stock, ours) = both(new Configuration()).map(fs =>
        paths.map(p => fields(fs.getFileLinkStatus(p))))
      assert(stock === ours)
      assert(ours.head(1) === true)
      assert(ours(1)(1) === false)
    }
  }
}
