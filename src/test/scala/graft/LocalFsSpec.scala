package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** `file:` resolves to the NIO local filesystem (LocalFs.scala) and it
  * answers as Hadoop's own local filesystem does, without starting a
  * process. Hadoop's stock classes stay loadable, so each answer is
  * compared with theirs.
  */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val FileUri = new URI("file:///")

  /** The session's Hadoop conf, and a fresh `Configuration`: what a bare
    * `SparkSession.builder()` without `spark.hadoop.*` settings (the
    * benchmark harness) hands Hadoop.
    */
  private def confs: Seq[(String, Configuration)] = Seq(
    "graft.Session" -> spark.sparkContext.hadoopConfiguration,
    "bare builder" -> new Configuration())

  private def stockRaw(conf: Configuration): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(FileUri, conf)
    fs
  }

  private def withDir[T](body: JPath => T): T = {
    val d = SparkTestBase.tempDir("localfs-spec")
    try body(d) finally FileUtils.deleteQuietly(d.toFile)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def fields(s: FileStatus) = (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
    s.isDirectory, s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("file: resolves to the NIO filesystem under graft.Session and a bare builder") {
    confs.foreach { case (name, conf) =>
      assert(FileSystem.get(FileUri, conf).getClass === classOf[NioLocalFileSystem], name)
      assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[NioRawLocalFileSystem], name)
      assert(AbstractFileSystem.get(FileUri, conf).getClass === classOf[NioLocalFs], name)
    }
  }

  test("created files and dirs get the stock permissions; a sticky-bit chmod still works") {
    confs.foreach { case (name, conf) =>
      withDir { d =>
        val fs = FileSystem.getLocal(conf)
        val stock = new LocalFileSystem
        stock.initialize(FileUri, conf)
        for ((f, tag) <- Seq(fs -> "nio", stock -> "stock")) {
          f.create(new Path(s"$d/$tag/sub/file")).close()
          f.mkdirs(new Path(s"$d/$tag/dir"))
        }
        for (rel <- Seq("sub/file", "sub", "dir"))
          assert(mode(d.resolve(s"nio/$rel")) === mode(d.resolve(s"stock/$rel")), s"$name $rel")
        val umask = FsPermission.getUMask(conf)
        assert(mode(d.resolve("nio/sub/file")) === FsPermission.getFileDefault.applyUMask(umask).toShort.toInt)
        assert(mode(d.resolve("nio/dir")) === FsPermission.getDirDefault.applyUMask(umask).toShort.toInt)

        fs.setPermission(new Path(s"$d/nio/dir"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        assert(mode(d.resolve("nio/dir")) === Integer.parseInt("1777", 8), name)
        fs.setPermission(new Path(s"$d/nio/sub/file"), new FsPermission(Integer.parseInt("640", 8).toShort))
        assert(mode(d.resolve("nio/sub/file")) === Integer.parseInt("640", 8), name)
      }
    }
  }

  test("getFileLinkStatus: symlinks as stock, a regular file its getFileStatus, a missing path throws") {
    withDir { d =>
      val conf = spark.sparkContext.hadoopConfiguration
      val nio = FileSystem.getLocal(conf).getRaw
      val stock = stockRaw(conf)
      val file = Files.write(d.resolve("file"), "x".getBytes(UTF_8))
      val link = Files.createSymbolicLink(d.resolve("link"), file)
      val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      // unqualified and file:-qualified forms of each path
      def forms(p: JPath) = Seq(new Path(p.toString), new Path(p.toUri))

      // a status's fields, or the exception class it failed with
      def outcome(fs: FileSystem, p: Path) =
        scala.util.Try(fields(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)

      (forms(link) ++ forms(dangling) ++ forms(file) ++ forms(d)).foreach { p =>
        assert(outcome(nio, p) === outcome(stock, p), p)
      }
      assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
      assert(nio.getFileLinkStatus(new Path(link.toString)).getSymlink === new Path(file.toUri))
      assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
      (forms(file) ++ forms(d)).foreach { p =>
        assert(fields(nio.getFileLinkStatus(p)) === fields(nio.getFileStatus(p)), p)
      }
      forms(d.resolve("missing")).foreach(p => intercept[FileNotFoundException](nio.getFileLinkStatus(p)))
    }
  }

  test("createAtomic overwrite leaves the new content and its checksum") {
    withDir { d =>
      val conf = spark.sparkContext.hadoopConfiguration
      val cfm = CheckpointFileManager.create(new Path(d.toUri), conf)
      val target = new Path(d.resolve("log/0").toUri)
      cfm.mkdirs(target.getParent)
      for (text <- Seq("first version", "v2")) {
        val out = cfm.createAtomic(target, overwriteIfPossible = true)
        out.write(text.getBytes(UTF_8))
        out.close()
      }
      assert(Files.readString(d.resolve("log/0")) === "v2")
      assert(Files.exists(d.resolve("log/.0.crc")))
      // LocalFileSystem verifies the checksum on read
      val in = FileSystem.getLocal(conf).open(target)
      try assert(new String(in.readAllBytes(), UTF_8) === "v2") finally in.close()
      assert(Files.list(d.resolve("log")).iterator.asScala.map(_.getFileName.toString).toSet ===
        Set("0", ".0.crc"))
    }
  }

  test("checkpoint log writes, mkdirs and a Parquet write start no child process") {
    withDir { d =>
      val conf = spark.sparkContext.hadoopConfiguration
      val before = ProcessHandle.current().descendants().iterator.asScala.map(_.pid).toSet
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      @volatile var sampling = true
      val sampler = new Thread(() => while (sampling) {
        ProcessHandle.current().descendants().forEach { p =>
          if (!before(p.pid)) seen.add(s"${p.pid} ${p.info.commandLine.orElse("?")}")
        }
        Thread.sleep(1)
      })
      sampler.setDaemon(true)
      sampler.start()
      try {
        val cfm = CheckpointFileManager.create(new Path(d.toUri), conf)
        cfm.mkdirs(new Path(d.resolve("offsets").toUri))
        (0 until 50).foreach { i =>
          val out = cfm.createAtomic(new Path(d.resolve(s"offsets/${i % 5}").toUri), overwriteIfPossible = true)
          out.write(i)
          out.close()
        }
        FileSystem.getLocal(conf).mkdirs(new Path(d.resolve("a/b/c").toUri))
        spark.range(100).write.parquet(d.resolve("parquet").toString)
      } finally {
        sampling = false
        sampler.join()
      }
      assert(spark.read.parquet(d.resolve("parquet").toString).count() === 100)
      assert(seen.isEmpty, seen.asScala.toSeq.sorted.take(10).mkString("\n"))
    }
  }
}
