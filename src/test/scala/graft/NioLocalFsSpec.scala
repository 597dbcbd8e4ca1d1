package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs}

/** The engine's `file:` filesystem ([[graft.io.NioLocalFileSystem]] and
  * [[graft.io.NioLocalFs]]) keeps the contract of the Hadoop classes it
  * replaces: modes, checksums, the rename guard, and that sessions
  * resolve the scheme to it.
  */
class NioLocalFsSpec extends AnyFunSuite {
  private val root = URI.create("file:///")

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def init(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(root, c)
    fs
  }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("modes: 0644 files and 0755 dirs by default, 0600 and 0700 under umask 077, as Hadoop's own") {
    for ((umask, file, dir) <- Seq((None, "rw-r--r--", "rwxr-xr-x"),
                                   (Some("077"), "rw-------", "rwx------"))) {
      val c = conf(umask)
      val fc = FileContext.getFileContext(new NioLocalFs(root, c), c)
      for ((name, fs) <- Seq("nio" -> init(new NioLocalFileSystem, c),
                             "hadoop" -> init(new LocalFileSystem, c))) {
        val base = new Path(Files.createTempDirectory(s"graft-fs-$name").toUri)
        val nested = new Path(base, "a/b")
        assert(fs.mkdirs(nested), name)
        fs.create(new Path(nested, "f")).close()
        val clue = s"$name umask=$umask"
        assert(mode(new Path(base, "a")) == dir, clue)
        assert(mode(nested) == dir, clue)
        assert(mode(new Path(nested, "f")) == file, clue)
        assert(mode(new Path(nested, ".f.crc")) == file, clue)
        if (name == "nio") {
          val viaContext = new Path(base, "ctx/g")
          fc.create(viaContext, java.util.EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.createParent()).close()
          assert(mode(viaContext.getParent) == dir, clue)
          assert(mode(viaContext) == file, clue)
        }
      }
    }
  }

  test("checksums: .crc sidecars are written and a flipped data byte fails the read") {
    val fs = init(new NioLocalFileSystem, conf(None))
    val dir = new Path(Files.createTempDirectory("graft-fs-crc").toUri)
    val f = new Path(dir, "data.bin")
    val out = fs.create(f)
    try out.write(Array.tabulate[Byte](4096)(i => (i % 251).toByte))
    finally out.close()
    assert(Files.exists(Paths.get(new Path(dir, ".data.bin.crc").toUri)))
    val local = Paths.get(f.toUri)
    val bytes = Files.readAllBytes(local)
    bytes(1000) = (bytes(1000) ^ 0xff).toByte
    Files.write(local, bytes)
    val in = fs.open(f)
    try intercept[ChecksumException](in.readFully(0L, new Array[Byte](4096)))
    finally in.close()
  }

  test("rename: onto an existing file returns false and leaves both files") {
    val fs = init(new NioLocalFileSystem, conf(None))
    val dir = new Path(Files.createTempDirectory("graft-fs-mv").toUri)
    val (a, b, c) = (new Path(dir, "a"), new Path(dir, "b"), new Path(dir, "c"))
    for (p <- Seq(a, b)) {
      val out = fs.create(p)
      try out.writeUTF(p.getName) finally out.close()
    }
    assert(!fs.rename(a, b))
    val in = fs.open(b)
    try assert(in.readUTF() == "b") finally in.close()
    assert(fs.exists(a))
    assert(fs.rename(a, c) && !fs.exists(a) && fs.exists(c))
    // A non-link's link status is its plain status.
    assert(fs.getFileLinkStatus(c) == fs.getFileStatus(c))
    assert(!fs.getFileLinkStatus(c).isSymlink)
  }

  test("resolution: the session's file: scheme is the engine's, on both Hadoop APIs") {
    val spark = TestSpark.spark
    for (c <- Seq(spark.sparkContext.hadoopConfiguration,
                  spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(root, c).isInstanceOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(root, c).getDefaultFileSystem
        .isInstanceOf[NioLocalFs])
    }
  }
}
