package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** The `file:` binding of [[Sessions.tune]]: the session's `file:`
  * resolves to the `graft.fs` classes, and they leave the same files,
  * modes, statuses and checksums behind as Hadoop's own forking local
  * filesystem, which each test runs beside them. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val root = URI.create("file:///")

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private def nioFs: FileSystem = FileSystem.get(root, conf)
  private def nioFc: FileContext = FileContext.getFileContext(root, conf)
  private def stockFs(c: Configuration = conf): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, c)
    fs
  }
  private def stockFc(c: Configuration = conf): FileContext = {
    val s = new Configuration(c)
    s.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(root, s)
  }

  private def withDir[T](body: Path => T): T = {
    val d = Files.createTempDirectory("localfs-spec")
    try body(new Path(d.toUri)) finally FileUtils.deleteQuietly(d.toFile)
  }
  private def local(p: Path) = Paths.get(p.toUri)
  private def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(local(p)))
  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }
  private def readAll(in: java.io.InputStream): String =
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("file: resolves to the graft.fs classes for FileSystem and FileContext") {
    assert(nioFs.getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass === classOf[NioLocalFileSystem])
    assert(new Path("file:/tmp").getFileSystem(spark.sessionState.newHadoopConf()).getClass ===
      classOf[NioLocalFileSystem])
    assert(nioFc.getDefaultFileSystem.getClass === classOf[NioLocalFs])
  }

  test("create, mkdirs and FileContext create set the same mode bits as Hadoop's local fs") {
    for (umask <- Seq(None, Some("027"))) withDir { d =>
      val c = new Configuration(conf)
      umask.foreach(c.set("fs.permissions.umask-mode", _))
      val nio = { val fs = new NioLocalFileSystem(); fs.initialize(root, c); fs }
      def sides(name: String)(make: (FileSystem, FileContext, Path) => Unit): Unit = {
        val (a, b) = (new Path(d, s"nio-$name"), new Path(d, s"stock-$name"))
        make(nio, FileContext.getFileContext(root, c), a)
        make(stockFs(c), stockFc(c), b)
        assert(mode(a) === mode(b), s"$name under umask $umask")
      }
      sides("create")((fs, _, p) => write(fs, p, "x"))
      sides("create640")((fs, _, p) =>
        fs.create(p, new FsPermission("640"), true, 4096, 1.toShort, 1L << 25, null).close())
      sides("mkdirs")((fs, _, p) => assert(fs.mkdirs(p)))
      sides("mkdirs750/sub")((fs, _, p) => assert(fs.mkdirs(p, new FsPermission("750"))))
      sides("fc-create")((_, fc, p) =>
        fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)).close())
      sides("fc-mkdir/sub")((_, fc, p) => fc.mkdir(p, FsPermission.getDirDefault, true))
    }
  }

  test("getFileStatus and listStatus report what Files.readAttributes gives; missing paths throw") {
    withDir { d =>
      val f = new Path(d, "f")
      write(nioFs, f, "hello")
      val sticky = new Path(d, "sticky")
      nioFs.mkdirs(sticky)
      nioFs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
      for (p <- Seq(f, sticky, d)) {
        val s = nioFs.getFileStatus(p)
        val a = Files.readAttributes(local(p), classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
        assert(new FsPermission((s.getPermission.toShort & 0x1ff).toShort).toString ===
          PosixFilePermissions.toString(a.permissions))
        assert(s.getOwner === a.owner.getName)
        assert(s.getGroup === a.group.getName)
        assert(s.getLen === a.size)
        assert(s.getModificationTime === a.lastModifiedTime.toMillis)
        assert(fields(s) === fields(stockFs().getFileStatus(p)))
      }
      assert(nioFs.getFileStatus(sticky).getPermission.getStickyBit)
      assert(nioFs.listStatus(d).map(fields).toSet === stockFs().listStatus(d).map(fields).toSet)
      assert(nioFs.listStatus(f).map(fields).toSeq === stockFs().listStatus(f).map(fields).toSeq)
      val missing = new Path(d, "missing")
      intercept[FileNotFoundException](nioFs.getFileStatus(missing))
      intercept[FileNotFoundException](nioFs.listStatus(missing))
      intercept[FileNotFoundException](nioFs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](nioFc.getFileStatus(missing))
    }
  }

  test("a path under a plain file does not exist, as through Hadoop's local fs") {
    withDir { d =>
      val f = new Path(d, "f")
      write(nioFs, f, "x")
      val under = new Path(f, "_manifests")
      assert(!stockFs().exists(under))
      assert(!nioFs.exists(under))
      intercept[FileNotFoundException](nioFs.getFileStatus(under))
      intercept[FileNotFoundException](nioFc.getFileStatus(under))
    }
  }

  test("a symlink still reports isSymlink with its target") {
    withDir { d =>
      // Hadoop reads a link with `readlink` on the path's string, so only
      // a scheme-less path reports a link; a `file:` one reads as its target.
      val dir = new Path(local(d).toString)
      val target = new Path(dir, "target")
      write(nioFs, target, "payload")
      val link = new Path(dir, "link")
      Files.createSymbolicLink(local(new Path(d, "link")), local(new Path(d, "target")))
      val s = nioFs.getFileLinkStatus(link)
      assert(s.isSymlink)
      assert(s.getSymlink === nioFs.makeQualified(target))
      assert(fields(s) === fields(stockFs().getFileLinkStatus(link)))
      val c = nioFc.getFileLinkStatus(link)
      assert(c.isSymlink && c.getSymlink === stockFc().getFileLinkStatus(link).getSymlink)
      val qualified = nioFs.makeQualified(link)
      assert(fields(nioFs.getFileLinkStatus(qualified)) === fields(stockFs().getFileLinkStatus(qualified)))
      val followed = nioFs.getFileStatus(link)
      assert(!followed.isSymlink && followed.isFile && followed.getLen === 7)
    }
  }

  test(".crc files are written and one flipped data byte fails the read") {
    // FileContext's `ChecksumFs` reader does not verify, in Hadoop's own
    // `LocalFs` as well, so both files are read through the FileSystem API.
    withDir { d =>
      val viaFs = new Path(d, "fs.bin")
      write(nioFs, viaFs, "checksummed payload")
      val viaFc = new Path(d, "fc.bin")
      val out = nioFc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
      try out.write("checksummed payload".getBytes(UTF_8)) finally out.close()
      for (p <- Seq(viaFs, viaFc)) {
        assert(Files.exists(local(new Path(d, s".${p.getName}.crc"))), p)
        assert(readAll(nioFs.open(p)) === "checksummed payload")
        val raf = new RandomAccessFile(local(p).toFile, "rw")
        try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 1) } finally raf.close()
        intercept[ChecksumException](readAll(nioFs.open(p)))
      }
    }
  }

  test("a FileContext rename with OVERWRITE replaces an existing target") {
    withDir { d =>
      val (src, dst) = (new Path(d, "src"), new Path(d, "dst"))
      write(nioFs, src, "new")
      write(nioFs, dst, "old")
      intercept[FileAlreadyExistsException](nioFc.rename(src, dst))
      nioFc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!nioFs.exists(src))
      assert(readAll(nioFc.open(dst)) === "new")
      val left = Files.list(local(d))
      try assert(left.iterator.asScala.map(_.getFileName.toString).toSet === Set("dst", ".dst.crc"))
      finally left.close()
    }
  }
}
