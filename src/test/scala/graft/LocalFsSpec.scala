package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileContext,
  FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem graft sessions use: wired for both Hadoop
  * APIs, field-for-field equal to stock `RawLocalFileSystem`, and
  * still checksummed. */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(root, new Configuration()); fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  /** Every field a status carries. Stock leaves a symlink's own path
    * as given, unqualified, so paths are compared qualified. */
  private def fields(s: FileStatus) =
    (stock.makeQualified(s.getPath), s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getModificationTime, s.getAccessTime,
      s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize)

  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("a graft session resolves file: to the in-process filesystem for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("rename never replaces an existing file, as the FileSystem contract says") {
    val fs = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("localfs-rename")
    Files.write(dir.resolve("a"), "a".getBytes(UTF_8))
    Files.write(dir.resolve("b"), "b".getBytes(UTF_8))
    def p(name: String) = new Path(dir.resolve(name).toString)
    assert(!fs.rename(p("a"), p("b")))
    assert(new String(Files.readAllBytes(dir.resolve("b")), UTF_8) == "b")
    assert(fs.rename(p("a"), p("c")))
    assert(!Files.exists(dir.resolve("a")) && Files.exists(dir.resolve("c")))
  }

  test("status, link status and modes equal stock RawLocalFileSystem") {
    val dir = Files.createTempDirectory("localfs")
    Files.write(dir.resolve("f"), "hello".getBytes(UTF_8))
    Files.createDirectory(dir.resolve("d"))
    Files.createDirectory(dir.resolve("t"))
    Files.createSymbolicLink(dir.resolve("l"), Paths.get("f"))
    Files.createSymbolicLink(dir.resolve("ld"), Paths.get("d"))
    Files.createSymbolicLink(dir.resolve("x"), Paths.get("missing"))
    def p(name: String) = new Path(dir.resolve(name).toString)

    // modes set through graft read back the same through stock
    for ((name, m) <- Seq("f" -> "640", "d" -> "750", "t" -> "1777")) {
      nio.setPermission(p(name), mode(m))
      assert(stock.getFileStatus(p(name)).getPermission == mode(m), name)
    }
    for (name <- Seq("f", "d", "t", "l", "ld")) {
      assert(fields(nio.getFileStatus(p(name))) == fields(stock.getFileStatus(p(name))), name)
      assert(fields(nio.getFileLinkStatus(p(name))) == fields(stock.getFileLinkStatus(p(name))),
        name)
    }
    assert(nio.getFileLinkStatus(p("l")).isSymlink)
    assert(nio.getFileStatus(p("d")).getLen > 0) // a directory's size, as stock
    // a dangling link: no status, and a zeroed link status
    intercept[FileNotFoundException](stock.getFileStatus(p("x")))
    intercept[FileNotFoundException](nio.getFileStatus(p("x")))
    assert(fields(nio.getFileLinkStatus(p("x"))) == fields(stock.getFileLinkStatus(p("x"))))
    // a missing path
    for (fs <- Seq(stock, nio)) {
      intercept[FileNotFoundException](fs.getFileStatus(p("nope")))
      intercept[FileNotFoundException](fs.getFileLinkStatus(p("nope")))
    }
    // listing goes through the same status
    assert(nio.listStatus(new Path(dir.toString)).map(fields).toSet ==
      stock.listStatus(new Path(dir.toString)).map(fields).toSet)
  }

  test("checksums are kept: a flipped byte fails the read") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("localfs-crc")
    val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val viaFs = new Path(dir.resolve("via-fs").toString)
    val viaFc = new Path(dir.resolve("via-fc").toString)
    val fs = FileSystem.get(root, conf)
    val fc = FileContext.getFileContext(root, conf)
    val out = fs.create(viaFs); out.write(bytes); out.close()
    val out2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
    out2.write(bytes); out2.close()
    // Read back through FileContext, which verifies without side effects
    // (on a failure the FileSystem API moves the file to a `bad_files`
    // directory at the top of its mount), with and without a buffer
    // size: Spark's checkpoint file manager reads with `open(f)`.
    def readBack(open: => FSDataInputStream) = {
      val in = open
      try { val buf = new Array[Byte](bytes.length); in.readFully(buf); buf }
      finally in.close()
    }
    for (f <- Seq(viaFs, viaFc)) {
      assert(Files.exists(dir.resolve(s".${f.getName}.crc")), f)
      assert(readBack(fc.open(f, 4096)).sameElements(bytes), f)
      assert(readBack(fc.open(f)).sameElements(bytes), f)
      val raf = new RandomAccessFile(dir.resolve(f.getName).toFile, "rw")
      try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
      finally raf.close()
      intercept[ChecksumException](readBack(fc.open(f, 4096)))
      intercept[ChecksumException](readBack(fc.open(f)))
    }
  }
}
