package graft.io

import java.net.URI
import java.nio.file.{Files, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** The engine's `file:` file system against Hadoop's stock one: same
  * modes, owners and groups through every status path, sticky bits kept,
  * `.crc` sidecars still written and verified, and registered in every
  * [[graft.GraftSession]]. */
class LocalFsSpec extends SparkSpec {

  private val conf = new Configuration()
  private def init(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def root(): Path =
    new Path(Files.createTempDirectory("localfs").toUri)

  private def facts(st: FileStatus) =
    (st.getPath.getName, st.isDirectory, st.getLen, st.getPermission, st.getOwner, st.getGroup)

  private def listed(fs: FileSystem, dir: Path): Seq[(String, Boolean, Long, FsPermission, String, String)] = {
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[(String, Boolean, Long, FsPermission, String, String)]
    while (it.hasNext) out += facts(it.next())
    out.result().sortBy(_._1)
  }

  test("files and dirs made by either class read the same through every status path") {
    val base = root()
    // the same tree made once by each class: plain creates, an explicit
    // create mode and an explicit directory mode
    for ((fs, tag) <- Seq(stock -> "stock", nio -> "nio")) {
      val dir = new Path(base, tag)
      assert(fs.mkdirs(dir))
      fs.create(new Path(dir, "plain"), true).close()
      FileSystem.create(fs, new Path(dir, "mode640"), new FsPermission("640")).close()
      assert(fs.mkdirs(new Path(dir, "sub"), new FsPermission("750")))
      val out = fs.create(new Path(dir, "sub/data"), true)
      out.write(Array[Byte](1, 2, 3)); out.close()
    }
    val names = Seq("plain", "mode640", "sub", "sub/data")
    for (n <- names) {
      val want = facts(stock.getFileStatus(new Path(base, s"stock/$n")))
      // what each class made, read back by each class
      assert(facts(stock.getFileStatus(new Path(base, s"nio/$n"))) == want, n)
      assert(facts(nio.getFileStatus(new Path(base, s"nio/$n"))) == want, n)
      assert(facts(nio.getFileStatus(new Path(base, s"stock/$n"))) == want, n)
    }
    assert(nio.getFileStatus(new Path(base, "nio/mode640")).getPermission ==
      new FsPermission("640"))
    for (tag <- Seq("stock", "nio")) {
      val dir = new Path(base, tag)
      assert(nio.listStatus(dir).map(facts).sortBy(_._1).toSeq ==
        stock.listStatus(dir).map(facts).sortBy(_._1).toSeq)
      // listStatus of a file is the file's own status
      assert(nio.listStatus(new Path(dir, "plain")).map(facts).toSeq ==
        Seq(facts(stock.getFileStatus(new Path(dir, "plain")))))
      assert(listed(nio, dir) == listed(stock, dir))
      assert(listed(nio, dir).size == 3)
    }
    intercept[java.io.FileNotFoundException](nio.getFileStatus(new Path(base, "absent")))
    intercept[java.io.FileNotFoundException](nio.listStatus(new Path(base, "absent")))
  }

  test("a sticky-bit directory keeps its bit") {
    val dir = new Path(root(), "sticky")
    assert(nio.mkdirs(dir))
    nio.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val got = nio.getFileStatus(dir).getPermission
    assert(got.getStickyBit && got.toShort == Integer.parseInt("1777", 8))
    assert(got == stock.getFileStatus(dir).getPermission)
    // and a later plain mode clears it again, through java.nio
    nio.setPermission(dir, new FsPermission("755"))
    assert(!nio.getFileStatus(dir).getPermission.getStickyBit)
    assert(stock.getFileStatus(dir).getPermission == new FsPermission("755"))
  }

  test(".crc sidecars are still written and a corrupted one still raises") {
    val lfs = init(new NioLocalFileSystem)
    val f = new Path(root(), "checked")
    val out = lfs.create(f, true)
    out.write(Array.fill[Byte](4096)(7)); out.close()
    val crc = new java.io.File(new java.io.File(f.toUri).getParent, ".checked.crc")
    assert(crc.isFile && crc.length > 0, "no .crc sidecar written")
    // flip one data byte, length unchanged: the checksum must catch it
    val ch = Files.newByteChannel(new java.io.File(f.toUri).toPath, StandardOpenOption.WRITE)
    try { ch.position(100); ch.write(java.nio.ByteBuffer.wrap(Array[Byte](8))) } finally ch.close()
    intercept[ChecksumException] {
      val in = lfs.open(f)
      try in.readFully(new Array[Byte](4096)) finally in.close()
    }
  }

  test("inside a GraftSession the file: scheme is the engine class") {
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hconf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hconf).getRaw.getClass == classOf[NioRawLocalFileSystem])
  }
}
