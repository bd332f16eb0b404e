package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The `file:` FileSystem GraftSession installs behaves as Hadoop's
  * stock LocalFileSystem: same mode bits, same checksum sidecars. */
class LocalFsSpec extends SparkSpec {

  private def oct(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def rwx(p: String) = PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))
  // the full mode, sticky bit included (nio's rwx view has no sticky bit)
  private def mode(p: String) =
    Integer.toOctalString(Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff)
  private def nioFs(conf: Configuration = spark.sparkContext.hadoopConfiguration) = {
    val fs = new NioLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("the session's file: FileSystem and checkpoint manager are the library's") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getFileSystemClass("file", hc) === classOf[NioLocalFileSystem])
    assert(new Path("file:/tmp").getFileSystem(hc).getClass === classOf[NioLocalFileSystem])
    // the getLocal cast Spark and Hadoop rely on still holds
    assert(FileSystem.getLocal(hc).isInstanceOf[LocalFileSystem])
    val ckpt = new Path(tmpDir("localfs-ckpt"))
    assert(CheckpointFileManager.create(ckpt, spark.sessionState.newHadoopConf())
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("create and mkdirs give the mode bits the stock LocalFileSystem gives") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    // not the process umask, so a create that skipped its chmod shows
    conf.set("fs.permissions.umask-mode", "027")
    val root = tmpDir("localfs-modes")
    def make(fs: FileSystem, tag: String): Seq[(String, String)] = {
      val d = s"$root/$tag"
      fs.create(new Path(s"file:$d/a/b.txt")).close()
      fs.create(new Path(s"file:$d/c.txt"), oct("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(s"file:$d/plain"))
      fs.mkdirs(new Path(s"file:$d/moded"), oct("750"))
      Seq("a", "a/b.txt", "a/.b.txt.crc", "c.txt", ".c.txt.crc", "plain", "moded")
        .map(r => r -> mode(s"$d/$r"))
    }
    val stock = new LocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    val nio = make(nioFs(conf), "nio")
    assert(nio === make(stock, "stock"))
    assert(nio.toMap.apply("a/b.txt") === "640")
  }

  test("setPermission 0600, 0750, 0777 read back; 01777 takes the stock path") {
    val fs = nioFs()
    val root = tmpDir("localfs-perm")
    val f = s"$root/f"
    fs.create(new Path(s"file:$f")).close()
    for ((m, want) <- Seq("600" -> "rw-------", "750" -> "rwxr-x---", "777" -> "rwxrwxrwx")) {
      fs.setPermission(new Path(s"file:$f"), oct(m))
      assert(rwx(f) === want, s"mode $m")
    }
    val d = s"$root/d"
    fs.mkdirs(new Path(s"file:$d"))
    fs.setPermission(new Path(s"file:$d"), oct("1777"))
    assert(mode(d) === "1777")
    fs.setPermission(new Path(s"file:$d"), oct("700"))
    assert(mode(d) === "700")
  }

  test("a .crc sidecar is written and a flipped data byte fails the read") {
    val fs = nioFs()
    val f = s"${tmpDir("localfs-crc")}/data.bin"
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val out = fs.create(new Path(s"file:$f"))
    try out.write(bytes) finally out.close()
    assert(Files.exists(Paths.get(f).resolveSibling(".data.bin.crc")))
    def readBack(): Array[Byte] = {
      val in = fs.open(new Path(s"file:$f"))
      val got = new Array[Byte](bytes.length)
      try in.readFully(got) finally in.close()
      got
    }
    assert(readBack().sameElements(bytes))
    val raw = Files.readAllBytes(Paths.get(f))
    raw(1000) = (raw(1000) ^ 0xff).toByte
    Files.write(Paths.get(f), raw)
    intercept[ChecksumException](readBack())
  }
}
