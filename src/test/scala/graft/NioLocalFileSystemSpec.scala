package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` file system writes the same files, `.crc`
  * files and modes as Hadoop's stock one, without forking `chmod`. */
class NioLocalFileSystemSpec extends SparkSpec {

  test("file: paths resolve to NioLocalFileSystem in every session conf") {
    val fs = new Path("file:///tmp")
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioLocalFileSystem.Raw])
  }

  test("file, .crc and directory modes equal the stock FS's") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.permissions.umask-mode", "027")
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val nio = FileSystem.newInstance(URI.create("file:///"), conf)
    assert(nio.isInstanceOf[NioLocalFileSystem])

    def mode(p: Path): Int =
      Files.getAttribute(Paths.get(p.toUri), "unix:mode")
        .asInstanceOf[Int] & 0xfff
    def layout(fs: FileSystem, root: String): Seq[Int] = {
      val dir = new Path(s"file://$root/a/b")
      assert(fs.mkdirs(dir))
      val file = new Path(dir, "part-0")
      val out = fs.create(file)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      val crc = new Path(dir, ".part-0.crc")
      val set = new Path(dir, "set")
      fs.create(set).close()
      val modes = Seq(mode(dir), mode(dir.getParent), mode(file), mode(crc))
      // explicit modes, one of them beyond the rwx bits (sticky)
      val explicit = Seq(0x1a0, 0x1c0, 0x1ff, 0x3ff).map { m =>
        fs.setPermission(set, new FsPermission(m.toShort))
        mode(set)
      }
      modes ++ explicit
    }
    try {
      val want = layout(stock, tmpDir("stockfs"))
      assert(layout(nio, tmpDir("niofs")) == want)
      assert(want.take(4) == Seq(0x1e8, 0x1e8, 0x1a0, 0x1a0)) // 750, 640
    } finally { stock.close(); nio.close() }
  }
}
