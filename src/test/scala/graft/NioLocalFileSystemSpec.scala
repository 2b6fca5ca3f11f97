package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import graft.sources.{NioLocalFileSystem, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file` scheme sets permissions without forking `chmod`,
  * and leaves every file and directory with the bits Hadoop's own local
  * file system gives it. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session's hadoop configuration resolves file:/// to the nio file system") {
    // a plain local file system in Hadoop's cache, as any earlier
    // `new Configuration()` read of a local path leaves one
    val plain = FileSystem.get(new URI("file:///"), new Configuration())
    assert(plain.isInstanceOf[LocalFileSystem] && !plain.isInstanceOf[NioLocalFileSystem])
    val fs = FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
  }

  test("written part files, _SUCCESS, checksums and directories get Hadoop's permission bits") {
    val dir = Files.createTempDirectory("graft_fs_perm").toFile
    val df = spark.range(0, 100, 1, 2).selectExpr("id", "cast(id as string) as s")
    df.write.parquet(s"$dir/nio/t")
    // the same write through Hadoop's own LocalFileSystem: a write's
    // options reach its hadoop configuration, which bypasses the cache
    df.write.option("fs.file.impl", classOf[LocalFileSystem].getName).parquet(s"$dir/plain/t")

    /** relative path (part names without their task and uuid) -> mode */
    def modes(root: File): Seq[(String, Int)] = {
      def walk(f: File): Seq[File] = f +: Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      walk(root).map(f => root.toPath.relativize(f.toPath).toString
        .replaceAll("part-\\d+-[0-9a-f-]+", "part") -> mode(f)).sorted
    }
    val (nio, plain) = (modes(new File(s"$dir/nio")), modes(new File(s"$dir/plain")))
    assert(nio == plain)
    val names = nio.map(_._1)
    assert(Seq("t", "t/_SUCCESS", "t/._SUCCESS.crc").forall(names.contains), names)
    assert(names.count(_.endsWith(".snappy.parquet")) >= 2, names)
  }

  test("setPermission: the nine rwx bits through nio, the sticky bit through Hadoop's chmod") {
    val conf = spark.sessionState.newHadoopConf()
    val nio = new NioRawLocalFileSystem
    nio.initialize(new URI("file:///"), conf)
    val raw = new RawLocalFileSystem
    raw.initialize(new URI("file:///"), conf)
    val dir = Files.createTempDirectory("graft_fs_chmod").toFile
    for (bits <- Seq("600", "644", "755", "700", "777", "000", "501", "1755")) {
      val perm = new FsPermission(Integer.parseInt(bits, 8).toShort)
      val (a, b) = (new File(dir, s"nio-$bits"), new File(dir, s"raw-$bits"))
      Seq(a, b).foreach(_.mkdir())
      nio.setPermission(new Path(a.toURI), perm)
      raw.setPermission(new Path(b.toURI), perm)
      assert(mode(a) == Integer.parseInt(bits, 8) && mode(a) == mode(b), bits)
    }
  }
}
