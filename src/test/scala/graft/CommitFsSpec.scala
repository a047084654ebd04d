package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{CommitFs, TaskParquet}

class CommitFsSpec extends AnyFunSuite {

  /** The full POSIX mode of a local file, sticky and set-id bits included. */
  private def mode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** Hadoop's stock local file system, its permissions set by `chmod`. */
  private def stock(conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Modes of a file created with `perm`, a directory made with `perm`, and
    * a default-created file then set to `perm`, each with its `.crc`.
    */
  private def modesOf(fs: FileSystem, dir: String, perm: FsPermission): Seq[Int] = {
    Files.createDirectories(Paths.get(dir))
    val out = fs.create(new Path(s"$dir/f"), perm, true, 4096, 1.toShort, 1L << 20, null)
    out.write(1); out.close()
    fs.mkdirs(new Path(s"$dir/d"), perm)
    fs.create(new Path(s"$dir/g"), true).close()
    fs.setPermission(new Path(s"$dir/g"), perm)
    Seq("f", ".f.crc", "d", "g", ".g.crc").map(n => mode(s"$dir/$n"))
  }

  test("in-process setPermission leaves the modes Hadoop's chmod leaves, under umask 022 and 027") {
    val root = Files.createTempDirectory("graft-commitfs").toString
    for (umask <- Seq(0x12 /* 022 */, 0x17 /* 027 */)) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", f"$umask%03o")
      val ours = CommitFs(root, conf)
      assert(CommitFs.inProcess(ours))
      // 0644, 0600, 0755, 0700, 0750
      for (m <- Seq(0x1a4, 0x180, 0x1ed, 0x1c0, 0x1e8)) {
        val perm = new FsPermission(m.toShort)
        val tag = f"$umask%03o-$m%04o"
        val got = modesOf(ours, s"$root/ours-$tag", perm)
        assert(got === modesOf(stock(conf), s"$root/stock-$tag", perm), tag)
        // create and mkdirs apply the umask; setPermission does not
        assert(got === Seq(m & ~umask, m & ~umask, m & ~umask, m, m), tag)
      }
    }
    // bits outside 0777 take Hadoop's own path
    val conf = new Configuration()
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    for ((fs, d) <- Seq(CommitFs(root, conf) -> s"$root/sticky-ours", stock(conf) -> s"$root/sticky-stock")) {
      fs.mkdirs(new Path(d))
      fs.setPermission(new Path(d), sticky)
    }
    assert(mode(s"$root/sticky-ours") === 0x3ff)
    assert(mode(s"$root/sticky-stock") === 0x3ff)
  }

  test("CommitFs keeps path.getFileSystem for other schemes and for file: mapped off LocalFileSystem") {
    val conf = new Configuration()
    conf.set("fs.graftother.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.graftother.impl.disable.cache", true)
    val other = CommitFs("graftother:///x", conf)
    assert(other.getClass === classOf[RawLocalFileSystem])
    assert(!CommitFs.inProcess(other))
    conf.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val raw = CommitFs("/tmp/x", conf)
    assert(raw.getClass === classOf[RawLocalFileSystem])
    assert(!CommitFs.inProcess(raw))
  }

  test("RowFileWriter over CommitFs writes the bytes and .crc parquet-mr's path writer writes") {
    val dir = Files.createTempDirectory("graft-commitfs-pq").toString
    val schema = StructType(Seq(StructField("s", StringType), StructField("n", LongType)))
    val mt = TaskParquet.messageType(schema)
    val rows = (0 until 2000).map(i => Row(if (i % 7 == 0) null else s"row-$i", i.toLong * 31))
    val conf = new Configuration()
    val w = new TaskParquet.RowFileWriter(CommitFs(dir, conf), conf, new Path(s"$dir/a.parquet"), schema, mt)
    rows.foreach(w.add)
    w.close()
    // the reference: parquet-mr's writer over the file system path.getFileSystem resolves
    val ref = ExampleParquetWriter.builder(new Path(s"$dir/b.parquet")).withConf(conf).withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(mt)
    rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.add(0, r.getString(0))
      g.add(1, r.getLong(1))
      ref.write(g)
    }
    ref.close()
    def bytes(n: String) = Files.readAllBytes(Paths.get(s"$dir/$n")).toSeq
    assert(bytes("a.parquet") === bytes("b.parquet"))
    assert(bytes(".a.parquet.crc") === bytes(".b.parquet.crc"))
  }
}
