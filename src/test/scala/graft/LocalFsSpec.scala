package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileSystem, LocalFileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ForkFreeLocalFs

/** [[ForkFreeLocalFs]]: the session serves `file:` with it, and it
  * leaves on disk exactly what Hadoop's stock checksummed local
  * filesystem leaves — the same permission bits, the same `.crc`
  * siblings, the same checksum verification. */
class LocalFsSpec extends AnyFunSuite with SparkSuite {

  private val root = new URI("file:///")

  private def fresh(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(root, conf)
    fs
  }

  private def perms(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  private def crc(p: Path) = new Path(p.getParent, s".${p.getName}.crc")

  test("the session resolves file: to the fork-free FileSystem and its FileContext twin") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).getClass == classOf[ForkFreeLocalFs])
    assert(new Path("/tmp").getFileSystem(conf).getClass == classOf[ForkFreeLocalFs])
    assert(AbstractFileSystem.get(root, conf).getClass == classOf[ForkFreeLocalFs.Context])
  }

  test("created files, checksums and directories get the stock permission bits") {
    for (umask <- Seq("022", "077")) {
      val dir = Files.createTempDirectory("graft-localfs").toString
      def layout(fs: FileSystem, side: String): Seq[String] = {
        val base = new Path(s"file://$dir/$side")
        val file = new Path(base, "a/b/part-0")
        val out = fs.create(file, true)
        try out.write("x".getBytes("UTF-8")) finally out.close()
        val exact = new Path(base, "exact/part-1")
        fs.create(exact, new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(base, "d/e"))
        fs.mkdirs(new Path(base, "f"), new FsPermission("750"))
        Seq(file, crc(file), file.getParent, file.getParent.getParent, exact, crc(exact),
          new Path(base, "d/e"), new Path(base, "f")).map(perms)
      }
      val stock = layout(fresh(new LocalFileSystem, umask), "stock")
      assert(layout(fresh(new ForkFreeLocalFs, umask), "ours") == stock, s"umask $umask")
      assert(stock.head == (if (umask == "022") "rw-r--r--" else "rw-------"))
    }
  }

  test(".crc siblings are written and a flipped data byte fails the read") {
    val fs = fresh(new ForkFreeLocalFs, "022")
    val f = new Path(s"file://${Files.createTempDirectory("graft-localfs")}/data")
    val out = fs.create(f, false)
    try out.write("hello checksummed world".getBytes("UTF-8")) finally out.close()
    assert(Files.isRegularFile(Paths.get(crc(f).toUri)))
    val raf = new RandomAccessFile(Paths.get(f.toUri).toFile, "rw")
    try { raf.seek(3); raf.write(raf.read() ^ 1) } finally raf.close()
    intercept[ChecksumException] {
      val in = fs.open(f)
      try in.readAllBytes() finally in.close()
    }
  }

  test("a sticky-bit permission still lands") {
    val fs = fresh(new ForkFreeLocalFs, "022")
    val d = new Path(s"file://${Files.createTempDirectory("graft-localfs")}/shared")
    fs.mkdirs(d)
    fs.setPermission(d, new FsPermission("1777"))
    val mode = Files.getAttribute(Paths.get(d.toUri), "unix:mode").asInstanceOf[Int]
    assert((mode & 0x3ff) == 0x3ff, f"mode $mode%o")
  }

  test("an AvailableNow query's checkpoint commits and restarts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-localfs").toString
    val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
    def run(): Unit = spark.readStream.schema("v long").json(in)
      .writeStream.format("parquet").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(out).awaitTermination()
    (1L to 5L).toDF("v").write.json(in)
    run()
    (6L to 8L).toDF("v").write.mode("append").json(in)
    run()
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq == (1L to 8L))
    for (log <- Seq("offsets", "commits"); batch <- Seq("0", "1")) {
      assert(Files.isRegularFile(Paths.get(s"$ckpt/$log/$batch")), s"$log/$batch")
      assert(Files.isRegularFile(Paths.get(s"$ckpt/$log/.$batch.crc")), s"$log/.$batch.crc")
    }
  }
}
