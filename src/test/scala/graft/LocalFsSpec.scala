package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] must be indistinguishable from Hadoop's
  * `RawLocalFileSystem` except that it does not fork: same permission bits,
  * same link statuses and errors, same checksum sidecars. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val conf = new Configuration()
  private def init(fs: RawLocalFileSystem) = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)

  private def freshDir(): JPath =
    Files.createTempDirectory(TestSpark.scratch, "localfs_")
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x1fff

  test("setPermission and create/mkdirs with a mode leave the stock permission bits") {
    val d = freshDir()
    for (m <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff); // 0600 0644 0700 0755 0777
         (name, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
      val perm = new FsPermission(m.toShort)
      val f = new Path(s"$d/f_${m}_$name")
      fs.create(f).close()
      fs.setPermission(f, perm)
      val dir = new Path(s"$d/d_${m}_$name")
      fs.mkdirs(dir)
      fs.setPermission(dir, perm)
      // create and mkdirs with a mode apply the umask and then chmod
      val cf = new Path(s"$d/cf_${m}_$name")
      fs.create(cf, perm, false, 4096, 1.toShort, 1L << 20, null).close()
      val cd = new Path(s"$d/cd_${m}_$name")
      fs.mkdirs(cd, perm)
    }
    for (m <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff); kind <- Seq("f", "d", "cf", "cd")) {
      val s = d.resolve(s"${kind}_${m}_stock")
      val n = d.resolve(s"${kind}_${m}_nio")
      assert(mode(n) == mode(s), f"$kind ${m}%o: nio ${mode(n)}%o, stock ${mode(s)}%o")
      if (kind == "f" || kind == "d") assert((mode(n) & 0x1ff) == m, f"$kind ${m}%o")
    }
    // a sticky bit is beyond java.nio: it goes through the stock code
    val sticky = new FsPermission(0x3ff.toShort) // 1777
    nio.mkdirs(new Path(s"$d/sticky"))
    nio.setPermission(new Path(s"$d/sticky"), sticky)
    assert(mode(d.resolve("sticky")) == 0x3ff)
  }

  test("setPermission on a missing path fails like the stock code") {
    val missing = new Path(s"${freshDir()}/nope")
    val perm = new FsPermission(0x1a4.toShort)
    val e1 = intercept[java.io.IOException](stock.setPermission(missing, perm))
    val e2 = intercept[java.io.IOException](nio.setPermission(missing, perm))
    assert(e2.getClass == e1.getClass && e2.getMessage == e1.getMessage)
  }

  test("getFileLinkStatus matches the stock code for files, dirs, links and missing paths") {
    val d = freshDir()
    val file = Files.write(d.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    // the status fields, or the exception (the stock code reads a link
    // only through a scheme-less path: a qualified dangling link throws)
    def outcome(fs: RawLocalFileSystem, p: Path): Any =
      try {
        val st = fs.getFileLinkStatus(p)
        (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
          if (st.isSymlink) st.getSymlink else null, st.getLen,
          st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)
      } catch { case e: java.io.IOException => (e.getClass, e.getMessage) }
    val missing = d.resolve("missing")
    for (p <- Seq(file, dir, link, dangling, missing);
         hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(outcome(nio, hp) == outcome(stock, hp), hp)
    }
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(stock.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(missing.toString)))
  }

  test("checksum sidecars are still written: FileSystem, FileContext, checkpoint") {
    val d = freshDir()
    val hconf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), hconf)
    val a = new Path(s"$d/a.bin")
    val out = fs.create(a); out.write(Array.fill[Byte](3000)(7)); out.close()
    assert(Files.exists(d.resolve(".a.bin.crc")))
    val in = fs.open(a); val buf = new Array[Byte](3000); in.readFully(buf); in.close()
    assert(buf.forall(_ == 7))

    val fc = FileContext.getFileContext(hconf)
    val b = new Path(d.resolve("b.bin").toUri)
    val out2 = fc.create(b, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out2.write(1); out2.close()
    assert(Files.exists(d.resolve(".b.bin.crc")))

    // Spark's checkpoint manager writes a temp file and renames it into place
    val ckpt = new Path(d.resolve("ckpt").toUri)
    val mgr = CheckpointFileManager.create(ckpt, hconf)
    mgr.mkdirs(ckpt)
    val c = new Path(ckpt, "0")
    val atomic = mgr.createAtomic(c, overwriteIfPossible = false)
    atomic.write(Array[Byte](1, 2, 3)); atomic.close()
    assert(Files.readAllBytes(d.resolve("ckpt/0")).toSeq == Seq[Byte](1, 2, 3))
    assert(Files.exists(d.resolve("ckpt/.0.crc")))
    assert(Files.list(d.resolve("ckpt")).toArray.length == 2, "temp files left behind")
  }

  test("Graft.session wires both local filesystem entry points to the nio classes") {
    for (hconf <- Seq(spark.sparkContext.hadoopConfiguration,
                      spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(URI.create("file:///"), hconf)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[NioLocalFileSystem].getRaw
        .isInstanceOf[NioRawLocalFileSystem])
      val afs = FileContext.getFileContext(hconf).getDefaultFileSystem
      assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    }
  }
}
