package graft.store

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The no-fork local file system keeps Hadoop's local semantics: the same
  * POSIX bits on create and mkdirs, the same link status for files and
  * missing paths, and real symlinks reported as such.
  */
class LocalFsSpec extends SparkSpec {

  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val fs = FileSystem.get(URI.create("file:///"), conf)
  // Hadoop's own local file system (the shell path), built outside the cache
  private lazy val hadoopFs = {
    val f = new LocalFileSystem(new RawLocalFileSystem)
    f.initialize(URI.create("file:///"), conf)
    f
  }

  private def tmp(prefix: String) = graft.store.LocalFs.scratchDir(prefix)
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)

  test("the builder's session resolves file: to the no-fork classes") {
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  for (perm <- Seq("600", "644", "755")) {
    test(s"create and mkdirs with 0$perm leave the bits Hadoop's shell path leaves") {
      val dir = tmp("graft-localfs-perm")
      val p = new FsPermission(perm)
      for ((name, f) <- Seq("nio" -> fs, "hadoop" -> hadoopFs)) {
        f.create(hpath(dir.resolve(s"$name.bin")), p, false, 4096, 1.toShort, 1L << 20, null).close()
        assert(f.mkdirs(hpath(dir.resolve(s"$name.d")), p))
      }
      for (file <- Seq("%s.bin", "%s.d", ".%s.bin.crc"))
        assert(mode(dir.resolve(file.format("nio"))) === mode(dir.resolve(file.format("hadoop"))),
          s"$file bits differ")
    }
  }

  test("a sticky-bit permission still applies") {
    val dir = tmp("graft-localfs-sticky").resolve("d")
    assert(fs.mkdirs(hpath(dir)))
    fs.setPermission(hpath(dir), new FsPermission("1777"))
    assert(mode(dir) === Integer.parseInt("1777", 8))
  }

  test("a real symlink reports isSymlink with its target, through FileSystem and FileContext") {
    val dir = tmp("graft-localfs-link")
    val target = Files.write(dir.resolve("target.txt"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val st = fs.getFileLinkStatus(hpath(link))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath === target.toString)
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getFileLinkStatus(hpath(link)).isSymlink)
    assert(fc.getLinkTarget(hpath(link)).toUri.getPath === target.toString)
    // a dangling link is still a link
    Files.delete(target)
    assert(fs.getFileLinkStatus(hpath(link)).isSymlink)
  }

  test("a regular file's link status equals its file status; a missing path throws") {
    val dir = tmp("graft-localfs-status")
    val file = hpath(Files.write(dir.resolve("f.txt"), "abc".getBytes))
    for (p <- Seq(file, hpath(dir))) {
      val (l, s) = (fs.getFileLinkStatus(p), fs.getFileStatus(p))
      assert(!l.isSymlink)
      assert((l.getPath, l.getLen, l.isDirectory, l.getModificationTime, l.getPermission) ===
        (s.getPath, s.getLen, s.isDirectory, s.getModificationTime, s.getPermission))
    }
    val missing = hpath(dir.resolve("missing"))
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](
      FileContext.getLocalFSFileContext(conf).getFileLinkStatus(missing))
  }

  test("a scratch dir's tree delete removes a populated store") {
    val dir = LocalFs.scratchDir("graft-localfs-scratch")
    spark.range(3).selectExpr("id", "id % 2 AS k").write.partitionBy("k")
      .parquet(dir.resolve("store").toString)
    assert(Files.list(dir.resolve("store")).count() > 1)
    // what deleteOnExit did: File.delete refuses a directory with contents
    assert(!dir.toFile.delete())
    LocalFs.deleteTree(dir)
    assert(!Files.exists(dir))
    LocalFs.deleteTree(dir) // already gone: a no-op
  }
}
