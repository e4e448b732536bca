package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[operators.DerivedFiles]] is the one module that decides where a
  * derived file lives and how it is keyed.
  */
class DerivedFilesSpec extends AnyFunSuite with SparkFixture {

  test("a one-input key is the md5 of dir|length|mtime; more inputs key apart") {
    val f = new java.io.File(s"$sfDir/documents.parquet")
    val raw = s"$sfDir|${f.length()}|${f.lastModified()}"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val one = operators.DerivedFiles(spark, sfDir, "x_v1", "documents")
    assert(one.key === md5, "single-input directory names must not change")
    assert(one.path.endsWith(s"/x_v1_$md5"))
    val two = operators.DerivedFiles(spark, sfDir, "x_v1", "documents", "orders")
    assert(two.key !== one.key)
  }

  test("only DerivedFiles.scala names the derived-file root in src/main") {
    val owner = "graft/operators/DerivedFiles.scala"
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith(owner)), s"$owner missing")
    for (f <- files) {
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      if (!f.endsWith(owner)) for (what <- Seq("graft_io", "java.io.tmpdir"))
        assert(!src.contains(what), s"$f must place derived files through DerivedFiles")
      for (gone <- Seq("def cacheKey", "DedupOps.cacheKey", "def ioDir",
          "ensureWritten", "getOrBuildParquet"))
        assert(!src.contains(gone), s"$f still has $gone")
    }
  }
}
