package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every whole-path parquet read in the engine goes through
  * `Tables.readParquet`: a bare `spark.read.parquet(path)` brings back the
  * one-task schema-inference job per read. */
class ParquetReadGuardSpec extends AnyFunSuite {

  /** Reads that must stay on Spark's own path, as match counts per file. */
  private val allowed = Map(
    // readParquet itself: the footer-schema read and the fallback to the
    // plain read (missing paths, partition directories, summary files)
    "graft/Tables.scala" -> 2,
    // readPartitioned: partition discovery under `basePath`
    "graft/sources/Sources.scala" -> 1)

  // `.read`, any option/schema/format calls (one level of nested
  // parentheses), then `.parquet(` or `.format("parquet")`, across line
  // breaks; `.readStream` (the streaming readers, which take a schema)
  // never matches
  private val read = ("""\.read\s*(\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\)\s*)*""" +
    """\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""").r
  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r

  test("no parquet read in src/main/scala bypasses Tables.readParquet") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    val files = java.nio.file.Files.walk(root.toPath).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    val found = files.map { p =>
      val rel = root.toPath.relativize(p).toString.replace('\\', '/')
      val code = comments.replaceAllIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"), "")
      rel -> read.findAllIn(code).size
    }.filter(_._2 > 0).toMap
    val stray = found.filter { case (f, n) => allowed.getOrElse(f, 0) != n }
    assert(stray.isEmpty, s"parquet reads outside Tables.readParquet " +
      s"(file -> count; allowed: $allowed): $stray")
  }
}
