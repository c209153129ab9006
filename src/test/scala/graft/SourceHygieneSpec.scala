package graft

import org.scalatest.funsuite.AnyFunSuite

/** Control bytes in source are invisible in a diff and to most greps (a
  * NUL inside a string literal once split a memo's store key from its
  * lookup key). Main sources may carry tab, newline and carriage return
  * only.
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("no control bytes under src/main") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val bad = files(root).flatMap { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes.indices.find { i =>
        val b = bytes(i)
        b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r'
      }.map(i => s"${f.getPath} at byte $i (0x${"%02x".format(bytes(i))})")
    }
    assert(bad.isEmpty, bad.mkString("control bytes found: ", "; ", ""))
  }
}
