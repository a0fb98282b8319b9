package graft

import java.nio.file.{Files, Path}
import graft.operators.ManifestTable
import org.scalatest.funsuite.AnyFunSuite

/** ManifestTable.headerMeta reads a version's header line alone; the
  * body of a text checkpoint can hold one line per live file.
  */
class ManifestHeaderSpec extends AnyFunSuite {

  /** A table whose v1 is a legacy TEXT checkpoint: `header`, then one
    * entry line per file.
    */
  private def textCheckpoint(header: String, files: Int): Path = {
    val root = Files.createTempDirectory("graft_mf_header")
    val d = Files.createDirectories(root.resolve("_manifests"))
    val body = (0 until files).map(i =>
      f"part-$i%06d.parquet\tk:${i * 10L}:${i * 10L + 9}\n").mkString
    Files.write(d.resolve("v00001.txt"), (header + "\n" + body).getBytes("UTF-8"))
    root
  }

  test("headerMeta on a text checkpoint with many entries gives the header's map") {
    val root = textCheckpoint("# graft-manifest version=1 parent=0 ts=1000 " +
      "schema=k:long colmap= batch=7 stray", 20000)
    assert(ManifestTable.headerMeta(root, 1) ==
      Map("ts" -> "1000", "schema" -> "k:long", "batch" -> "7"))
    assert(ManifestTable.filesFor(root, 1).size == 20000)
    assert(ManifestTable.commitTime(root, 1) == 1000L)
  }

  test("a corrupt header still fails loudly") {
    val wrong = textCheckpoint("# graft-manifest version=2 parent=0 ts=1", 3)
    val e = intercept[IllegalArgumentException](ManifestTable.headerMeta(wrong, 1))
    assert(e.getMessage.contains("corrupt manifest for v1"))
    val empty = textCheckpoint("", 0)
    Files.write(empty.resolve("_manifests/v00001.txt"), Array.emptyByteArray)
    intercept[IllegalArgumentException](ManifestTable.headerMeta(empty, 1))
    val missing = Files.createTempDirectory("graft_mf_header")
    intercept[IllegalStateException](ManifestTable.headerMeta(missing, 1))
  }
}
