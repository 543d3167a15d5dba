package graft.table

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/**
 * Keeps [[Snapshots.put]] the only writer of table metadata: the table
 * kinds and their satellites must not create files on a Hadoop file
 * system themselves, nor address the `_manifests` directory — every
 * manifest, marker, sidecar and stats write goes through the core's
 * temp-file-then-rename put. (PartitionScheme's compaction journal has
 * its own rename-based commit and is out of scope.)
 */
class StoreWriterGuardSpec extends AnyFunSuite {

  private val guarded = Seq(
    "src/main/scala/graft/table/SpatialTable.scala",
    "src/main/scala/graft/table/GeomTable.scala",
    "src/main/scala/graft/table/TableStats.scala",
    "src/main/scala/graft/table/RasterTable.scala",
    "src/main/scala/graft/sources/GraftDataSource.scala")

  /** The source with comments removed: prose may describe the layout. */
  private def code(path: String): String = {
    val f = new File(path)
    assert(f.isFile, s"guarded source missing: ${f.getAbsolutePath}")
    new String(Files.readAllBytes(f.toPath), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
  }

  test("table sources never create files or open _manifests paths themselves") {
    val offences = for {
      path <- guarded
      (line, n) <- code(path).linesIterator.zipWithIndex
      if line.contains(".create(") || line.contains("_manifests")
    } yield s"$path (code line ${n + 1}): ${line.trim}"
    assert(offences.isEmpty, offences.mkString("\n"))
  }
}
