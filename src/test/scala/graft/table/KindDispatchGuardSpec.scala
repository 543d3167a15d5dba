package graft.table

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/**
 * Keeps the table kind decided in one place: [[Snapshots.open]] parses
 * the manifest once and picks the point or extent kind, and every caller
 * — the `format("graft")` relation, `TableStats.getCount` and
 * `estimateCount` — goes through it. A second probe of the manifest's
 * kind, or a second relation class in the data source, is how the two
 * kinds' read paths drifted apart before.
 */
class KindDispatchGuardSpec extends AnyFunSuite {

  private val mainDir = new File("src/main/scala")
  private val dispatchFile = new File(mainDir, "graft/table/Snapshots.scala")

  /** The source with comments blanked out (line breaks kept, so offsets
    * still map to lines): prose may name anything. */
  private def code(f: File): String = {
    assert(f.isFile, s"source missing: ${f.getAbsolutePath}")
    val blank = (m: scala.util.matching.Regex.Match) =>
      java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " "))
    val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
    "//[^\n]*".r.replaceAllIn("(?s)/\\*.*?\\*/".r.replaceAllIn(text, blank), blank)
  }

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** The kind probe and the kind constructors: only the dispatch names them. */
  private val kindTokens =
    Seq("isExtent", "has(\"prefix_res\")", "SpatialTable.opened(", "GeomTable.opened(")

  test("the table kind is decided only inside Snapshots.open") {
    val dispatch = code(dispatchFile)
    val start = dispatch.indexOf("def open(")
    assert(start >= 0, "Snapshots.open is missing")
    val end = dispatch.indexOf("\n  }\n", start)
    val found = for {
      f <- sources(mainDir)
      text = code(f)
      token <- kindTokens
      at <- Iterator.iterate(text.indexOf(token))(i => text.indexOf(token, i + 1))
        .takeWhile(_ >= 0).toSeq
    } yield (f, token, at)
    val offences = found.collect {
      case (f, token, at) if !(f == dispatchFile && at > start && at < end) =>
        s"${f.getPath}:${code(f).take(at).count(_ == '\n') + 1} names $token"
    }
    assert(offences.isEmpty, offences.mkString("\n"))
    // the probe itself is there, exactly once
    assert(found.count(_._2 == "has(\"prefix_res\")") == 1, found.mkString("\n"))
  }

  test("sources/GraftDataSource.scala declares one relation class") {
    val text = code(new File(mainDir, "graft/sources/GraftDataSource.scala"))
    val relations = "extends\\s+BaseRelation\\b".r.findAllMatchIn(text).size
    assert(relations == 1, s"$relations BaseRelation classes")
  }
}
