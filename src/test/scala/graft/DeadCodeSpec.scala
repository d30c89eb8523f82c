package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Reachability scan over the program: a public `def`, `val`, `object` or
  * `case class` declared in src/main whose name occurs nowhere else in
  * src/main or perfbench/scala (comments stripped) is reached by nothing
  * but its specs. Such code is deleted with its specs, not kept for them;
  * the short keeper list names the exceptions and why each stays.
  */
class DeadCodeSpec extends AnyFunSuite {

  private val keepers: Map[String, String] = Map(
    // entry points, run by name
    "Verify" -> "main: the DuckDB-oracle gate",
    "BenchExtra" -> "main: operator counters over all queries",
    "Scaling" -> "main: the two-parallelism harness",
    "entry" -> "SparkEntry.entry: the flagship smoke-test entry point",
    "register" -> "GeomFunctions.register: the SQL surface",
    // encoders and decoders that specs use as output oracles
    "encodeGeometry" -> "Mvt: decodeGeometry's inverse",
    "decodeGeometry" -> "Mvt: reads back the encoded command streams",
    "encodeTile" -> "MvtTile: decodeTile's inverse",
    "decodeTile" -> "MvtTile: reads back the sink's tile bytes",
    "decodeTileLayerNames" -> "MvtTile: reads back the sink's layer order",
    "delaunayTriangles" -> "MakeValid: the local-Delaunay check",
    "destructure" -> "MakeValid: the segments delaunayTriangles takes",
    // the constrained-Delaunay port (reference subdivision_constrained.go and
    // pseudopolygon/), kept with its reference specs until a KernelSig row
    // reaches it or it is dropped
    "SubdivisionConstrained" -> "the constrained-edge insertion over a Subdivision",
    "vertexIndex" -> "SubdivisionConstrained: the vertex index insertConstraint walks",
    "insertConstraint" -> "SubdivisionConstrained: forces one constraint edge in")

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $dir is missing")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  /** the source with its comments blanked (line breaks kept) and string
    * and char literals kept as they are, so a `//` inside a string stays
    */
  private def stripComments(t: String): String = {
    val out = new StringBuilder(t.length)
    val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'])'""".r
    var i = 0
    while (i < t.length) {
      val charLiteral =
        if (t(i) == '\'') charLit.findPrefixOf(t.substring(i, math.min(i + 8, t.length))) else None
      if (t.startsWith("\"\"\"", i)) {
        var j = t.indexOf("\"\"\"", i + 3)
        j = if (j < 0) t.length else j + 3
        while (j < t.length && t(j) == '"') j += 1
        out ++= t.substring(i, j); i = j
      } else if (t(i) == '"') {
        var j = i + 1
        while (j < t.length && t(j) != '"') j += (if (t(j) == '\\') 2 else 1)
        j = math.min(j + 1, t.length)
        out ++= t.substring(i, j); i = j
      } else if (charLiteral.isDefined) {
        out ++= charLiteral.get; i += charLiteral.get.length
      } else if (t.startsWith("//", i)) {
        val j = t.indexOf('\n', i)
        i = if (j < 0) t.length else j
      } else if (t.startsWith("/*", i)) {
        var depth = 0
        var j = i
        var open = true
        while (open && j < t.length) {
          if (t.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (t.startsWith("*/", j)) { depth -= 1; j += 2; open = depth > 0 }
          else j += 1
        }
        out.append("\n" * t.substring(i, j).count(_ == '\n')); i = j
      } else { out.append(t(i)); i += 1 }
    }
    out.toString
  }

  private val decl =
    ("""(?m)^[ \t]*(?:@\w+\s+)*((?:(?:final|implicit|override|lazy|sealed|abstract|case|""" +
      """private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)(def|val|object|case class)\s+(\w+)""").r

  /** (file:line kind name) of each public declaration in src/main whose
    * name occurs once — at its declaration — in src/main and perfbench
    */
  private def unreached(): Seq[(String, String)] = {
    val main = scalaFiles("src/main/scala")
    val text = (main ++ scalaFiles("perfbench/scala"))
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8"))).toMap
    // how often each word (a maximal run of letters, digits and `_`) occurs
    val occurrences: Map[String, Int] = text.values.toSeq
      .flatMap("[A-Za-z0-9_]+".r.findAllIn(_)).groupMapReduce(identity)(_ => 1)(_ + _)
    for {
      p <- main.sorted
      m <- decl.findAllMatchIn(text(p)).toSeq
      mods = m.group(1)
      if !Seq("private", "protected", "override").exists(mods.contains)
      name = m.group(3)
      if occurrences(name) == 1
    } yield {
      val line = text(p).substring(0, m.start).count(_ == '\n') + 1
      (name, s"$p:$line ${m.group(2)} $name")
    }
  }

  test("every public name in src/main is reached outside its specs, or is a named keeper") {
    val found = unreached()
    val unexpected = found.filterNot { case (name, _) => keepers.contains(name) }
    assert(unexpected.isEmpty,
      "reached by nothing in src/main or perfbench (delete it with its specs):\n" +
        unexpected.map(_._2).mkString("\n"))
    val stale = keepers.keySet -- found.map(_._1)
    assert(stale.isEmpty, s"keepers now reached elsewhere (drop them from the list): $stale")
  }
}
