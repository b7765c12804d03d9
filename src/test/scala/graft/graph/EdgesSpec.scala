package graft.graph

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SpecTools.{codeOnly, enclosingDef, mainSources}

/** The graph tier's input policy has one home: no graph file but
  * [[Edges]] builds a canonical undirected edge set. The tell is a
  * `least(` call in code, which orders an edge's endpoints.
  */
class EdgesSpec extends AnyFunSuite {

  // (file, enclosing def) allowed to order endpoints: Truss attributes
  // each enumerated triangle to its three edges, re-canonicalizing
  // corners that the (degree, id) orientation left unordered by id
  private val allowed = Set("Truss.scala" -> "supports")

  test("no graph file but Edges builds a canonical undirected edge set") {
    val sites = mainSources("graft", "graph")
      .filter(_.getFileName.toString != "Edges.scala")
      .flatMap { p =>
        val code = codeOnly(Files.readString(p))
        "\\bleast\\s*\\(".r.findAllMatchIn(code).map { m =>
          val line = code.substring(0, m.start).count(_ == '\n') + 1
          (p.getFileName.toString, enclosingDef(code, m.start).fold("<top>")(_._1), line)
        }
      }
    val offenders = sites.filterNot(s => allowed((s._1, s._2)))
    assert(offenders.isEmpty,
      "graph files that canonicalize edges themselves (use Edges.canonical, " +
        "Edges.weighted or Edges.adjacency):\n" +
        offenders.map(s => s"${s._1}:${s._3} in ${s._2}").mkString("\n"))
    assert(allowed.subsetOf(sites.map(s => (s._1, s._2)).toSet),
      s"allowlisted sites no longer found: ${allowed -- sites.map(s => (s._1, s._2))}")
  }
}
