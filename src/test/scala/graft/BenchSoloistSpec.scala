package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Soloists-at-birth guard (round-10 verdict item 6): a query whose
  * builder re-invokes another REGISTERED query's builder re-runs that
  * query's whole pipeline inside its own timing — packed into a bench
  * family, the composite plan pair reproduces the in-family JIT churn
  * every full-surface sweep has caught only after the fact (d09 5.4×,
  * s13 11×, d16 14× in-family vs fresh-JVM solo). This spec catches
  * the shape at registration time instead: a source scan maps every
  * `queries("...")` call site to its lexically-enclosing registration
  * and requires that query to be in `Bench.Soloists`. Helper-level
  * composition (shared pipeline functions like `ngramJaccardPairs`)
  * is deliberately out of scope — it doesn't duplicate a registered
  * plan verbatim and stays covered by the periodic sweep. */
class BenchSoloistSpec extends AnyFunSuite {

  private val reg = """"([a-z]+[0-9]+_[a-z0-9_]+)"\s*->""".r
  private val call = """queries\("([a-z]+[0-9]+_[a-z0-9_]+)"\)""".r

  /** (file, enclosing registration, invoked query) for every nested
    * queries("...") call inside a registration body. The enclosing
    * registration is the nearest preceding `"name" ->` header in the
    * same file — exact for Map-literal registries, where each body
    * spans from its header to the next. */
  private def compositeEdges: Seq[(String, String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"source tree not found at ${root.toAbsolutePath} — run tests from the repo root")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for {
      f <- files
      src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      regs = reg.findAllMatchIn(src).map(m => (m.start, m.group(1))).toVector
      m <- call.findAllMatchIn(src).toSeq
      encl <- regs.takeWhile(_._1 < m.start).lastOption.map(_._2).toSeq
      // only real registrations count (Explain and SparkEntry.entry
      // call queries() outside any registry)
      if SparkEntry.queries.contains(encl) && SparkEntry.queries.contains(m.group(1))
      if encl != m.group(1)
    } yield (f.toString, encl, m.group(1))
  }

  test("every composite query (builder invoking another registered builder) is a Soloist") {
    val edges = compositeEdges
    // regex-rot guard: the known composite class must be visible, or
    // the scan has gone vacuous and the assertion below proves nothing
    assert(edges.exists(_._2 == "s13_knn_graph_recall"),
      "scan no longer sees the known s13→s12 composite — regexes rotted?")
    val offenders = edges.filterNot(e => Bench.Soloists(e._2))
    assert(offenders.isEmpty,
      "composite queries must join Bench.Soloists at birth (the d09/s13/d16 " +
        "in-family churn class):\n" + offenders.map { case (f, a, b) =>
          s"  $f: $a invokes queries(\"$b\")" }.mkString("\n"))
  }

  test("every Soloist still names a registered query") {
    val stale = Bench.Soloists.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"Soloists entries no longer registered: $stale")
  }
}
