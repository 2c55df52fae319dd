package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Generates QUERIES.md — the one-page operator index (query name →
  * definition site → oracle y/n → bench group) so nobody greps 235
  * entries by hand. Definition sites come from scanning the source for
  * the `"name" -> ((s, d)` lambda pattern every queries map uses.
  * Run from the repo root: `runMain graft.tools.GenQueriesMd`.
  */
object GenQueriesMd {
  def main(args: Array[String]): Unit = {
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val defs = scala.collection.mutable.Map.empty[String, (String, Int)]
    // a query bound to a named function (`"name" -> fn,`) resolves to
    // its first such entry, and only when no lambda entry names it
    val aliases = scala.collection.mutable.Map.empty[String, (String, Int)]
    val pat = """"([a-z0-9_]+)"\s*->\s*\(\(s, d\)""".r
    val alias = """"([a-z0-9_]+)"\s*->\s*[a-z]\w*,\s*$""".r
    files.foreach { p =>
      Files.readAllLines(p).asScala.zipWithIndex.foreach { case (l, i) =>
        pat.findFirstMatchIn(l).foreach { m =>
          val name = m.group(1)
          if (!defs.contains(name)) defs(name) = (p.toString, i + 1)
        }
        alias.findFirstMatchIn(l).foreach { m =>
          if (!aliases.contains(m.group(1))) aliases(m.group(1)) = (p.toString, i + 1)
        }
      }
    }
    aliases.foreach { case (n, at) => if (!defs.contains(n)) defs(n) = at }
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    val b1 = graft.SparkEntry.benchQueries.toSet
    val b2 = graft.SparkEntry.benchQueries2.toSet
    val br = graft.SparkEntry.benchRetiredNoiseFloor.toSet
    val sb = new StringBuilder
    sb ++= "# Query index\n\n"
    sb ++= "Generated by `graft.tools.GenQueriesMd` — do not edit by hand; "
    sb ++= "regenerate after adding or moving queries.\n\n"
    sb ++= s"**${q.size} queries** — ${(q & o).size} oracle-checked, "
    sb ++= s"${(q -- o).size} no-oracle (each with a documented "
    sb ++= "oracle-checked twin, see COVERAGE.md); bench group 1 = "
    sb ++= s"${b1.size} frozen headline queries, group 2 = ${b2.size} "
    sb ++= "newer-family queries.\n\n"
    sb ++= "| query | defined at | oracle | bench |\n|---|---|---|---|\n"
    q.toSeq.sorted.foreach { n =>
      val loc = defs.get(n).map { case (f, l) => s"`$f:$l`" }.getOrElse(
        if (n.startsWith("fuzz_"))
          "`src/main/scala/graft/FuzzQueries.scala` (generated shape)"
        else "—")
      val or = if (o(n)) "yes" else "no (twin)"
      val bench = if (b1(n)) "1" else if (b2(n)) "2"
        else if (br(n)) "retired (noise floor)" else "—"
      sb ++= s"| `$n` | $loc | $or | $bench |\n"
    }
    Files.write(Paths.get("QUERIES.md"), sb.toString.getBytes("UTF-8"))
    val unresolved = q.toSeq.filterNot(defs.contains)
      .filterNot(_.startsWith("fuzz_"))
    println(s"[genqueries] wrote QUERIES.md (${q.size} rows; unresolved: " +
      (if (unresolved.isEmpty) "none" else unresolved.sorted.mkString(",")) + ")")
  }
}
