package graft

import graft.Harness.{arr, obj, str}

/** Machine-readable coverage index: joins the LIVE QueryDef registry
  * (battery entry names + oracle kinds — the authoritative list, not a
  * parse) with COVERAGE.md's operator tables (operator ID → implementation
  * → which q-entries check it) into one `coverage.json`, so a round can
  * diff coverage mechanically instead of re-reading 300 lines of prose:
  *
  * {{{
  *   sbt "runMain graft.Coverage"            # COVERAGE.md -> coverage.json
  *   sbt "runMain graft.Coverage <md> <out>"
  * }}}
  *
  * Shape: `queries` (name → check kind + the operator rows that cite it),
  * `operators` (one record per COVERAGE.md table row: section, cells,
  * cited queries), `counts` (the reconciliation numbers — battery size,
  * oracle/rows-only split, rows parsed, q-references that resolve to no
  * registered entry, registered entries cited by no row).
  */
object Coverage {

  def main(args: Array[String]): Unit = {
    val mdPath = args.headOption.getOrElse("COVERAGE.md")
    val outPath = if (args.length > 1) args(1) else "coverage.json"
    val defs = SparkEntry.defs
    val byNum: Map[Int, String] = defs.flatMap { q =>
      "^q0*(\\d+)_".r.findFirstMatchIn(q.name).map(_.group(1).toInt -> q.name)
    }.toMap
    val oracleKind: Map[String, String] = defs.map(q =>
      q.name -> (if (q.oracle.isDefined) "hash_oracle" else "rows_only")).toMap

    val qRef = "q0*(\\d+)\\b".r
    def refs(text: String): Seq[String] =
      qRef.findAllMatchIn(text).map(_.group(1).toInt).toSeq.distinct.sorted
        .flatMap(byNum.get)

    final case class OpRow(section: String, id: String, cells: Seq[String],
        header: Seq[String], queries: Seq[String])
    val lines = scala.io.Source.fromFile(mdPath)(scala.io.Codec.UTF8)
      .getLines().toVector
    var section = ""
    var header: Seq[String] = Nil
    val rows = Vector.newBuilder[OpRow]
    val idPat = "^(?:[SPAJOM]\\d+(?:/[SPAJOM]\\d+)*|§[\\d.]+|—|-)$".r
    for ((line, i) <- lines.zipWithIndex) {
      if (line.startsWith("## ")) {
        section = line.drop(3).trim
        header = Nil
        // inline one-liner sections ("## §2.6 Set operations — q13 ...")
        // are their own coverage row
        if (refs(section).nonEmpty) {
          val id = section.takeWhile(_ != ' ')
          rows += OpRow(section, id, Seq(section), Seq("line"),
            refs(section))
        }
      } else if (line.startsWith("|")) {
        val cells = line.split("\\|").map(_.trim).toSeq
          .drop(1).dropWhile(_.isEmpty)
        val isSeparator = cells.forall(c => c.isEmpty || c.forall(_ == '-'))
        val isHeader = i + 1 < lines.length && lines(i + 1).startsWith("|--")
        if (isHeader) header = cells
        else if (!isSeparator && cells.nonEmpty) {
          val id =
            if (idPat.findFirstIn(cells.head).isDefined && cells.head != "—"
              && cells.head != "-") cells.head
            else s"${section.takeWhile(_ != ' ')}:${cells.head}"
          rows += OpRow(section, id, cells, header, refs(line))
        }
      }
    }
    val opRows = rows.result()

    // reverse index: battery entry -> the operator rows citing it
    val citedBy: Map[String, Seq[String]] = opRows
      .flatMap(r => r.queries.map(_ -> r.id))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val unresolvedRefs = opRows.flatMap(r =>
      qRef.findAllMatchIn(r.cells.mkString(" ")).map(_.group(1).toInt))
      .distinct.filterNot(byNum.contains).sorted
    val uncited = defs.map(_.name).filterNot(citedBy.contains)

    def strs(xs: Seq[String]): String = arr(xs.map(str), ", ")
    val json = obj(Seq(
      "generated_by" -> str("sbt runMain graft.Coverage"),
      "source" -> str(mdPath),
      "queries" -> obj(defs.map(q => q.name -> obj(Seq(
        "check" -> str(oracleKind(q.name)),
        "operators" -> strs(citedBy.getOrElse(q.name, Nil))), ": ", ", ")),
        ": ", ",\n  "),
      "operators" -> arr(opRows.map(r => obj(Seq("id" -> str(r.id),
        "section" -> str(r.section), "queries" -> strs(r.queries)) ++
        r.header.zipAll(r.cells, "col", "").map { case (h, c) => h -> str(c) },
        ": ", ", ")), ",\n  "),
      "counts" -> obj(Seq(
        "battery_entries" -> defs.size.toString,
        "with_oracle" -> defs.count(_.oracle.isDefined).toString,
        "rows_only" -> defs.count(_.oracle.isEmpty).toString,
        "operator_rows" -> opRows.size.toString,
        "entries_cited_by_coverage" -> citedBy.size.toString,
        "entries_uncited" -> uncited.size.toString,
        "uncited_names" -> strs(uncited),
        "unresolved_qrefs" -> arr(unresolvedRefs.map(_.toString), ", ")),
        ": ", ",\n  ")), ": ", ",\n ")
    Harness.write(outPath, json + "\n")
    println(s"coverage.json: ${defs.size} entries " +
      s"(${defs.count(_.oracle.isDefined)} oracle / " +
      s"${defs.count(_.oracle.isEmpty)} rows-only), ${opRows.size} " +
      s"operator rows, ${uncited.size} uncited entries, " +
      s"${unresolvedRefs.size} unresolved refs -> $outPath")
  }
}
