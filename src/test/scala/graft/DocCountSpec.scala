package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The doc-count drift gate. Four consecutive rounds (r11-r14) shipped
  * a stale catalog count in SOME doc — the per-instance edits never
  * fixed the class. This spec makes the class impossible: every line
  * of README.md and COVERAGE.md that CLAIMS a catalog or streaming
  * entry count must either
  *
  *  - carry `<!-- count:catalog -->` and have every number on the
  *    line (above the noise threshold) equal `SparkEntry.queries.size`,
  *  - carry `<!-- count:streaming -->` and have its "N streaming"
  *    number equal `Queries.streamingEntries.size`,
  *  - or carry an ADJUDICATED exemption with a written rationale —
  *    `<!-- count:frozen <why> -->` for claims pinned to a past round
  *    (permanently true as history) or `<!-- count:not-catalog <why> -->`
  *    for numbers that merely look like catalog counts (e.g. the ANN
  *    labs' "50 queries" = query VECTORS).
  *
  * Unmarked claims fail loudly with the doc:line — the same
  * every-exemption-carries-its-rationale pattern that turned
  * PlanAudit from a table into a gate (VERDICT r14, next-round #1).
  * The markers are HTML comments, invisible in rendered markdown.
  */
class DocCountSpec extends AnyFunSuite {

  // SURVEY.md carries no count claims today, but its §2.12 prose is
  // exactly where the next "catalog N" sentence gets written (VERDICT
  // r15 watch item) — guard it before that happens
  private val docs = Seq("README.md", "COVERAGE.md", "SURVEY.md")
  private val catalogN = SparkEntry.queries.size
  private val streamingN = Queries.streamingEntries.size

  // catalog counts have been >= 100 since round 8; the threshold keeps
  // "all 4 SFs" / "3 micro-batches" prose out of the claim set
  private val Threshold = 40

  private val MarkCatalog = "<!-- count:catalog -->"
  private val MarkStreaming = "<!-- count:streaming -->"
  // exemptions REQUIRE a non-empty rationale between marker and -->
  private val MarkFrozen = """<!--\s*count:frozen\s+\S[^>]*-->""".r
  private val MarkNotCatalog = """<!--\s*count:not-catalog\s+\S[^>]*-->""".r

  // claim shapes: "145-query", "138 queries", "132-entry", "127 entries",
  // "ALL 145", "eight streaming", "8 streaming"
  // the lookbehind keeps hyphenated names ("SCD-2 streaming") from
  // reading as count claims
  private val NumQuery = """(?<![-\w])(\d+)[-\s]quer(?:y|ies)\b""".r
  private val NumEntry = """(?<![-\w])(\d+)[-\s]entr(?:y|ies)\b""".r
  private val AllNum = """(?i)\ball (\d+)\b""".r
  private val NumStreaming = """(?<![-\w])(\d+)\s+streaming\b""".r
  private val WordStreaming =
    ("""(?i)\b(one|two|three|four|five|six|seven|eight|nine|ten|eleven""" +
      """|twelve|fifteen|twenty)\s+streaming\b""").r
  private val AnyNum = """(\d+)""".r

  test("every catalog/streaming count claim in README.md and " +
      "COVERAGE.md is marked and matches the source of truth " +
      s"(catalog=$catalogN, streaming=$streamingN)") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (doc <- docs) {
      val path = Paths.get(doc)
      assert(Files.isReadable(path), s"$doc missing from the repo root")
      val all = Files.readAllLines(path).asScala.toSeq
      for (((line, i)) <- all.zipWithIndex) {
        val where = s"$doc:${i + 1}"
        val exempt = MarkFrozen.findFirstIn(line).isDefined ||
          MarkNotCatalog.findFirstIn(line).isDefined
        val catalogMarked = line.contains(MarkCatalog)
        val streamMarked = line.contains(MarkStreaming)

        val catalogClaims =
          (NumQuery.findAllMatchIn(line) ++ NumEntry.findAllMatchIn(line) ++
            AllNum.findAllMatchIn(line))
            .map(_.group(1).toInt).filter(_ >= Threshold).toSeq
        val streamingClaims =
          NumStreaming.findAllMatchIn(line).map(_.group(1).toInt).toSeq

        if (!exempt) {
          if (WordStreaming.findFirstIn(line).isDefined && !streamMarked)
            failures += s"$where: spelled-out streaming count " +
              s"('${WordStreaming.findFirstIn(line).get}') — write it in " +
              "digits with <!-- count:streaming --> so the gate can check it"
          for (n <- catalogClaims if !catalogMarked)
            failures += s"$where: unmarked catalog-count claim ($n) — add " +
              "<!-- count:catalog --> (or count:frozen/count:not-catalog " +
              "with a rationale)"
          for (n <- streamingClaims if !streamMarked)
            failures += s"$where: unmarked streaming-count claim ($n)"
          if (catalogMarked)
            // strict: EVERY number above the threshold on a marked line
            // must be the live catalog size — keeps "N/N green" pairs
            // and parenthetical restatements honest too
            for (m <- AnyNum.findAllMatchIn(line);
                 n = m.group(1).toInt if n >= Threshold && n != catalogN)
              failures += s"$where: count:catalog line carries $n but " +
                s"SparkEntry.queries.size is $catalogN"
          if (streamMarked) {
            if (streamingClaims.isEmpty)
              failures += s"$where: count:streaming line has no " +
                "'N streaming' claim to check"
            for (n <- streamingClaims if n != streamingN)
              failures += s"$where: count:streaming line claims $n but " +
                s"Queries.streamingEntries.size is $streamingN"
          }
        }
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} doc-count failures:\n" + failures.mkString("\n"))
  }
}
