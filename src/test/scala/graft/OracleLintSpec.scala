package graft

import org.scalatest.funsuite.AnyFunSuite

/** Oracle-coupling lint (VERDICT r4 #8): mechanical enforcement of the
  * two documented dual-engine footguns that prose invariants alone did
  * not catch in round 4.
  *
  *  1. `\s` in any oracle regex (Java's `\s` and RE2's differ on
  *     U+000B, and neither matches NBSP) — both sides must spell an
  *     EXPLICIT whitespace class.
  *  2. An un-CAST integer `SUM(` reaching an oracle output: DuckDB
  *     `SUM(int)` returns HUGEINT → pandas float64, and the driver's
  *     hash-compare treats int-vs-float as a mismatch even when every
  *     value is equal (the exact r4 d8/g1/t10 failure). Every `SUM(`
  *     must therefore be CAST-wrapped (`CAST(SUM(...) AS BIGINT /
  *     DOUBLE / HUGEINT)` — the wrap is the visible "typing was
  *     considered" marker) or be a DECIMAL-family sum (closed under
  *     SUM; the money-aggregate rule routes those through
  *     `CAST(... AS DOUBLE)` at output per CLAUDE.md).
  *
  * The same `\s` rule is enforced on the ENGINE side by scanning the
  * dual-engine query sources for `\s` in non-comment lines, and the
  * ops sources are scanned for raw checkpoint calls: every barrier
  * under `graft.ops` goes through `Barrier`, which owns the
  * reliable-vs-local checkpoint policy.
  */
class OracleLintSpec extends AnyFunSuite {

  private val oracles: Map[String, String] = SparkEntry.oracleSql

  test("oracles exist to lint") {
    assert(oracles.size >= 50)
  }

  test("no \\s in any oracle SQL (explicit whitespace classes only)") {
    for ((name, sql) <- oracles)
      assert(!sql.contains("\\s"),
        s"oracle $name uses \\s — spell the explicit whitespace class " +
          "(Java vs RE2 \\s semantics differ; CLAUDE.md)")
  }

  test("every oracle SUM( is CAST-wrapped or DECIMAL-typed") {
    val sumRe = "(?i)(?<![a-z0-9_])sum\\s*\\(".r
    for ((name, sql) <- oracles; m <- sumRe.findAllMatchIn(sql)) {
      val before = sql.substring(0, m.start).replaceAll("\\s+", "")
      val castWrapped = before.toUpperCase.endsWith("CAST(")
      // balanced-paren argument of this SUM
      def arg: String = {
        var i = m.end; var depth = 1
        while (i < sql.length && depth > 0) {
          sql.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          i += 1
        }
        sql.substring(m.end, i)
      }
      assert(castWrapped || arg.toUpperCase.contains("DECIMAL"),
        s"oracle $name has an un-CAST non-DECIMAL SUM( at offset ${m.start} " +
          "— DuckDB SUM(int) → HUGEINT → float64 vs Spark BIGINT fails the " +
          "driver hash (VERDICT r4); wrap it in CAST(... AS BIGINT)")
    }
  }

  /** Non-comment lines of `f` (1-based numbers) that satisfy `bad`. */
  private def codeLines(f: java.io.File)(bad: String => Boolean): List[Int] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().zipWithIndex.collect { case (line, i)
        if !line.trim.startsWith("//") && !line.trim.startsWith("*") && bad(line) => i + 1
    }.toList
    finally src.close()
  }

  test("graft.ops checkpoints only through Barrier (no raw localCheckpoint/checkpoint)") {
    val dir = new java.io.File("src/main/scala/graft/ops")
    val files = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "Barrier.scala"), s"$dir has no Barrier.scala — update OracleLintSpec")
    for (f <- files if f.getName != "Barrier.scala") {
      val offenders = codeLines(f)(l => l.contains("localCheckpoint(") || l.contains(".checkpoint("))
      assert(offenders.isEmpty,
        s"$f checkpoints directly on line(s) ${offenders.mkString(",")} — use graft.ops.Barrier " +
          "(it picks reliable vs local checkpoints from the session's checkpoint dir)")
    }
  }

  test("no \\s regex in dual-engine query/oracle sources (non-comment lines)") {
    val files = Seq(
      "src/main/scala/graft/Queries.scala",
      "src/main/scala/graft/ops/OpsQueries.scala",
      "src/main/scala/graft/ops/Dedup.scala")
    for (f <- files) {
      val file = new java.io.File(f)
      assert(file.exists(), s"lint source $f missing — update OracleLintSpec")
      // the 2-char sequence backslash+'s' catches the Java form
      // ("\\s", which contains it) and the SQL form ('\s') alike
      val offenders = codeLines(file)(_.contains("\\s"))
      assert(offenders.isEmpty,
        s"$f has \\s in a regex on line(s) ${offenders.mkString(",")} " +
          "— use an explicit whitespace class (CLAUDE.md)")
    }
  }
}
