package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory integrity audit. Scala Map LITERALS keep the LAST duplicate
  * key silently — adding a query under an existing name compiles clean,
  * passes Verify, and passes the oracle gate while the shadowed operator
  * quietly leaves the inventory (this happened in round 10: a typed
  * `pii_redact` shadowed the digit-run one until a source audit caught
  * it). The runtime Map cannot see the collision, so this spec parses the
  * SOURCE: every top-level entry key in `queries`/`oracleSql` (pinned at
  * the map literal's 4-space indentation) must be unique, the source key
  * count must equal the runtime Map size, and every query must carry an
  * oracle.
  *
  * The same source audit keeps every routing threshold in one home: each
  * value is defined in `graft.operators.Routing` and nowhere else, and no
  * public operator takes one as a parameter. It also keeps one copy of
  * each shared mechanism: the LSH in-bucket pair expansion, the streaming
  * twins' replay harness, the SQL-function table, the one kernel-call
  * expression, the prefix scan's row-number draw, the LM bigram stream and
  * the bounded routing fetch.
  */
class InventoryAuditSpec extends AnyFunSuite {

  private val src = {
    val p = java.nio.file.Paths.get(sys.props("user.dir"),
      "src", "main", "scala", "graft", "SparkEntry.scala")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private val keyPat = """(?m)^    "([a-z0-9_]+)" ->""".r
  private def keysIn(section: String): Seq[String] =
    keyPat.findAllMatchIn(section).map(_.group(1)).toSeq

  private val qSrc = src.substring(src.indexOf("def queries"),
    src.indexOf("def oracleSql"))
  private val oSrc = src.substring(src.indexOf("def oracleSql"))

  test("no duplicate query keys in source (shadowing is silent)") {
    val keys = keysIn(qSrc)
    val dups = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"duplicate queries keys: $dups")
    assert(keys.size == SparkEntry.queries.size,
      s"source declares ${keys.size} query entries but the Map holds " +
        s"${SparkEntry.queries.size} — a duplicate key is shadowing one " +
        "(or the map literal's indentation changed; update keyPat)")
  }

  test("no duplicate oracle keys in source") {
    val keys = keysIn(oSrc)
    val dups = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"duplicate oracleSql keys: $dups")
    assert(keys.size == SparkEntry.oracleSql.size)
  }

  test("every query has an oracle, every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
  }

  private val mainDir = java.nio.file.Paths.get(sys.props("user.dir"),
    "src", "main", "scala")
  private def read(p: java.nio.file.Path) =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  private def scalaFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(dir)
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally w.close()
  }
  private val opsDir = mainDir.resolve("graft").resolve("operators")
  private val routingFile = opsDir.resolve("Routing.scala")
  /** threshold name -> its `1L << k` shift, as Routing declares them */
  private val thresholds: Map[String, String] =
    """(?m)^  val (\w+): Long = 1L << (\d+)$""".r
      .findAllMatchIn(read(routingFile)).map(m => m.group(1) -> m.group(2))
      .toMap

  test("every routing threshold is defined once, in Routing") {
    assert(thresholds.nonEmpty, "Routing declares no `val x: Long = 1L << k`")
    val shiftLit = s"""1L << (${thresholds.values.mkString("|")})\\b""".r
    val bad = for {
      f <- scalaFiles(mainDir) if f != routingFile
      (line, i) <- read(f).linesIterator.zipWithIndex
      hit <- thresholds.keys.filter(n =>
          (s"\\b$n\\b".r.findAllMatchIn(line).exists(m =>
            !line.substring(0, m.start).endsWith("Routing."))))
        .map(n => s"$n (unqualified)") ++
        (if (f.startsWith(opsDir)) shiftLit.findFirstIn(line).toSeq
         else Nil)
    } yield s"${mainDir.relativize(f)}:${i + 1}: $hit"
    assert(bad.isEmpty, "threshold defined outside Routing:\n" +
      bad.mkString("\n"))
  }

  /** Each `def` header in `src` that no access modifier narrows: its name
    * and the text of its parameter lists. */
  private def publicDefs(src: String): Seq[(String, String)] =
    """(?m)^([ \t]*)((?:[a-z]+(?:\[\w+\])?\s+)*)def\s+(\w+)""".r
      .findAllMatchIn(src)
      .filterNot(m => m.group(2).contains("private") ||
        m.group(2).contains("protected"))
      .map { m =>
        // consume [type params] and (param lists), balanced, skipping
        // string literals, up to the result type or body
        var i = m.end
        var depth = 0
        val sb = new StringBuilder
        var done = false
        while (!done && i < src.length) {
          val c = src.charAt(i)
          if (c == '"') {
            val close = src.indexOf('"', i + 1)
            i = if (close < 0) src.length else close
          } else if (c == '(' || c == '[') depth += 1
          else if (c == ')' || c == ']') depth -= 1
          else if (depth == 0 && !c.isWhitespace) done = true
          if (!done) { if (depth > 0 || c == ')') sb += c; i += 1 }
        }
        m.group(3) -> sb.toString
      }.toSeq

  test("no public operator takes a routing-threshold parameter") {
    // a threshold by name, or under another name with a Routing default
    val bad = for {
      f <- scalaFiles(opsDir)
      (defName, params) <- publicDefs(read(f))
      n <- thresholds.keys
        if s"\\b$n\\s*:".r.findFirstIn(params).isDefined ||
          params.contains(s"Routing.$n")
    } yield s"${mainDir.relativize(f)}: def $defName takes $n"
    assert(bad.isEmpty, "public operator takes a routing threshold:\n" +
      bad.mkString("\n"))
  }

  test("the in-bucket pair expansion is written once under graft/operators") {
    val expansion = """slice\([^\n]*\bi \+ (lit\()?2\b""".r
    val hits = for {
      f <- scalaFiles(opsDir)
      (line, i) <- read(f).linesIterator.zipWithIndex
        if expansion.findFirstIn(line).isDefined
    } yield s"${mainDir.relativize(f)}:${i + 1}"
    assert(hits.size == 1, "in-bucket pair expansion copies:\n" +
      hits.mkString("\n"))
  }

  test("the streaming twins share one replay harness") {
    val harness = """MemoryStream\[\(Long, String\)\]""".r
    assert(harness.findAllMatchIn(src).size == 1,
      "SparkEntry builds more than one (Long, String) memory stream")
  }

  test("graft_ SQL names appear only in the one function table") {
    val name = "\"(graft_[a-z0-9_]+)\"".r
    val hits = for {
      f <- scalaFiles(mainDir)
      m <- name.findAllMatchIn(read(f))
    } yield mainDir.relativize(f).toString -> m.group(1)
    val files = hits.map(_._1).distinct
    assert(files == Seq("graft/functions/expressions.scala"),
      s"graft_ SQL names outside the function table: $files")
    val names = hits.map(_._2)
    assert(names.distinct == names, s"a name is written twice: $names")
    assert(names.toSet ==
      graft.functions.GraftFunctions.sqlFunctions.map(_._1).toSet,
      "every graft_ literal must be a row of GraftFunctions.sqlFunctions")
  }

  /** `file:line` of every line under `dir` matching `pat`. */
  private def linesMatching(dir: java.nio.file.Path,
                            pat: scala.util.matching.Regex): Seq[String] =
    for {
      f <- scalaFiles(dir)
      (line, i) <- read(f).linesIterator.zipWithIndex
        if pat.findFirstIn(line).isDefined
    } yield s"${mainDir.relativize(f)}:${i + 1}"

  test("code generation is written once, in the kernel-call expression") {
    val exprFile = "graft/functions/expressions.scala"
    val codegen = linesMatching(mainDir, """\b(doGenCode|nullSafeEval)\b""".r)
    assert(codegen.forall(_.startsWith(exprFile + ":")),
      "doGenCode/nullSafeEval outside the kernel call:\n" +
        codegen.mkString("\n"))
    assert(linesMatching(mainDir,
        """\bdef\s+(doGenCode|nullSafeEval)\b""".r).size == 1,
      "more than one doGenCode/nullSafeEval definition")
    assert("""\bextends\s+Expression\b""".r
        .findAllMatchIn(read(mainDir.resolve(exprFile))).size == 1,
      s"$exprFile must hold exactly one Expression subclass")
    val handWritten = linesMatching(mainDir,
      """\b(extends|with)\s+(Unary|Binary)Expression\b""".r)
    assert(handWritten.isEmpty, "hand-written unary/binary expressions:\n" +
      handWritten.mkString("\n"))
  }

  test("the scan's clamped [0,1) draw is written once under graft/operators") {
    val hits = linesMatching(opsDir, """Math\.nextDown\(1\.0\)""".r)
    assert(hits.size == 1, "row-number draw copies:\n" + hits.mkString("\n"))
  }

  test("the LM bigram stream is written once") {
    val hits = linesMatching(mainDir, """toks\[i-1\] AS w1""".r)
    assert(hits.size == 1, "bigram stream copies:\n" + hits.mkString("\n"))
  }

  test("the bounded routing fetch is written once, in Routing") {
    val fetch = linesMatching(opsDir, """\.limit\([^\n]*\+\s*1\)""".r)
    assert(fetch.size == 1 && fetch.head.startsWith("graft/operators/Routing.scala:"),
      "bounded fetch copies:\n" + fetch.mkString("\n"))
    // no routed operator counts a persisted frame to route on it
    val counts = for {
      f <- scalaFiles(opsDir)
      m <- """\.persist\([^)]*\)\s*\.count\(\)""".r.findAllMatchIn(read(f))
    } yield s"${mainDir.relativize(f)}: ${m.matched}"
    assert(counts.isEmpty, "persist().count() routing measures:\n" +
      counts.mkString("\n"))
  }
}
