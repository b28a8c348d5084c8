package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lints main code for definitions that nothing but the specs calls,
  * session-free. Every non-`override`, non-`main` `def` in `src/main`
  * must have its name occur, outside its own definitions, somewhere in
  * the comment-stripped sources of `src/main` or `perfbench/src`: a main,
  * the registry or the benchmark must be able to reach it. A definition
  * only specs reach is dead weight in main code — delete it with its
  * specs, register it, or list it in [[ReachabilitySpec.testHooks]] with
  * the reason a spec needs it.
  *
  * The check is by name: a dead definition whose name live code also
  * uses goes unflagged.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val mainSources = sources("src/main")
  private lazy val searched = mainSources ++ sources("perfbench/src")

  /** Every non-`override` `def` in `src/main`: name → "file:line" sites. */
  private lazy val mainDefs: Map[String, Seq[String]] =
    mainSources.flatMap { case (file, text) =>
      DefName.findAllMatchIn(text).collect {
        case m if !text.substring(text.lastIndexOf('\n', m.start) + 1, m.start)
            .contains("override") =>
          m.group(1) -> s"$file:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }.groupMap(_._1)(_._2)

  /** Per name, its occurrences in searched code that are not a `def` of
    * it. */
  private lazy val useCounts: Map[String, Int] = {
    def counts(texts: Iterator[String]): Map[String, Int] =
      texts.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val words = counts(searched.iterator.flatMap(t => Word.findAllIn(t._2)))
    val defs = counts(searched.iterator.flatMap(t =>
      DefName.findAllMatchIn(t._2).map(_.group(1))))
    words.map { case (w, n) => w -> (n - defs.getOrElse(w, 0)) }
  }

  private def uses(name: String): Int = useCounts.getOrElse(name, 0)

  test("every main definition is reached from main code or perfbench") {
    val unreached = (mainDefs -- testHooks.keySet - "main").toSeq
      .filter { case (name, _) => uses(name) == 0 }
      .sortBy(_._1)
      .map { case (name, sites) => s"$name (${sites.mkString(", ")})" }
    assert(unreached.isEmpty,
      s"main definitions that only tests (or nothing) reach — delete them " +
        s"with their specs, or register them:\n  ${unreached.mkString("\n  ")}")
  }

  test("every test-hook allowlist entry is a main definition only tests reach") {
    val stale = testHooks.keySet.toSeq.sorted.flatMap { name =>
      if (!mainDefs.contains(name)) Some(s"$name: no such def in src/main")
      else if (uses(name) > 0) Some(s"$name: main code reaches it")
      else None
    }
    assert(stale.isEmpty,
      s"stale test-hook allowlist entries (remove them):\n  ${stale.mkString("\n  ")}")
  }
}

object ReachabilitySpec {

  /** The main definitions that only specs call, each kept because it is
    * how a spec checks registered code. */
  val testHooks: Map[String, String] = Map(
    "appendIndexCentroids" ->
      "backs the independent argmin replay of annIndexAppend",
    "incrIngestCorpusStages" ->
      "PlanAuditSpec's plan-shape check of the incremental ingest rows",
    "incrSemScoredCrossUncached" ->
      "PlanAuditSpec's plan-shape check of the probed semantic cross stage",
    "incrSemInBatchCandUncached" ->
      "PlanAuditSpec's plan-shape check of the in-batch candidate join",
    "incrSemBandedScoredCrossUncached" ->
      "PlanAuditSpec's plan-shape check of the banded semantic cross stage",
    "starComponents" ->
      "the star-round path above DriverCloseEdgeCap, checked at spec scale",
    "incrIngestDedup" ->
      "the batch MinHash ingest policy the stream specs compare against",
    "incrIngestSemDedup" ->
      "the batch semantic ingest policy the stream specs compare against",
    "writeInsertedJdbc" -> "the reference's SqlBulkCopy analog",
    "entry" -> "SparkEntry.entry, the driver contract",
  )

  /** A `def` and its (alphanumeric) name. */
  private val DefName = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** A whole word: `name` occurs in a text where a `\bname\b` match would. */
  private val Word = """[A-Za-z0-9_]+""".r

  /** Every `.scala` file under `root` (relative to the build root), with
    * its comments stripped. */
  def sources(root: String): Seq[(String, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)
      .map((p: Path) => p.toString -> stripComments(Files.readString(p)))
    finally walk.close()
  }

  /** `src` with every comment blanked to spaces (line breaks kept, so
    * offsets keep their line numbers). String and character literals are
    * copied as they are: a `//` inside a string is not a comment. Handles
    * nested block comments, triple-quoted strings and `${...}` splices in
    * interpolated strings. */
  def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def at(k: Int): Char = if (k < n) src.charAt(k) else '\u0000'
    def copy(to: Int): Unit = { out ++= src.substring(i, to); i = to }
    def blank(to: Int): Unit = {
      while (i < to) { out += (if (src.charAt(i) == '\n') '\n' else ' '); i += 1 }
    }
    // code up to the `}` closing a splice (or the end of the text)
    def code(inSplice: Boolean): Unit = {
      var depth = 0
      while (i < n) {
        val c = src.charAt(i)
        if (c == '/' && at(i + 1) == '/') {
          val e = src.indexOf('\n', i)
          blank(if (e < 0) n else e)
        } else if (c == '/' && at(i + 1) == '*') {
          val from = i
          var d = 0
          var k = i
          while (k < n && (d > 0 || k == from)) {
            if (src.startsWith("/*", k)) { d += 1; k += 2 }
            else if (src.startsWith("*/", k)) { d -= 1; k += 2 }
            else k += 1
          }
          blank(k)
        } else if (c == '"') {
          string(interpolated = i > 0 && Character.isLetterOrDigit(src.charAt(i - 1)))
        } else if (c == '\'' && at(i + 1) == '\\') {
          val e = src.indexOf('\'', i + 3)
          copy(if (e < 0) n else e + 1)
        } else if (c == '\'' && at(i + 2) == '\'') {
          copy(i + 3)
        } else if (inSplice && c == '{') {
          depth += 1; copy(i + 1)
        } else if (inSplice && c == '}') {
          if (depth == 0) return
          depth -= 1; copy(i + 1)
        } else copy(i + 1)
      }
    }
    def string(interpolated: Boolean): Unit = {
      val triple = src.startsWith("\"\"\"", i)
      copy(i + (if (triple) 3 else 1))
      var open = true
      while (open && i < n) {
        val c = src.charAt(i)
        if (triple && src.startsWith("\"\"\"", i) && at(i + 3) != '"') {
          copy(i + 3); open = false
        } else if (!triple && c == '"') {
          copy(i + 1); open = false
        } else if (!triple && c == '\\') {
          copy(math.min(n, i + 2))
        } else if (interpolated && c == '$' && at(i + 1) == '{') {
          copy(i + 2); code(inSplice = true); copy(math.min(n, i + 1))
        } else if (interpolated && c == '$' && at(i + 1) == '$') {
          copy(i + 2)
        } else copy(i + 1)
      }
    }
    code(inSplice = false)
    out.result()
  }
}
