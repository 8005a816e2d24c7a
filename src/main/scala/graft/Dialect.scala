package graft

import scala.collection.immutable.TreeMap

/** DuckDB → Spark SQL translation of the oracle texts (SURVEY.md
  * §2.7/§2.10). `Queries` derives every Spark text from its oracle text
  * through `toSpark`; a hand-kept Spark text survives only where the
  * plan must differ from the derived one.
  *
  * Works on tokens, so string literals, quoted identifiers and comments
  * pass through untouched. Each rewrite is one row of a table:
  *   - `functions`: a renamed call (the name followed by `(`);
  *   - `words`: a bare word or operator (`//` gets a space on each side);
  *   - postfix `x[i]` → `element_at(x, i)` (both 1-based), and a `[…]`
  *     list literal → `array(…)`.
  * Everything else is copied byte for byte, so a text that uses none of
  * the rows comes out unchanged. Names match in any case. */
object Dialect {

  private def table(rows: (String, String)*): Map[String, String] =
    TreeMap(rows: _*)(Ordering.comparatorToOrdering(String.CASE_INSENSITIVE_ORDER))

  val functions: Map[String, String] = table(
    "string_split" -> "split", "string_split_regex" -> "split", "unnest" -> "explode",
    "len" -> "size", "generate_series" -> "sequence",
    "epoch_ms" -> "unix_millis", "epoch_us" -> "unix_micros",
    "list_distinct" -> "array_distinct", "list_transform" -> "transform",
    "list_filter" -> "filter", "list_sort" -> "sort_array", "list_max" -> "array_max",
    "array_to_string" -> "array_join", "arg_max" -> "max_by", "arg_min" -> "min_by",
    "list_cosine_similarity" -> "cosine_sim", "strip_accents" -> "fold_accents",
    "jaro_winkler_similarity" -> "jaro_winkler")

  val words: Map[String, String] = table("VARCHAR" -> "STRING", "//" -> "div")

  /** A token, or a bracketed group: `(`…`)` or `[`…`]` with its inside. */
  private sealed trait Node
  private final case class Tok(text: String) extends Node
  private final case class Group(open: Char, inside: IndexedSeq[Node]) extends Node

  def toSpark(oracle: String): String = {
    val (nodes, rest) = parse(tokens(oracle), None)
    require(rest.isEmpty, s"unbalanced brackets in: $oracle")
    val out = new java.lang.StringBuilder(oracle.length + 64)
    render(nodes, out)
    out.toString
  }

  /** Splits SQL into string literals, quoted identifiers, comments,
    * whitespace runs, words, numbers, `//` and single characters. */
  private def tokens(sql: String): List[String] = {
    val out = List.newBuilder[String]
    // index just past the next `close` at or after `from` (or the end)
    def past(close: String, from: Int) = sql.indexOf(close, from) match {
      case -1 => sql.length
      case j => j + close.length
    }
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      def run(p: Char => Boolean) = { var j = i + 1; while (j < sql.length && p(sql.charAt(j))) j += 1; j }
      val end =
        if (c == '\'' || c == '"' || c == '`') {
          var j = past(c.toString, i + 1)
          while (c != '`' && j < sql.length && sql.charAt(j) == c) j = past(c.toString, j + 1) // doubled quote
          j
        } else if (sql.startsWith("--", i)) run(_ != '\n')
        else if (sql.startsWith("/*", i)) past("*/", i + 2)
        else if (sql.startsWith("//", i)) i + 2
        else if (c.isWhitespace) run(_.isWhitespace)
        else if (c.isLetterOrDigit || c == '_') run(d => d.isLetterOrDigit || d == '_' || c.isDigit && d == '.')
        else i + 1
      out += sql.substring(i, end)
      i = end
    }
    out.result()
  }

  /** Groups tokens up to the `close` bracket; returns the nodes and the rest. */
  private def parse(toks: List[String], close: Option[String]): (IndexedSeq[Node], List[String]) = {
    val out = IndexedSeq.newBuilder[Node]
    var rest = toks
    while (rest.nonEmpty && !close.contains(rest.head)) {
      rest.head match {
        case open @ ("(" | "[") =>
          val (inside, after) = parse(rest.tail, Some(if (open == "(") ")" else "]"))
          require(after.nonEmpty, "unclosed " + open)
          out += Group(open.head, inside)
          rest = after.tail
        case t =>
          out += Tok(t)
          rest = rest.tail
      }
    }
    (out.result(), rest)
  }

  /** Renders one bracket level into `out`: renames calls and words, and
    * folds each postfix index into `element_at` over the operand before it. */
  private def render(nodes: IndexedSeq[Node], out: java.lang.StringBuilder): Unit = {
    // where the adjacent run of words, dots and groups that ends the
    // output starts, or -1: the operand of a postfix index
    var operand = -1
    for (i <- nodes.indices) {
      val start = out.length
      val inRun = nodes(i) match {
        case Group('[', inside) if inside.nonEmpty && !inside.contains(Tok(":")) =>
          if (operand >= 0) {
            val x = out.substring(operand)
            out.setLength(operand)
            out.append("element_at(").append(x).append(", ")
          } else out.append("array(")
          render(inside, out)
          out.append(')')
          true
        case Group(open, inside) => // `(…)`; slices and `[]` types stay as they are
          out.append(open)
          render(inside, out)
          out.append(if (open == '(') ')' else ']')
          true
        case Tok(t) =>
          val call = nodes.lift(i + 1).exists { case Group('(', _) => true; case _ => false }
          if (call && functions.contains(t)) out.append(functions(t))
          else if (t == "//") {
            if (start > 0 && !out.charAt(start - 1).isWhitespace) out.append(' ')
            out.append(words(t))
            if (nodes.lift(i + 1).exists { case Tok(s) => !s.head.isWhitespace; case _ => true }) out.append(' ')
          } else out.append(words.getOrElse(t, t))
          t == "." || t.head.isLetter || t.head == '_' || t.head == '"' || t.head == '`'
      }
      operand = if (!inRun) -1 else if (operand >= 0) operand else start
    }
  }
}
