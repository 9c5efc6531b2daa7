package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Enumeration/chronology extraction from free-text journal descriptions
  * (reference R1–R4: BatchUpdate.py:684-760, :272-298, :318-325).
  *
  * The three big named-group patterns are ported verbatim from
  * BatchUpdate.py:696-700 with the Python→Java dialect changes:
  * `(?P<name>...)` → `(?<name>...)`; `re.I` → `Pattern.CASE_INSENSITIVE`.
  * Java supports the `(?<!\d)` lookbehind and `(?!...)` lookahead these
  * patterns use. Order matters — first match wins (BatchUpdate.py:688-689).
  */
object Description {

  /** Parsed enumeration/chronology fields. `null` = the group did not
    * participate in the match, so the existing cell is preserved — the
    * reference assigns each field only when its group matched
    * (BatchUpdate.py:721-744) and, on a non-match, writes nothing but
    * Pattern = "N/A" (:749-751). Note the distinction from "": a
    * participating-but-empty group (e.g. StdMatch's `chronJ{0,2}` on
    * "v.3 (1998)") DOES overwrite the cell with "". */
  final case class Parsed(
      enumA: String,
      enumB: String,
      chronI: String,
      chronJ: String,
      pattern: String)

  // The month/season alternation shared by all three patterns
  // (BatchUpdate.py:696-700).
  private val M =
    "JAN?[A-Z]*|FE[A-Z]*|MA?R[CH]*|AP[RIL]*|MA?Y|JU?[NE]E?|JU?[LY]Y?|" +
      "AU?G[UST]*|SE[PTEMBR]*|O[A-Z]*|NO?V[A-Z]*|D[A-Z]*|" +
      "SP[RING]*|SU[MER]*|AUT[UMN]*|FA[L]*|W[A-Z]*"

  private val enumPrefix =
    """^\s*(?<enumAType>(?:SER\.?\s*\d+\s*)?VO?L?\s*[\.:]?\s?)\s*""" +
      """(?<enumANum>\d+[-/]?\d*)\s*""" +
      """(?<enumB>(?:(?:\s+NO?S?|\s+P[PTG]?)\s*\.?\s*\d+[-/]?\d*)*)\s*"""

  /** (name, pattern) in match-priority order — BatchUpdate.py:696-700. */
  val patterns: Seq[(String, Pattern)] = Seq(
    "StdMatch" ->
      (enumPrefix +
        s"""(?:\\(?\\s*(?<chronJ>(?:(?:$M)\\.?\\s*[-/]?\\s*){0,2})\\s*""" +
        """(?<chronI>(?<!\d)\d{2,4}(?:[-/]\d{1,4})?)\s*\)?)?[ \t]*$"""),
    "YearBeforeMonth" ->
      (enumPrefix +
        """\(?\s*(?<chronI>(?<!\d)\d{4}(?:[-/]\d{1,4})?)\s*""" +
        s"""(?<chronJ>(?:(?:$M)\\.?\\s*[-/]?\\s*){1,2})\\s*\\)?[ \t]*$$"""),
    "SplitYears" ->
      (enumPrefix +
        s"""\\(?\\s*(?<chronJpt1>$M)\\s*(?<chronIpt1>(?<!\\d)\\d{2,4})\\s*[-/]\\s*""" +
        s"""(?<chronJpt2>$M)\\s*(?<chronIpt2>(?<!\\d)\\d{2,4})\\s*\\)?[ \t]*$$"""))
    // UNICODE_CHARACTER_CLASS: Python's \s/\w/\d are Unicode-aware —
    // without it a non-breaking space in a description (common in exports)
    // parses in the reference but would fall to N/A here
    .map { case (n, p) => n -> Pattern.compile(p,
      Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CHARACTER_CLASS) }

  private def groupOrNull(m: Matcher, name: String): String =
    try m.group(name) catch { case _: IllegalArgumentException => null }

  /** R1 — multi-pattern first-match extraction (BatchUpdate.py:706-751).
    * Group-to-field assignment mirrors :719-746: Enum A = type + number,
    * Enum B stripped, Chron I/J either direct or joined from the two
    * SplitYears halves with "-". */
  def parse(description: String): Parsed = {
    if (description == null) return Parsed(null, null, null, null, "N/A")
    val it = patterns.iterator
    while (it.hasNext) {
      val (name, pat) = it.next()
      val m = pat.matcher(description)
      // lookingAt + the patterns' own trailing `$` ≡ Python re.match: a
      // full `matches()` additionally demands the input be consumed, which
      // rejects a trailing newline that Python's `$` tolerates
      if (m.lookingAt()) {
        val aType = groupOrNull(m, "enumAType")
        val aNum = groupOrNull(m, "enumANum")
        val enumA =
          if (aType == null && aNum == null) null
          else Option(aType).getOrElse("") + Option(aNum).getOrElse("")
        val enumB = Option(groupOrNull(m, "enumB")).map(_.trim).orNull
        def joined(whole: String, p1n: String, p2n: String): String =
          if (whole != null) whole
          else {
            val p1 = groupOrNull(m, p1n); val p2 = groupOrNull(m, p2n)
            if (p1 == null && p2 == null) null
            else Option(p2).map(Option(p1).getOrElse("") + "-" + _)
              .getOrElse(p1)
          }
        return Parsed(enumA, enumB,
          joined(groupOrNull(m, "chronI"), "chronIpt1", "chronIpt2"),
          joined(groupOrNull(m, "chronJ"), "chronJpt1", "chronJpt2"),
          name)
      }
    }
    Parsed(null, null, null, null, "N/A")
  }

  /** R1 as a Column through the scala UDF path (kept for the
    * native-vs-UDF agreement spec; production goes through
    * [[parseDescription]]). */
  val parseUdf = udf(parse _)

  /** R1 as a Column: struct<enumA,enumB,chronI,chronJ,pattern> via the
    * native [[ParseDescription]] expression — no UDF converter overhead,
    * stays inside whole-stage codegen. */
  def parseDescription(description: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      ParseDescription(
        org.apache.spark.sql.GraftSqlShim.expression(description)))

  /** Apply R1 over a frame: derive the four fields + Pattern in one narrow
    * projection (single pass, no shuffle). A null parse field means "group
    * did not participate" — the existing cell is preserved, exactly like
    * the reference's conditional assignments (BatchUpdate.py:721-744);
    * absent columns start as "". */
  def withParsedDescription(
      df: DataFrame,
      descCol: String = "Description"): DataFrame = {
    val parsed = parseDescription(col(descCol))
    def existing(c: String): Column =
      if (df.columns.contains(c)) col(c) else lit("")
    val fields = Seq(
      "Enum A" -> coalesce(col("__p.enumA"), existing("Enum A")),
      "Enum B" -> coalesce(col("__p.enumB"), existing("Enum B")),
      "Chron I" -> coalesce(col("__p.chronI"), existing("Chron I")),
      "Chron J" -> coalesce(col("__p.chronJ"), existing("Chron J")),
      "Pattern" -> col("__p.pattern"))
    // the struct is its own projection (evaluated once per row); the five
    // fields then replace or append in one more
    setColumns(df.withColumn("__p", parsed), fields, drop = Set("__p"))
  }

  /** `withColumn` for several columns in one projection (one analyzer
    * pass): each replaces its namesake in place or is appended in the
    * given order; columns in `drop` are left out. */
  private[graft] def setColumns(
      df: DataFrame,
      cols: Seq[(String, Column)],
      drop: Set[String] = Set.empty): DataFrame = {
    val byName = cols.toMap
    val kept = df.columns.toSeq.filterNot(drop.contains)
    df.select(
      kept.map(c => byName.get(c).fold(col(c))(_.as(c))) ++
        cols.collect { case (n, c) if !kept.contains(n) => c.as(n) }: _*)
  }

  /** R2 — month/season canonicalization (BatchUpdate.py:319-325, :417-418):
    * 16 sequential case-insensitive regex substitutions over Chron J,
    * expressed as a chain of codegen'd `regexp_replace` calls.
    *
    * The reference's November replacement is the literal `"` — a typo
    * (BatchUpdate.py:322). We implement the intent (`Nov`) by default;
    * `novBugCompat = true` reproduces the reference byte-for-byte. */
  def monthSubs(novBugCompat: Boolean = false): Seq[(String, String)] = Seq(
    "Jan" -> """ja\w*""",
    "Feb" -> """fe\w*""",
    "Mar" -> """ma*r\w*""",
    "Apr" -> """ap\w*""",
    "May" -> """ma*y""",
    "Jun" -> """j(?:une|un|n|e)""",
    "Jul" -> """j(?:uly|ul|l|y)""",
    "Aug" -> """au?g\w*""",
    "Sep" -> """se\w*""",
    "Oct" -> """oc\w*""",
    (if (novBugCompat) "\"" else "Nov") -> """no?v\w*""",
    "Dec" -> """de\w*""",
    "Spr" -> """spr\w*""",
    "Sum" -> """su\w*""",
    "Fal" -> """fa\w*|au(?!thor|g)\w*""",
    "Win" -> """wi\w*""")

  def canonicalizeChronJ(c: Column, novBugCompat: Boolean = false): Column =
    monthSubs(novBugCompat).foldLeft(c) { case (acc, (repl, pat)) =>
      // (?U): Python's \w is Unicode-aware (see the pattern-compile note)
      regexp_replace(acc, "(?iU)" + pat, repl)
    }

  /** R3 — natural-sort volume keys (BatchUpdate.py:272-297): extract
    * (series#, volume#) so v2 sorts before v10. Missing → 0. */
  val volPattern: String =
    """^(?:[sS][eE][rR]\.?\s*)?(\d+)?\s*(?:[vV][oO]?[lL]?\.?\s*)(\d+)"""

  private def intOrZero(extracted: Column): Column =
    // regexp_extract yields "" on miss; guard before the cast (ANSI mode)
    when(extracted === "" || extracted.isNull, lit(0))
      .otherwise(extracted.cast("int"))

  def seriesKey(desc: Column): Column =
    intOrZero(regexp_extract(desc, volPattern, 1))

  def volumeKey(desc: Column): Column =
    intOrZero(regexp_extract(desc, volPattern, 2))

  /** R4 — leading-year probe (BatchUpdate.py:318, :332-336): digits at the
    * start of Chron I. Empty string when absent. */
  def leadingDigits(c: Column): Column = regexp_extract(c, """^(\d+)""", 1)
}
