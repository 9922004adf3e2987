package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Header/body marker split — the reference's most subtle logic (P1 in
  * SURVEY §2.2), re-expressed as pure column expressions.
  *
  * Reference semantics (/root/reference .../IngestionService.java):
  *  - start position `s` = `indexOfAny(txt, START_MARKERS, String::length)`
  *    (IngestionService.java:108-115): scan markers IN DECLARATION ORDER,
  *    keeping `best = i + len(marker)` for the first/leftmost hit — note the
  *    quirk that the raw index `i` of a later marker is compared against the
  *    already-advanced `best` of an earlier one; [[startPos]] replicates the
  *    fold faithfully.
  *  - end position `e` = `lastIndexOfAny(txt, END_MARKERS)`
  *    (IngestionService.java:117-124): max over raw lastIndexOf positions.
  *  - reject when `s < 0 || e < 0 || e <= s` (IngestionService.java:57).
  *  - `header = txt[0, s).trim()` — INCLUDES the start-marker text, since
  *    `s` points after it (IngestionService.java:59).
  *  - `body = txt[s, e).trim()` (IngestionService.java:60; the reference's
  *    `replaceFirst` of the leading marker is a no-op because the slice
  *    already starts after the marker — we do not reproduce dead code).
  *
  * Trim: Java's `String.trim()` strips all chars <= U+0020; we trim the
  * practical whitespace set " \t\n\r" (identical on real text; documented
  * divergence for exotic control characters).
  */
object MarkerSplit {

  val StartMarkers: Seq[String] = Seq(
    "*** START OF THE PROJECT GUTENBERG EBOOK",
    "*** START OF THIS PROJECT GUTENBERG EBOOK")

  val EndMarkers: Seq[String] = Seq(
    "*** END OF THE PROJECT GUTENBERG EBOOK",
    "*** END OF THIS PROJECT GUTENBERG EBOOK")

  private val TrimChars = " \t\n\r"

  /** 0-based position AFTER the leftmost start marker, or -1 — a faithful
    * fold of the reference's `indexOfAny` including its advanced-vs-raw
    * comparison quirk. */
  def startPos(text: Column): Column =
    StartMarkers.foldLeft(lit(-1)) { (best, m) =>
      val i = locate(m, text) - lit(1) // 0-based; -1 when absent
      when(i >= 0 && (best < 0 || i < best), i + lit(m.length))
        .otherwise(best)
    }

  /** 0-based position of the LAST occurrence of marker `m`, or -1, via the
    * reverse-locate idiom (Spark has no last-index builtin). */
  private def lastIndexOf(text: Column, m: String): Column = {
    val p = locate(m.reverse, reverse(text)) // 1-based in reversed text
    when(p > 0, length(text) - p - lit(m.length) + 1).otherwise(lit(-1))
  }

  /** 0-based start of the rightmost end marker, or -1 (max over markers —
    * order-independent, matching `lastIndexOfAny`). */
  def endPos(text: Column): Column =
    EndMarkers.foldLeft(lit(-1))((best, m) =>
      greatest(best, lastIndexOf(text, m)))

  /** Adds `split_ok`, `header`, `body` (null when rejected) derived from
    * `textCol`. Narrow projections only — no shuffle, codegen-friendly.
    * Three selects (the positions, the verdict, the slices), not one
    * `withColumn` per column: each step re-analyses the whole plan, and on
    * a one-row local relation that analysis is most of the split's cost. */
  def withSplit(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val (s, e) = (col("_s"), col("_e"))
    val ok = col("split_ok")
    df.select(col("*"), startPos(t).as("_s"), endPos(t).as("_e"))
      .select(col("*"), (s >= 0 && e >= 0 && e > s).as("split_ok"))
      .select(df.columns.toSeq.map(df.col) ++ Seq(ok,
        when(ok, trim(t.substr(lit(1), s), TrimChars)).as("header"),
        when(ok, trim(t.substr(s + 1, e - s), TrimChars)).as("body")): _*)
  }
}
