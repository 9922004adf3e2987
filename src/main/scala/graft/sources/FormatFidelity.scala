package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.ModelArtifacts

/** l19/l20: TEXT-FORMAT ROUND-TRIP FIDELITY — the interchange-format
  * coverage the parquet-native lake otherwise never exercises. Real
  * corpora arrive and leave as JSONL and CSV (every public web-corpus
  * release ships one of the two), and the failure mode is silent:
  * an unescaped newline splits one document into two records, a bare
  * quote swallows its neighbor's field, a backslash doubles — and the
  * corpus "loads fine" with corrupted documents. These queries prove
  * the configured write/read option sets are LOSSLESS by construction:
  * every document's text is first extended with [[HardSuffix]] — a
  * deterministic worst-case tail carrying a record separator
  * (newline), the CSV delimiter (comma), the quote character, a
  * backslash, a tab, and a non-ASCII code point — then written to the
  * format under test, read back with an explicit schema, and published
  * as (per-doc char count, md5). The DuckDB oracle computes the same
  * two values from the PARQUET ground truth with the identical
  * injection (rendered from the same Scala value, the t41
  * shared-injection contract) — so a hash match is a proof that the
  * format round trip preserved every byte of every column, and any
  * escaping defect in the option set fails loudly at the gate.
  *
  * Write-once discipline: the formatted copy is a session-lifetime
  * [[ModelArtifacts]] entry keyed by (format, corpus identity) — the
  * IndexStore stance; repeat invocations (the bench's passes) only
  * read, and releasing the session's artifacts deletes the copy.
  *
  * Scale: the write is one narrow corpus pass, partitioned like any
  * lake write; the read is a distributed text-source scan with an
  * explicit schema (no inference pass — inference at 100 TB is a
  * second full read). CSV reads with `multiLine` parse quoted
  * newlines correctly, at the documented cost that multi-line CSV
  * files are not arbitrarily splittable — which is the operational
  * argument for JSONL over CSV at scale, and having both queries side
  * by side makes that trade measurable. */
object FormatFidelity {

  /** The worst-case tail injected into every document before the
    * round trip: newline (record separator), comma (CSV delimiter),
    * double quote, backslash, tab, and a non-ASCII code point. */
  val HardSuffix: String = "\nend,\"quoted\"\\tail\t\u00fc"

  /** The documents frame with the fidelity tail appended — the frame
    * whose identity the round trip must preserve. */
  private def hardened(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"), col("source"),
      concat(col("text"), lit(HardSuffix)).as("text"))

  private def roundTrip(documents: DataFrame, format: String,
      writeOpts: Map[String, String],
      readOpts: Map[String, String]): DataFrame = {
    val hard = hardened(documents)
    val dir = ModelArtifacts.stored(s"fidelity-$format", documents, "") { d =>
      hard.write.options(writeOpts).format(format).save(d)
      d
    }
    documents.sparkSession.read.schema(hard.schema).options(readOpts)
      .format(format).load(dir)
  }

  private def fidelity(back: DataFrame): DataFrame =
    back.select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("rt_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))

  /** l19: JSONL round trip — one JSON object per line, the
    * interchange format web-corpus releases actually use. JSON's own
    * escaping carries the newline/quote/backslash tail; the explicit
    * schema keeps the read a single pass. */
  def jsonlRoundTrip(documents: DataFrame): DataFrame =
    fidelity(roundTrip(documents, "json",
      writeOpts = Map.empty, readOpts = Map.empty))

  /** CSV options shared by write and read. Beyond the RFC-4180 quote
    * posture, the writer's DEFAULTS are lossy and must be pinned off:
    * `ignoreLeadingWhiteSpace`/`ignoreTrailingWhiteSpace` default TRUE
    * on write, silently trimming any field with edge whitespace
    * (the HardSuffix only hardens the TRAILING edge of `text`; a
    * document that STARTS with whitespace, or a lang/source with edge
    * spaces, would round-trip trimmed). `nullValue` is pinned to a
    * NUL sentinel on BOTH sides, so nulls write as the sentinel and
    * read back as null, while an empty-string field (written as the
    * writer-default quoted `""`) reads back as `""` instead of
    * collapsing into null — the reader's DEFAULT nullValue is the
    * empty string, which conflates the two. `emptyValue` is left at
    * its defaults deliberately: the write default already quotes
    * empties, and pinning it on the read side would rewrite quoted
    * empties into a literal two-character `""`. The sentinel is the
    * one string no real corpus field carries (parquet/JSON corpora
    * ship NUL-free; a field EQUAL to the sentinel would misread as
    * null, which is why it is NUL and not a space). */
  private val CsvOpts = Map(
    "quote" -> "\"", "escape" -> "\"",
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false",
    "nullValue" -> "\u0000")

  /** l20: CSV round trip in RFC-4180 posture — quote doubling
    * (`escape` = the quote character, not the default backslash,
    * which is NOT what other CSV consumers parse) and `multiLine`
    * reads so quoted embedded newlines stay inside their record. */
  def csvRoundTrip(documents: DataFrame): DataFrame =
    fidelity(roundTrip(documents, "csv",
      writeOpts = CsvOpts,
      readOpts = CsvOpts + ("multiLine" -> "true")))

  /** l21: the SPLITTABLE CSV posture — l20's `multiLine` read parses
    * quoted embedded newlines correctly but makes a CSV file
    * non-splittable (one multi-line record can straddle any byte
    * split, so each FILE becomes one task — the wrong shape for a
    * 100-TB export). The splittable variant instead guarantees
    * one-record-per-line BY CONSTRUCTION: record-separator bytes are
    * percent-encoded before the write (`%` → `%25` first, then LF →
    * `%0A`, CR → `%0D` — every `%` in the encoded text starts a
    * token, so the left-to-right decode `%0A` → LF, `%0D` → CR, then
    * `%25` → `%` LAST is unambiguous for every input, the standard
    * percent-encoding soundness argument), and decoded right after
    * the default line-oriented read. Same md5-vs-parquet proof as
    * l20, so the encode/decode pair is held lossless by the oracle
    * gate, not by inspection. Quotes/commas still ride RFC-4180
    * quoting — only the line structure is encoded. */
  def csvSplittableRoundTrip(documents: DataFrame): DataFrame = {
    val dec = (c: Column) =>
      regexp_replace(regexp_replace(regexp_replace(
        c, lit("%0A"), lit("\n")), lit("%0D"), lit("\r")),
        lit("%25"), lit("%"))
    val hard = hardened(documents)
    val back = documents.sparkSession.read.schema(hard.schema)
      .options(CsvOpts).format("csv").load(splittableCsvDir(documents))
    fidelity(back.select(col("doc_id"),
      dec(col("lang")).as("lang"), dec(col("source")).as("source"),
      dec(col("text")).as("text")))
  }

  /** The stored splittable-CSV directory for this corpus (written on
    * first call). `private[sources]` so the spec can prove the
    * one-record-per-line claim DIRECTLY — a raw line-oriented read of
    * the stored files must count exactly one line per document. */
  private[sources] def splittableCsvDir(documents: DataFrame): String = {
    val enc = (c: Column) =>
      regexp_replace(regexp_replace(regexp_replace(
        c, lit("%"), lit("%25")), lit("\n"), lit("%0A")),
        lit("\r"), lit("%0D"))
    val encoded = hardened(documents).select(col("doc_id"),
      enc(col("lang")).as("lang"), enc(col("source")).as("source"),
      enc(col("text")).as("text"))
    ModelArtifacts.stored("fidelity-csv-splittable", documents, "") { d =>
      encoded.write.options(CsvOpts).format("csv").save(d)
      d
    }
  }
}
