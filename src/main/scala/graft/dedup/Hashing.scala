package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashing and tokenization primitives shared by
  * the dedup / similarity / text-analysis operators.
  *
  * Everything here must be replicable in ANSI-ish SQL so the DuckDB oracle
  * can recompute it: hashes are md5-prefix based (both engines agree on md5
  * of UTF-8 text), not Spark-internal murmur/xxhash (engine-specific).
  * Every expression is codegen'd — built-ins or the engine's native
  * kernels ([[graft.functions.Hash60]], [[graft.functions.WordShingles]]);
  * no UDFs in any hot path.
  */
object Hashing {

  /** 60-bit deterministic hash of a string column: first 15 hex chars of
    * md5, read as a base-16 number. DuckDB equivalent:
    * `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`.
    * 60 bits keeps it positive in a signed 64-bit long in both engines.
    * Computed by the [[graft.functions.Hash60]] kernel straight off the
    * digest bytes; [[graft.functions.Hash60.of]] is its driver-side scalar.
    */
  def hash60(c: Column): Column = graft.functions.Hash60.hash60(c)

  /** SQL text of [[hash60]] for DuckDB oracle generation. */
  def hash60Sql(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"

  /** Explicit whitespace character class shared by every tokenizer that
    * must agree with the DuckDB oracle: Java regex `\s` is
    * `[ \t\n\x0B\f\r]` but RE2's `\s` (DuckDB) EXCLUDES vertical tab
    * `\x0B` — a byte dirty scraped text does carry — so the shorthand
    * silently breaks the bit-exact contract on exactly the inputs parquet
    * never validates. The same fragment interpolates into both spellings
    * (RE2 accepts the `\xhh` escape; verified splitting `a\x0Bb` in
    * DuckDB).
    */
  val Ws = "[ \\t\\n\\x0B\\f\\r]"

  /** [[Ws]] complement fragment for negated classes (`[^a-z0-9<this>]`). */
  val WsChars = " \\t\\n\\x0B\\f\\r"

  /** Word tokenization shared with the reference word-count pipeline:
    * lower-case, split on non-alphanumerics. DuckDB equivalent:
    * `regexp_split_to_array(lower(text), '[^a-z0-9]+')`.
    */
  def words(text: Column): Column = split(lower(text), "[^a-z0-9]+")

  /** Word k-gram shingles as an array column (docs shorter than k words
    * yield an empty array). DuckDB equivalent:
    * `[array_to_string(words[i:i+k-1], ' ') for i in range(1, len(words)-k+2)]`.
    *
    * Backed by the codegen'd [[graft.functions.WordShingles]] kernel
    * (r11). The composable HOF spelling —
    * `transform(sequence(0, n−k), i => array_join(slice(w, i+1, k), ' '))`
    * — is CodegenFallback: each window walks an interpreted slice+join
    * tree, and with shingling under EVERY near-dup family that interpreted
    * constant dominated the curation bench profile (repetition signals
    * dropped ~4× CPU on the swap). It also carried a second trap: an
    * expression captured inside the lambda is re-evaluated PER ELEMENT, so
    * inlining `words(text)` re-split the document once per shingle
    * (measured 4.9 s vs 0.6 s at sf0.1) — the native kernel reads its
    * input array once by construction, though [[explodeShingles]] still
    * materializes `__w` so the SPLIT itself runs once per row.
    */
  def shingles(w: Column, k: Int): Column =
    graft.functions.WordShingles.wordShingles(w, k)

  /** (doc_id, shingle) rows of `df`'s text column, with the words array
    * materialized as its own projection before the shingle lambda (see
    * [[shingles]]; CollapseProject keeps the alias because a non-cheap
    * expression referenced more than once is never re-inlined).
    */
  def explodeShingles(df: DataFrame, k: Int): DataFrame =
    df.select(col("doc_id"), words(col("text")).as("__w"))
      .select(col("doc_id"), explode(shingles(col("__w"), k)).as("shingle"))
}
