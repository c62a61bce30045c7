package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, SQL-portable scalar functions shared by the engine and
  * its DuckDB oracle.
  *
  * The reference encodes each word to a BPE token id via JTokkit
  * `cl100k_base`, keeping only the FIRST token id
  * (reference `MapRedWord2Vec.scala:69-70,170`) — a lossy label, not a
  * reversible encoding (SURVEY.md §4.3). Offline (no JTokkit) we replace it
  * with a deterministic polynomial char-code hash that both Spark and DuckDB
  * can compute, so the flagship output stays oracle-checked end to end
  * (SURVEY.md §7.1).
  *
  * Nothing here is a Scala UDF. The functions compose Spark built-ins
  * and higher-order array functions (`aggregate`, `transform`); where a
  * lambda would run per corpus token (the token hash, the tokenizer)
  * the function dispatches to a native [[graft.plans]] expression
  * instead, because Spark evaluates HOF lambdas interpreted, row by row.
  * Each native kernel's HOF form is its executable spec and lives in
  * test (`HofSpecs`, checked by `KernelParitySpec`).
  */
object Portable {
  /** Modulus keeps the fold inside Long range: acc < P, so
    * acc*31 + char < 3.2e10 << Long.MaxValue. Same literal used in the
    * DuckDB oracle SQL. */
  val P: Long = 1000000007L

  /** word -> Long token id: fold (acc*31 + codepoint) % P over characters.
    * Stands in for the reference's first-BPE-token encode (R6).
    * Dispatches to the native codegen'd expression
    * ([[graft.plans.TokenId]]). */
  def tokenId(c: Column): Column = graft.plans.TokenId.tokenId(c)

  /** Order-sensitive document fingerprint: fold (acc*131 + tokenId(word)) % P
    * over a word array — a rolling polynomial hash over the token stream,
    * so reordered documents fingerprint differently (unlike a set hash). */
  def fingerprint(words: Column): Column =
    aggregate(words, lit(0L), (acc, w) => (acc * lit(131L) + tokenId(w)) % lit(P))

  /** The same tokenizer the reference applies (R4+R5,
    * `MapRedWord2Vec.scala:101-102`): lowercase, split on non-word runs,
    * keep purely alphabetic tokens — Spark's `lower()`, then the native
    * split-and-keep scan ([[graft.plans.ReferenceTokens]]), identical to
    * `filter(split(lower(text), "\\W+"), w -> w rlike "^[a-z]+$")`. */
  def tokenize(text: Column): Column =
    graft.plans.ReferenceTokens.referenceTokens(lower(text))
}
