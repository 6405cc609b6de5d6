package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis primitives (SURVEY.md §2.8 F8, §2.10).
  *
  * All of these are built from Spark's codegen'd built-in/higher-order
  * functions — no UDFs — so they stay inside whole-stage codegen and scale
  * to 100 TB document corpora without serialization overhead.
  */
object TextOps {

  /** Lowercased word tokens; empty strings from leading/trailing separators
    * removed. Mirrors DuckDB `list_filter(string_split_regex(lower(x),
    * '\W+'), x -> x <> '')` for oracle portability.
    */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "\\W+"), "")

  /** n-word shingles ("w1 w2 w3") of a token array; empty when fewer than
    * `n` tokens (guard needed: Spark's `sequence(a, b)` generates a
    * *descending* range when a > b rather than an empty one).
    *
    * PERF: pass a *materialized column* (project `tokens(...)` first in a
    * select below the consuming Generate/explode), never the tokens
    * expression inline — the lambda references `toks` per element, and
    * CollapseProject would re-evaluate the whole tokenization once per
    * shingle per row (measured 10-30x slowdown on the dedup pipeline).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " "))
    ).otherwise(array().cast("array<string>"))

  /** Type-token ratio (distinct/total) — a quality-scoring signal. */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Mean token length, computed exactly over integer lengths. */
  def avgTokenLength(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0L), (acc, x) => acc + x)
      .cast("double") / size(toks)

  /** Count of tokens drawn from a fixed marker set (language-ID heuristic
    * building block; n-gram-free variant — marker stopwords).
    */
  def markerCount(toks: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  /** Highest frequency of any single element in an array — the building
    * block of repetition scoring. Computed as the longest equal-run of
    * the SORTED array: O(n log n) per row and independent of the number
    * of distinct elements, where the naive count-each-distinct form is
    * O(n·d) — quadratic on the exact documents repetition filters exist
    * to catch (a doc that is one phrase repeated 10k times). Pure
    * codegen'd higher-order functions; zero shuffle: per-document
    * repetition needs no grouping at all.
    */
  def maxElementFreq(arr: Column): Column = {
    // Elements are compared via their canonical STRING form so the
    // string-typed accumulator works for any element type (bigint,
    // double, ...) — equal values have equal canonical strings, and the
    // run-length scan only needs SOME total order that groups equals
    // (lexicographic is as good as numeric for that).
    val stepped = aggregate(
      array_sort(transform(arr, e => e.cast("string"))),
      struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    stepped
  }

  /** Longest equal-run AND distinct count of an ALREADY-SORTED string
    * array, in one aggregate pass — struct(best, nd). The repetition
    * scorer (q61) needs both statistics of the same bigram array;
    * computing them together halves the interpreted-HOF passes vs
    * [[maxElementFreq]] + `array_distinct`. Equal elements must be
    * adjacent (sort first); `best` over a sorted array IS the max
    * element frequency (spec-asserted equal to the naive form).
    */
  def sortedRunStats(sorted: Column): Column = {
    val stepped = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("best"), lit(0L).as("nd")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        val nd = when(x === acc.getField("prev"),
          acc.getField("nd")).otherwise(acc.getField("nd") + 1L)
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"), nd.as("nd"))
      },
      acc => struct(acc.getField("best").as("best"), acc.getField("nd").as("nd")))
    stepped
  }

  /** BPE-ish subword tokens: alternating alphanumeric runs and individual
    * punctuation marks — the pre-tokenization split most BPE vocabularies
    * assume. ASCII classes only, so Java-regex and RE2 agree.
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Character n-grams of a string ("rolling window"). */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => substring(text, i, lit(n)))
    ).otherwise(array().cast("array<string>"))

  /** Document fingerprint (rolling-hash family; cf. Schleimer, Wilkerson &
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — this is the global bottom-k variant): the bottom-k
    * sketch of the char-n-gram hash set. Two documents' sketch overlap
    * estimates their n-gram Jaccard; identical prefixes/edits barely move
    * the sketch. k hashes per doc regardless of length.
    */
  def fingerprint(text: Column, n: Int = 8, k: Int = 16): Column =
    slice(array_sort(array_distinct(
      transform(charNgrams(text, n), g => xxhash64(g)))), 1, k)

  /** Hashes of every char n-gram ("rolling hash" stream). Materialize
    * this in its OWN projection before feeding [[winnowFromHashes]] —
    * same CollapseProject trap as [[shingles]].
    */
  def ngramHashes(text: Column, n: Int): Column =
    transform(charNgrams(text, n), g => xxhash64(g))

  /** Winnowing fingerprint — the POSITIONAL variant of Schleimer,
    * Wilkerson & Aiken (SIGMOD 2003): keep the minimum of each sliding
    * window of `w` consecutive n-gram hashes, distinct. Unlike the global
    * bottom-k sketch above, winnowing GUARANTEES any common substring of
    * length >= w + n - 1 contributes a shared fingerprint (the
    * local-match detection the bottom-k form cannot promise), at density
    * ~2/(w+1) of the n-gram count.
    *
    * PERF: `hashes` MUST be a materialized column ([[ngramHashes]]
    * projected in a select below this one), never the expression inline —
    * the window lambda references it per element, and CollapseProject
    * would re-hash the whole document once per window (O(len²) per doc;
    * measured minutes-vs-seconds on the sf0.1 corpus). With a
    * materialized array the cost is O(len·w) codegen'd element ops (w is
    * a small constant; the O(len) monotone-deque rolling min is not
    * expressible in higher-order functions, and for w <= 8 the
    * difference is noise next to the hashing itself).
    */
  def winnowFromHashes(hashes: Column, w: Int = 4): Column =
    when(size(hashes) >= w,
      array_distinct(transform(sequence(lit(1), size(hashes) - (w - 1)),
        i => array_min(slice(hashes, i, lit(w))))))
      .when(size(hashes) > 0, array(array_min(hashes)))
      .otherwise(array().cast("array<bigint>"))

  /** One-expression convenience form of winnowing — ONLY for small/ad-hoc
    * inputs: inlining the hash stream into the window lambda triggers the
    * re-evaluation trap described on [[winnowFromHashes]]. Hot paths must
    * use the two-step materialized form (see q51).
    */
  def winnow(text: Column, n: Int = 8, w: Int = 4): Column =
    winnowFromHashes(ngramHashes(text, n), w)
}
