package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline surface (north star in
  * BASELINE.json): tokenization, deterministic word/shingle hashing, document
  * fingerprinting, MinHash signatures, SimHash — all as higher-order Column
  * expressions (codegen-friendly, no UDFs, no driver-side loops).
  *
  * Hashing is a polynomial rolling hash (base 131, mod 1e9+7) over character
  * codes — chosen over murmur/xxhash because it is pure integer arithmetic,
  * reproducible in any SQL engine (the DuckDB oracles replicate it exactly),
  * and stable across Spark versions. At 100 TB the hash cost is embedded in
  * whole-stage codegen next to the scan — no extra pass over the data.
  */
object TextFunctions {
  /** Hash modulus (fits comfortably in 64-bit products: P² < 2⁶³ headroom
    * holds for every a*s+b we compute). */
  val P = 1000000007L
  val B = 131L

  /** Whitespace tokens, empties dropped (DuckDB twin: list_filter(string_split(t,' '), w -> w != '')). */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** Polynomial char hash of one word: fold (acc*131 + ascii(c)) % P. */
  def wordHash(w: Column): Column =
    aggregate(transform(split(w, ""), c => ascii(c).cast("long")),
      lit(0L), (acc, x) => (acc * B + x) % P)

  /** Token hashes of a document — the hot path of every dedup/fingerprint
    * pipeline (runs once per token of every document). Dispatches to the
    * native codegen'd Catalyst expression (graft.plans.TokenHashes): one
    * pass over the string, no per-character string allocation, no
    * interpreted lambda evaluators. Identical semantics to
    * [[tokenHashesComposed]] for BMP text (property-checked in PlansSpec);
    * same DuckDB twin either way. */
  def tokenHashes(text: Column): Column = graft.plans.GraftExtensions.tokenHashes(text)

  /** The pure-Column composed form (split → filter → per-word fold) — kept
    * as the executable specification the native expression is checked
    * against, and as the fallback if an engine build can't load the
    * extension. */
  def tokenHashesComposed(text: Column): Column = transform(tokens(text), w => wordHash(w))

  /** Document fingerprint: rolling hash over the token-hash sequence
    * (order-sensitive — reordered words change the fingerprint). */
  def fingerprint(text: Column): Column =
    fingerprintFromHashes(tokenHashes(text))

  def fingerprintFromHashes(th: Column): Column =
    aggregate(th, lit(0L), (acc, h) => (acc * B + h) % P)

  // =======================================================================
  // PERFORMANCE CONTRACT for the *FromX variants below: pass a materialized
  // ATTRIBUTE column (a previous withColumn stage), never an expression.
  // Catalyst has no common-subexpression elimination inside lambda trees —
  // passing tokenHashes(text) directly here re-evaluates the whole hash
  // pipeline at every reference (measured: 340 ms/doc vs ~1 ms/doc staged).
  // CollapseProject keeps multi-referenced non-cheap aliases staged, so a
  // withColumn chain is sufficient; add .cache() only where a join or
  // generator consumes the stage multiple times.
  //
  // Defensive shape: shingles/bigrams are SINGLE zip_with passes over slice()d
  // copies of the input — a constant number of references to the child, never
  // a per-element element_at back into the child tree. Even if CollapseProject
  // inlines an unstaged argument, the damage is bounded at ~5 re-evaluations
  // per row (O(n)), not O(n) re-evaluations (O(n²)) — the round-1 tx_ngram
  // pathology (116.8 s → ~1 s at sf0.1) cannot recur structurally.
  // =======================================================================

  /** Word-k-gram shingle hashes (k=3). Dispatches to the native codegen'd
    * expression (graft.plans.ShingleHashes) — one pass, no sliced-array
    * allocations; identical semantics to [[shinglesFromHashesComposed]]
    * (property-checked in PlansSpec). */
  def shinglesFromHashes(th: Column): Column =
    graft.plans.GraftExtensions.shingleHashes(th)

  /** Composed form (executable specification): zip the hash array against
    * its own 1- and 2-shifted slices, folding ((h₁·B+h₂)·B+h₃) mod P
    * pairwise ((a·B+b) mod P then (ab·B+c) mod P — identical by mod
    * distributivity). */
  def shinglesFromHashesComposed(th: Column): Column =
    when(size(th) < 3, array().cast("array<bigint>")).otherwise(
      zip_with(
        zip_with(slice(th, lit(1), size(th) - 2), slice(th, lit(2), size(th) - 2),
          (a, b) => (a * B + b) % P),
        slice(th, lit(3), size(th) - 2),
        (ab, c) => (ab * B + c) % P))

  /** Word-2-gram strings: one zip_with of the token array against its
    * 1-shifted slice. */
  def bigramsFromTokens(t: Column): Column =
    when(size(t) < 2, array().cast("array<string>")).otherwise(
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))

  /** Word n-grams joined with single spaces; empty array when the doc is
    * shorter than n. Same staging contract as [[bigramsFromTokens]]: `t`
    * must be a real (staged) column — it is referenced once per output
    * element by the slice lambda. */
  def ngramsFromTokens(t: Column, n: Int): Column =
    when(size(t) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))

  /** MinHash family: h_j(s) = (a_j*s + b_j) % P with deterministic a_j, b_j. */
  def minhashA(j: Int): Long = ((j + 1) * 2654435761L) % P
  def minhashB(j: Int): Long = (j * 40503L + 17L) % P

  /** One MinHash component over a shingle-hash array (NULL if no shingles). */
  def minhash(shingles: Column, j: Int): Column =
    when(size(shingles) === 0, lit(null).cast("long")).otherwise(
      array_min(transform(shingles, s => (lit(minhashA(j)) * s + lit(minhashB(j))) % P)))

  /** Full n-component MinHash signature over a STAGED shingle column. One
    * transform over the component index with a_j/b_j derived arithmetically —
    * a single plan subtree, not n inlined copies. */
  def minhashSigFromShingles(sh: Column, n: Int = 16): Column =
    transform(sequence(lit(0), lit(n - 1)), j => {
      val jl = (j + 1).cast("long")
      val a = (lit(2654435761L) * jl) % P
      val b = (j.cast("long") * 40503L + 17L) % P
      when(size(sh) === 0, lit(null).cast("long"))
        .otherwise(array_min(transform(sh, s => (a * s + b) % P)))
    })

  /** SimHash ±1 vote sums per bit over a STAGED token-hash column. */
  def simhashVotes(th: Column, bits: Int = 24): Column =
    transform(sequence(lit(0), lit(bits - 1)), j =>
      aggregate(th, lit(0L), (acc, h) =>
        acc + when(floor(h / pow(lit(2.0), j)).cast("long") % 2 === 1, 1L).otherwise(-1L)))

  /** Fold vote sums into the SimHash value (bit j set iff votes > 0). Single
    * zip_with pass — `votes` is referenced exactly once, so it stays cheap
    * even if CollapseProject inlines the vote expression. */
  def simhashFromVotes(votes: Column, bits: Int = 24): Column = {
    val powers = transform(sequence(lit(0), lit(bits - 1)),
      j => floor(pow(lit(2.0), j)).cast("long"))
    aggregate(zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** Stopword-hit count of a token array for a candidate language (lang-ID
    * heuristic). */
  def stopwordHitsFromTokens(toks: Column, stopwords: Seq[String]): Column = {
    val arr = array(stopwords.map(s => lit(s)): _*)
    size(filter(toks, t => array_contains(arr, t))).cast("bigint")
  }

  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"))
}
