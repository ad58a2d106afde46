package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column library: tokenization, token/char statistics,
  * quality scoring, a stopword-vote language-ID heuristic, and document
  * fingerprinting. Everything here is pure `org.apache.spark.sql.functions`
  * composition (codegen'd, no UDFs) plus the custom [[PolyHash]] expression,
  * and every function keeps DuckDB-mirrorable semantics: identical regexes,
  * identical fold order, double arithmetic expressed the same way — which is
  * what lets the correctness gate hash-compare results exactly.
  *
  * The reference performs no text analysis (SURVEY.md §2.1); this layer is
  * the north-star extension for LLM training-data pipelines.
  */
object TextFunctions {

  /** Stopword lists for the language-ID vote. Deliberately tiny and
    * hard-coded: they are part of the operator's deterministic contract
    * (the DuckDB oracle embeds the same lists).
    */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "it")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "mit", "nicht", "ein")
  val StopwordsFr: Seq[String] = Seq("le", "la", "les", "et", "est", "dans", "une", "pour")
  val StopwordsEs: Seq[String] = Seq("el", "los", "las", "y", "es", "que", "una", "por")

  // set views for the fused kernel's per-token membership checks
  val StopEnSet: java.util.Set[String] = new java.util.HashSet(java.util.Arrays.asList(StopwordsEn: _*))
  // word -> list index, for the Gopher kernel's DISTINCT-stopword bitmask
  val StopEnIndex: java.util.Map[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    StopwordsEn.zipWithIndex.foreach { case (w, i) => m.put(w, i) }
    m
  }
  val StopDeSet: java.util.Set[String] = new java.util.HashSet(java.util.Arrays.asList(StopwordsDe: _*))
  val StopFrSet: java.util.Set[String] = new java.util.HashSet(java.util.Arrays.asList(StopwordsFr: _*))
  val StopEsSet: java.util.Set[String] = new java.util.HashSet(java.util.Arrays.asList(StopwordsEs: _*))

  /** Fused one-pass statistics struct (see [[Kernels.textStats]]); q21–q23
    * derive every metric from one scan instead of five.
    */
  def stats(text: Column): Column = GraftExpressions.text_stats(text)

  /** Single-space tokenizer — mirrors DuckDB `string_split(text, ' ')`
    * exactly (including empty-token behavior on doubled spaces).
    */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword pattern: runs of letters, runs of digits, or a single
    * other non-space character each match as one token. Same RE semantics in
    * Java regex and DuckDB's RE2 for this class-only pattern.
    */
  val BpeRegex = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  val PunctRegex = "[.,!?;:]"
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PunctRegex), lit(0)))

  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(lit(words.toArray), t)))

  def stopwordRatio(text: Column): Column =
    stopwordHits(text, StopwordsEn).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Quality score in [0,1]: length saturation + stopword signal − punctuation
    * penalty. The formula is the contract; weights are part of it.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(lit(1.0), tokenCount(text).cast("double") / lit(100.0))
    val stopScore = least(lit(1.0), stopwordRatio(text) * lit(5.0))
    val punctRatio = punctCount(text).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val punctScore = lit(1.0) - least(lit(1.0), punctRatio * lit(10.0))
    round(lit(0.5) * lenScore + lit(0.3) * stopScore + lit(0.2) * punctScore, 6)
  }

  /** n-gram/stopword language-ID heuristic: CJK codepoints force `zh`;
    * otherwise the language whose stopword list scores the most hits wins,
    * ties resolved in fixed order en > de > fr > es; zero hits → `unknown`.
    */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, StopwordsEn)
    val de = stopwordHits(text, StopwordsDe)
    val fr = stopwordHits(text, StopwordsFr)
    val es = stopwordHits(text, StopwordsEs)
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(en >= de && en >= fr && en >= es && en > 0, lit("en"))
      .when(de >= fr && de >= es && de > 0, lit("de"))
      .when(fr >= es && fr > 0, lit("fr"))
      .when(es > 0, lit("es"))
      .otherwise(lit("unknown"))
  }

  /** [[qualityScore]] as ONE custom expression — same formula bit-for-bit
    * (q22 pins it against the DuckDB oracle), one kernel call per row. Use
    * this form anywhere quality feeds another operator, and ALWAYS when
    * quality appears in a FILTER: FilterExec generates predicates without
    * subexpression elimination, so the earlier `text_stats`+getField
    * composition re-ran the stats kernel once per referenced field there —
    * measured 50–175× slower than this form at 200k docs (`Profile micro`).
    */
  def qualityScoreFused(text: Column): Column =
    GraftExpressions.quality_score(text)

  /** Document fingerprint: the engine-wide deterministic polynomial hash of
    * the full text (custom codegen'd expression, see [[PolyHash]]).
    */
  def fingerprint(text: Column): Column = GraftExpressions.poly_hash(text)

  /** Winnowed fingerprints (Schleimer et al., SIGMOD 2003): the distinct
    * sliding-window minima of the positional k-token shingle hashes — a
    * SET of substring-robust fingerprints instead of [[fingerprint]]'s
    * single whole-document hash, so two documents sharing any run of
    * ≥ `w + k - 1` tokens are guaranteed at least one common fingerprint.
    * One-pass O(n) codegen kernel ([[Kernels.winnow]]); the MOSS-style
    * pair detector over these lives in
    * [[graft.operators.Dedup.winnowedPairs]].
    */
  def winnow(text: Column, k: Int, w: Int): Column = {
    require(k > 0 && w > 0, s"need k > 0 and w > 0, got k=$k w=$w")
    GraftExpressions.winnow_fps(text, k, w)
  }

  /** Redaction patterns for [[scrub]]: pure character-class regexes, which
    * behave identically under Java regex and RE2 — no backrefs, no
    * lookaround, so the operator stays portable across engines.
    */
  val EmailRegex = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val LongNumberRegex = "[0-9]{7,}"

  /** Canonical text normalization — the step BEFORE any dedup or
    * fingerprint: [ \t\n\r]+ runs collapse to one space (edges trimmed),
    * then Unicode NFC composition, in one kernel pass
    * ([[Kernels.normalizeText]]). Byte-different but canonically-equal
    * copies (decomposed accents, CRLF vs LF) hash apart without it.
    */
  def normalize(text: Column): Column = GraftExpressions.normalize_text(text)

  /** PII-style scrubbing for training corpora: emails → `<email>`,
    * 7+-digit number runs (phone/account/SSN-shaped) → `<num>`. Order
    * matters — emails first, so a numeric local-part is not half-eaten by
    * the number pass. Column-level `regexp_replace` chain: codegen'd,
    * scan-only, no UDF.
    */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRegex, "<email>"),
      LongNumberRegex,
      "<num>"
    )

  /** Hashing-trick text embedding (`array<float>`, see
    * [[Kernels.featureHash]]): vocabulary-free, deterministic, one codegen
    * pass — the bridge from raw text into the similarity stack (cosine /
    * ANN / embedding near-dup) without an external model.
    */
  def embed(text: Column, dim: Int = 32): Column =
    GraftExpressions.feature_hash(text, dim)

  /** Deterministic content-hash train/val split: hash of the TEXT (not the
    * id), so exact duplicates always land in the same split — the property
    * that prevents train/val leakage in LLM pipelines. Pure function of
    * content: stable across runs, partitionings, and engines.
    */
  def splitAssign(text: Column, trainPct: Int = 80): Column =
    when(GraftExpressions.poly_hash(text) % lit(100L) < trainPct, lit("train"))
      .otherwise(lit("val"))

  /** Deterministic content-hash sampling predicate: keep a row iff
    * `poly_hash(key) mod 100 < keepPct`. Same machinery as
    * [[splitAssign]] but for SUBSAMPLING: reproducible across runs,
    * engines, and partitionings (unlike `df.sample`, whose output depends
    * on partition layout), and exact duplicates sample identically — so a
    * sampled corpus stays dedup-consistent.
    */
  def sampledBy(key: Column, keepPct: Int): Column =
    GraftExpressions.poly_hash(key) % lit(100L) < keepPct

  /** Overlapping token-window chunking — the context-window prep step of
    * an LLM training pipeline: chunk i covers tokens [i·(size−overlap),
    * i·(size−overlap)+size), starts advance by `size − overlap`, and
    * every token position below `n` starts-or-belongs to some chunk
    * (chunk count = ⌈n / step⌉; the tail chunk may be short). Pure
    * `transform`/`slice` composition so the DuckDB oracle can replay the
    * identical windows.
    */
  def chunks(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(
      chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap"
    )
    // codegen kernel since r06 — the HOF form re-split the text once per
    // chunk (the positionalShingles pitfall at n²/step); equivalence
    // pinned in MinHashExprSpec
    GraftExpressions.token_chunks(text, chunkSize, overlap)
  }

  /** k-token windows in POSITION order (not distinct) — the shared window
    * transform [[shingles]] and the repetition metrics build on. A
    * codegen kernel ([[Kernels.positionalShingles]]) since r06: the HOF
    * composition (`transform(sequence(…), i -> concat_ws(slice(t…)))`)
    * re-evaluated `split(text)` once per window — quadratic in document
    * length (1443 s for one 100k-token doc in the scale smoke). Mirrors
    * `OracleFragments.positionalShingles` exactly (including the
    * shorter-than-k clamp on short documents); kernel == HOF equivalence
    * is pinned in MinHashExprSpec.
    */
  def positionalShingles(text: Column, k: Int): Column =
    GraftExpressions.positional_shingles(text, k)

  /** Positional shingle hashes (order preserved, repeats preserved) — the
    * occurrence stream the repetition metrics count over. Kernel form of
    * `transform(positionalShingles, poly_hash)` (no window strings
    * materialized).
    */
  def positionalShingleHashes(text: Column, k: Int): Column =
    GraftExpressions.positional_shingle_hashes(text, k)

  /** Distinct k-token shingles, the unit of MinHash/Jaccard dedup. */
  def shingles(text: Column, k: Int): Column =
    array_distinct(positionalShingles(text, k))

  /** Hashes of the distinct shingles — the set MinHash signatures minimize over. */
  def shingleHashes(text: Column, k: Int): Column =
    transform(shingles(text, k), s => GraftExpressions.poly_hash(s))
}
