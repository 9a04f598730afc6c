package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine column functions, built from codegen'd Spark builtins
  * (`org.apache.spark.sql.functions._`) so they stay inside
  * whole-stage codegen — no Scala UDFs in hot paths.
  *
  * These back the LLM-data-pipeline extensions (BASELINE.json
  * north_star): tokenization, fingerprinting, hashing for MinHash /
  * SimHash, and dense-vector math over `ArrayType` embeddings.
  */
package object functions {

  // ---------------------------------------------------------------- text

  /** Whitespace tokenization, lowercased, empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Distinct token set. */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-ish chunks + digits + punctuation
    * counted separately (a cheap proxy for a BPE tokenizer's token
    * count; the regex mirrors the common GPT-2 pre-tokenizer split). */
  def subwordCount(text: Column): Column =
    size(filter(
      split(text, "(?=[\\p{Punct}])|\\s+|(?<=\\D)(?=\\d)|(?=\\p{Lu})"),
      t => length(t) > 0))

  /** Character n-grams (shingles) of the normalized text — distinct,
    * first-occurrence order; a text shorter than `n` chars yields one
    * shingle (the whole text). Normalization (lower, trim, whitespace
    * collapse) stays in built-in codegen'd expressions; the n-gram
    * window runs in the single-pass [[CharNgrams]] kernel. (The
    * sequence+transform(substr) form this replaces is O(L²) per doc
    * AND interpreted — HigherOrderFunction is CodegenFallback;
    * measured ~30 s/corpus-pass at sf0.1 vs sub-second now.) */
  def charShingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    fx.charNgrams(norm, n)
  }

  /** Word n-grams as joined strings — distinct, first-occurrence
    * order; documents with fewer than `n` tokens yield an empty array.
    * Tokenization matches [[tokens]] (split on the Java regex `\s`
    * class, empties dropped) inside the single-pass [[WordNgrams]]
    * kernel. */
  def wordNgrams(text: Column, n: Int): Column =
    fx.wordNgrams(lower(trim(text)), n)

  /** 64-bit document fingerprint: xxhash64 of whitespace-normalized,
    * lowercased text — the "rolling hash fingerprint" of the pipeline
    * spec, deterministic and codegen'd. */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Content-defined md5 fingerprint (hex) of normalized text —
    * cross-engine checkable (DuckDB md5 matches). */
  def fingerprintMd5(text: Column): Column =
    md5(to_binary(regexp_replace(lower(trim(text)), "\\s+", " "), lit("utf-8")))

  // ------------------------------------------------------------- hashing

  /** Universal-hash family over a 64-bit base hash: h_i(x) =
    * (a_i * x + b_i) mod p, folded to non-negative long. Used for
    * MinHash signatures; parameters derive deterministically from the
    * seed index. */
  def affineHash(x: Column, a: Long, b: Long): Column =
    pmod(x * lit(a) + lit(b), lit(2862933555777941757L))

  /** Cross-engine-portable 60-bit string hash: the first 15 hex chars
    * of md5 parsed as an integer (< 2⁶³, so it fits a signed long on
    * any engine). Slower than xxhash64 but reproducible in plain SQL —
    * DuckDB: `('0x' || substr(md5(s), 1, 15))::BIGINT` — which makes
    * signature schemes built on it (e.g. SimHash) end-to-end
    * hash-oracle-able instead of spec-tested. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Z-order (Morton) interleave of two integer columns over `bits`
    * bits each: bit i of `a` lands at output bit 2i, bit i of `b` at
    * 2i+1 — the space-filling-curve key behind multi-dimensional data
    * clustering (Delta/Iceberg OPTIMIZE ZORDER). Range-partitioning on
    * the z-value gives every file a rectangle-ish region of (a, b)
    * space, so min/max footer pruning works on BOTH columns instead of
    * just the leading sort key.
    *
    * Contract: values must be in [0, 2^bits) — higher bits are
    * silently dropped (callers normalize/bucket first at scale). Pure
    * shift/mask column arithmetic, codegen'd, trivially replayable in
    * any SQL engine. */
  def zInterleave2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_.bitwiseOR(_))
  }

  // ------------------------------------------------------------- vectors

  /** Dot product of two ArrayType(Float/Double) columns in DoubleType
    * precision, via zip_with + aggregate (codegen'd higher-order
    * functions — no UDF). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Per-vector 8-bit scalar quantization: map each component to
    * floor((x − min) · 255 / (max − min)) ∈ [0, 255] (min/max taken
    * over the vector itself, the usual per-vector SQ8 for embedding
    * storage: 4× smaller than float32). Truncating floor, not
    * round-half — identical IEEE arithmetic in any engine, so
    * quantized codes are hash-oracle-able. A constant vector (max ==
    * min, NaN == NaN included) quantizes to all zeros, null components
    * included. Dequantize with [[dequantize8]]. */
  def quantize8(v: Column): Column = fx.quantize8Codes(v)
  // r18: was transform(v, x => when(mx === mn, 0).otherwise(floor((x −
  // mn)·255/(mx − mn)))) with mn/mx = array_min/max(v) INSIDE the
  // lambda — re-scanned per element (O(d²) interpreted work per row).
  // [[Quantize8Codes]] is the byte-identical one-loop kernel.

  /** Inverse of [[quantize8]] given the vector's original min/max:
    * x' = min + q · (max − min) / 255 (midpoint-free reconstruction,
    * error ≤ one quantization step per component). */
  def dequantize8(q: Column, mn: Column, mx: Column): Column =
    transform(q, c =>
      mn.cast("double") + c.cast("double") * (mx.cast("double") - mn.cast("double")) / 255.0)

  /** Pre-normalized cosine: divide each vector by its norm once, then
    * cosine = dot. Use `normalize` in a prior projection so the norm is
    * computed once per row instead of once per pair — the difference
    * between O(n·k·d) and O(n²·d) extra work in a top-k join.
    *
    * r18: the higher-order form `transform(a, v => v / norm2(a))`
    * embedded the whole-array aggregate inside the per-element lambda —
    * Catalyst re-evaluated the norm for EVERY element (O(d²)
    * interpreted-lambda work per row). Now the fused
    * [[NormalizeVec]] kernel: byte-identical output (same left-to-right
    * sum of squares, Math.sqrt, per-element double division — see
    * [[NormalizeImpl.normalize]]), one loop, whole-stage codegen. */
  def normalize(a: Column): Column = fx.normalizeVec(a)
}
