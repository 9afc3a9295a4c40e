package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Column-level entry points for the engine's custom expressions plus a
 * few composite helpers built from stock Catalyst functions.
 */
package object functions {

  private def col2expr(c: Column) = org.apache.spark.sql.graftbridge.Bridge.expression(c)
  private def expr2col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(e)

  /** Squared L2 distance between two float vectors. */
  def l2_distance(a: Column, b: Column): Column =
    expr2col(VectorDistance(col2expr(a), col2expr(b), "L2"))

  /** 1 − inner product. */
  def ip_distance(a: Column, b: Column): Column =
    expr2col(VectorDistance(col2expr(a), col2expr(b), "IP"))

  /** 1 − cosine similarity. */
  def cosine_distance(a: Column, b: Column): Column =
    expr2col(VectorDistance(col2expr(a), col2expr(b), "COSINE"))

  def vector_distance(a: Column, b: Column, metric: String): Column =
    expr2col(VectorDistance(col2expr(a), col2expr(b), metric))

  /** Occurrence count of needle in haystack (expr-language `contains`). */
  def contains_count(hay: Column, needle: Column): Column =
    expr2col(ContainsCount(col2expr(hay), col2expr(needle)))

  /** Damerau-Levenshtein (OSA) edit distance. */
  def damerau_levenshtein(a: Column, b: Column): Column =
    expr2col(DamerauLevenshtein(col2expr(a), col2expr(b)))

  /** strftime over UTC unix seconds. */
  def timefmt(ts: Column, fmt: Column): Column =
    expr2col(StrfTime(col2expr(ts), col2expr(fmt)))

  /** strptime → unix seconds (double), NULL on failure. */
  def parsetime(s: Column, fmt: Column): Column =
    expr2col(ParseTime(col2expr(s), col2expr(fmt)))
  /** C %.11g rendering of a double (reference FormatDouble). */
  def format_g(d: Column): Column =
    expr2col(FormatG(col2expr(d)))
  /** String → double with the NaN invalid sentinel (NUMERIC ingest). */
  def try_double_or_nan(s: Column): Column =
    expr2col(TryDoubleOrNan(col2expr(s)))
  /** MinHash signature of an array<string> shingle column. */
  def minhash_sig(shingles: Column, a: Array[Long], b: Array[Long]): Column =
    expr2col(MinHashSig(col2expr(shingles), a, b))
  /** LSH (band, bh) keys of a MinHash signature (one JVM loop). */
  def band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    expr2col(BandKeys(col2expr(sig), bands, rowsPerBand))
  /** b-bit minwise sketch: low byte per signature component. */
  def sig_pack_bytes(sig: Column): Column =
    expr2col(SigPackBytes(col2expr(sig)))
  /** Fraction of equal bytes between two equal-length binaries. */
  def byte_agree_frac(a: Column, b: Column): Column =
    expr2col(ByteAgreeFrac(col2expr(a), col2expr(b)))
  /** 64-bit SimHash of a token array. */
  def simhash64(tokens: Column): Column =
    expr2col(SimHash64(col2expr(tokens)))
  /** Sorted-distinct 64-bit hashes of word n-grams (one JVM loop). */
  def hashed_shingles(words: Column, n: Int): Column =
    expr2col(HashedShingles(col2expr(words), n))
  /** Distinct space-joined word n-gram STRINGS (one JVM loop). */
  def word_ngrams(words: Column, n: Int): Column =
    expr2col(WordNgrams(col2expr(words), n))
  /** DSIR unigram+bigram md5 buckets of a word array (one JVM loop). */
  def dsir_buckets(words: Column, nBuckets: Int): Column =
    expr2col(DsirBuckets(col2expr(words), nBuckets))
  /** TAG tokenization (split/trim/fold/drop-empties, one JVM pass). */
  def tags_of(s: Column, sep: String, caseSensitive: Boolean): Column =
    expr2col(TagsOf(col2expr(s), sep, caseSensitive))
  /** Bloom membership probe of a long-hash column (serialized bits). */
  def bloom_might_contain(hash: Column, bits: Array[Byte]): Column =
    expr2col(BloomMightContainLong(col2expr(hash), bits))
  /** Rolling hash of every len-token window (one pass, O(tokens)). */
  def token_window_hashes(words: Column, len: Int): Column =
    expr2col(TokenWindowHashes(col2expr(words), len))
  /** Drop tokens covered by len-windows at sorted positions; rejoin. */
  def cut_spans(words: Column, positions: Column, len: Int): Column =
    expr2col(CutSpans(col2expr(words), col2expr(positions), len))
  /** Duplicate-line repetition stats struct (one JVM pass). */
  def repetition_stats(text: Column): Column =
    expr2col(RepetitionStats(col2expr(text)))
  /** Gopher duplicate word-n-gram stats struct (one JVM pass). */
  def ngram_repetition_stats(text: Column): Column =
    expr2col(NgramRepetitionStats(col2expr(text)))
  /** Winnowing fingerprint: sorted-distinct window-min gram hashes. */
  def winnow_fingerprint(text: Column, k: Int, w: Int): Column =
    expr2col(WinnowFingerprint(col2expr(text), k, w))
  /** Int8 scalar-quantize a float vector → (scale, code) struct. */
  def sq_encode(vec: Column): Column =
    expr2col(SqEncode(col2expr(vec)))
  /** Asymmetric distance: float query vs sq_encode struct (L2|IP). */
  def sq_distance(sq: Column, query: Column, metric: String): Column =
    expr2col(SqDistance(col2expr(sq), col2expr(query), metric))
  /** Product-quantization encode: float vector → m-byte code array. */
  def pq_encode(vec: Column, books: Array[Array[Array[Float]]]): Column =
    expr2col(PqEncode(col2expr(vec), books))
  /** PQ asymmetric distance via a precomputed per-query lookup table. */
  def pq_adc(codes: Column, lut: Array[Float], offsets: Array[Int],
             addConst: Double): Column =
    expr2col(PqAdc(col2expr(codes), lut, offsets, addConst))
  /** Random-hyperplane sign bits of a float-array column (one pass). */
  def sign_lsh(vec: Column, planes: Array[Array[Double]]): Column =
    expr2col(SignLsh(col2expr(vec), planes))
  /** Nearest-centroid index (squared L2, ties to lower index). */
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    expr2col(NearestCentroid(col2expr(vec), centroids))
  /** Any-token pattern match over array<struct<tok,pos>> (one pass). */
  def token_match(tokens: Column, pattern: String, mode: TokenMatch.Mode,
                  maxDist: Int = 0): Column =
    expr2col(TokenMatch(col2expr(tokens), pattern, mode, maxDist))
  /** SLOP/INORDER positional match over array<struct<tok,pos>>. */
  def proximity_match(tokens: Column, specs: Seq[graft.text.Proximity.Spec],
                      slop: Int, inorder: Boolean): Column =
    expr2col(ProximityMatch(col2expr(tokens), specs, slop, inorder))
  /** Any-element-has-any-prefix over array<string> (one pass). */
  def any_prefix_match(arr: Column, prefixes: Seq[String]): Column =
    expr2col(AnyPrefixMatch(col2expr(arr), prefixes))
  /** All whitespace-token text statistics in one pass (struct). */
  def text_stats(text: Column, stopwords: Seq[String],
                 profiles: Seq[Seq[String]]): Column =
    expr2col(TextStats(col2expr(text), stopwords, profiles))
  /** Raw Gopher-rule counts in one pass (struct). */
  def gopher_counts(text: Column): Column =
    expr2col(GopherCounts(col2expr(text)))
  /** A request-supplied number as a literal whose generated code reads
    * it by reference, so a new value reuses the compiled class (see
    * [[RefLiteral]]). */
  def ref_lit(v: Double): Column = expr2col(RefLiteral(v))
  /** Compute an expensive (struct) expression ONCE per row: a
    * deterministic pass-through that the optimizer must not duplicate
    * per referencing predicate nor push filters through (see
    * [[EvalOnce]]). */
  def eval_once(c: Column): Column =
    expr2col(EvalOnce(col2expr(c)))
}
