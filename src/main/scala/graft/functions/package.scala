package graft

import org.apache.spark.sql.{Column, GraftColumnBridge}

/** DataFrame-API face of the engine's native Catalyst expressions. */
package object functions {

  /** 64-bit SimHash of a string-array column (native expression,
    * whole-stage-codegen'd — see [[SimHash64Expr]]). */
  def simhash64(tokens: Column): Column =
    GraftColumnBridge.column(SimHash64Expr(GraftColumnBridge.expression(tokens)))

  /** MinHash signature of a string-array column (native expression,
    * whole-stage-codegen'd — see [[MinHashSigExpr]]). */
  def minhashSig(shingles: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    GraftColumnBridge.column(
      MinHashSigExpr(GraftColumnBridge.expression(shingles), numHashes, seed))

  /** Double-precision dot product of two numeric-array columns (native
    * expression, whole-stage-codegen'd — see [[DotProductExpr]]). */
  def dotProduct(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Double-precision SQUARED L2 distance of two numeric-array columns
    * (native expression, whole-stage-codegen'd — see [[L2SqExpr]]). */
  def l2Sq(a: Column, b: Column): Column =
    GraftColumnBridge.column(L2SqExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Sorted distinct 64-bit hash set of a string-array column (native
    * expression — see [[TokenSetExpr]]); pairs with
    * [[sortedIntersectCount]] for O(n+m) pairwise set similarity. */
  def tokenSet(tokens: Column): Column =
    GraftColumnBridge.column(TokenSetExpr(GraftColumnBridge.expression(tokens)))

  /** Intersection size of two sorted long arrays (native expression —
    * see [[SortedIntersectCountExpr]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCountExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** All sliding character n-grams of a string column (native
    * expression — see [[CharNgramsExpr]]). */
  def charNgrams(text: Column, n: Int): Column =
    GraftColumnBridge.column(CharNgramsExpr(GraftColumnBridge.expression(text), n))

  /** One-pass token, stop-word, character and punctuation counts of a
    * string column, as a struct (native expression — see
    * [[TextStatsExpr]]): the counts under the text-quality features. */
  def textStats(text: Column, stops: Seq[String]): Column =
    GraftColumnBridge.column(TextStatsExpr(GraftColumnBridge.expression(text), stops))

  /** The `bands` LSH band keys of a signature column, `rows` elements
    * each, as md5 hex strings (native expression — see
    * [[BandKeysExpr]]). */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    GraftColumnBridge.column(BandKeysExpr(GraftColumnBridge.expression(sig), bands, rows))

  /** All sliding word n-grams of a string column, whitespace-tokenized
    * and space-joined (native expression — see [[WordNgramsExpr]]).
    * `distinct = true` → first-occurrence-ordered shingle set. */
  def wordNgrams(text: Column, n: Int, distinct: Boolean = false): Column =
    GraftColumnBridge.column(
      WordNgramsExpr(GraftColumnBridge.expression(text), n, distinct))

  /** Deterministic L2-normalized hash pseudo-embedding of a binary
    * column (native expression — see [[HashFeaturesExpr]]). */
  def hashFeatures(bin: Column, dim: Int): Column =
    GraftColumnBridge.column(
      HashFeaturesExpr(GraftColumnBridge.expression(bin), dim))

  /** Per-row value counts of a string-array column as a sorted
    * `(item, cnt)` struct array (native expression — see
    * [[ValueCountsExpr]]): the within-row aggregate that turns a
    * corpus-sized `explode + groupBy(id, gram)` shuffle into a narrow
    * map whose output is vocabulary-bounded per row. */
  def valueCounts(arr: Column): Column =
    GraftColumnBridge.column(ValueCountsExpr(GraftColumnBridge.expression(arr)))

  /** FNV-1a 64 of a string column (native expression — see
    * [[Fnv64Expr]]): the package's shared byte-fold hash as a scalar,
    * chosen where an external engine must replay the hash exactly. */
  def fnv64(s: Column): Column =
    GraftColumnBridge.column(Fnv64Expr(GraftColumnBridge.expression(s)))

  /** How many of `bounds` (internal values of `key`'s type, ascending
    * in Spark's order — [[BucketIndexExpr.sorted]]) sort strictly below
    * `key`; a null key counts 0 (native expression, constant-size
    * generated code at any bound count — see [[BucketIndexExpr]]). */
  def bucketIndex(key: Column, bounds: IndexedSeq[Any]): Column =
    GraftColumnBridge.column(BucketIndexExpr(GraftColumnBridge.expression(key), bounds))

  /** Winnowing document fingerprints (MOSS; native expression — see
    * [[WinnowExpr]]): sorted distinct selected k-gram hashes, window
    * size `w`. Pairs with [[sortedIntersectCount]] for set overlap. */
  def winnow(text: Column, k: Int = 5, w: Int = 4): Column =
    GraftColumnBridge.column(WinnowExpr(GraftColumnBridge.expression(text), k, w))
}
