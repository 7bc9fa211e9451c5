package graft.linkage.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf

/** Column-level facade over the custom Catalyst expressions — the graft
  * analog of `org.apache.spark.sql.functions`. */
object functions {
  import ColumnBridge.{column => col_, expression => expr_}

  def normalize_ascii(c: Column): Column = col_(NormalizeAscii(expr_(c)))
  def jaro_winkler(a: Column, b: Column): Column =
    col_(JaroWinkler(expr_(a), expr_(b)))
  def address_distance_above(a: Column, b: Column, threshold: Double): Column =
    col_(AddressDistanceAbove(expr_(a), expr_(b), threshold))
  def hamming_sim(a: Column, b: Column): Column =
    col_(HammingSim(expr_(a), expr_(b)))
  def dot_product(a: Column, b: Column): Column =
    col_(DotProduct(expr_(a), expr_(b)))
  def nearest_centroid(emb: Column, centroids: Array[Array[Double]]): Column =
    col_(NearestCentroid(expr_(emb), centroids))
  def nearest_centroids(emb: Column, centroids: Array[Array[Double]],
                        nProbe: Int): Column =
    col_(NearestCentroids(expr_(emb), centroids, nProbe))
  def minhash_shingles(text: Column, n: Int): Column =
    col_(MinHashShingles(expr_(text), n))
  def minhash_signature(shingles: Column, numHashes: Int, seed: Long,
                        oph: Boolean): Column =
    col_(MinHashSignature(expr_(shingles), numHashes, seed, oph))
  def lsh_bands(sig: Column, bands: Int, rows: Int): Column =
    col_(LshBands(expr_(sig), bands, rows))
  /** [[TextFeatures]] under the session's case mapping. */
  def text_features(text: Column, ngram: Int = 0): Column =
    col_(TextFeatures(expr_(text), ngram,
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)))
  /** [[FoldFields]] under the session's case mapping. */
  def fold_fields(turns: Column): Column =
    col_(FoldFields(expr_(turns),
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)))
  def sorted_jaccard_above(a: Column, b: Column, threshold: Double): Column =
    col_(SortedJaccardAbove(expr_(a), expr_(b), threshold))
  def pq_encode(emb: Column, codebooks: Array[Array[Array[Double]]]): Column =
    col_(PqEncodeExpr(expr_(emb), codebooks))
  def pq_lut(emb: Column, codebooks: Array[Array[Array[Double]]]): Column =
    col_(PqLutExpr(expr_(emb), codebooks))
  def pq_adc(lut: Column, code: Column, codebookSize: Int): Column =
    col_(PqAdcExpr(expr_(lut), expr_(code), codebookSize))
  def clk_encode_blake(secretHex: String, fields: Column*): Column =
    col_(ClkEncodeBlake(fields.map(expr_), secretHex))
  def lambda_fold_keys(clk: Column, lambda: Int = 3, bfLen: Int = 64,
                       k: Int = 5, seed: Int = 0): Column =
    col_(LambdaFoldKeys(expr_(clk), lambda, bfLen, k, seed))
}
