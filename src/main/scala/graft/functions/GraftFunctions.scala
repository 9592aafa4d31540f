package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge => B}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.typedLit

/** The one way a graft kernel enters a plan: a typed Column constructor
  * per codegen'd expression. Nothing is registered in the session's shared
  * function registry — each Column closes over its own parameters (model
  * centroids, word lists, serial offsets), so concurrent plan-building on
  * one SparkSession cannot re-point another caller's kernel. Arguments
  * that must be literals in SQL (`k`, `n`, `w`, `bits`, ...) are plain
  * Scala values here, checked by the type system. */
object GraftFunctions {
  private def e(c: Column): Expression = B.expression(c)
  private def c(x: Expression): Column = B.column(x)

  // ---- token / text sketches (HashExpressions.scala) ----
  def minhashSig(shingles: Column, k: Int): Column = c(MinHashSig(e(shingles), k))
  def shingleHashes(toks: Column, n: Int): Column = c(ShingleHashes(e(toks), n))
  def shinglePairs(toks: Column, n: Int): Column = c(ShinglePairs(e(toks), n))
  def chunkHashes(toks: Column, w: Int): Column = c(ChunkHashes(e(toks), w))
  def spanHashes(toks: Column, w: Int): Column = c(SpanHashes(e(toks), w))
  def simhash64(toks: Column): Column = c(SimHash64(e(toks)))
  def simhash128(toks: Column): Column = c(SimHash128(e(toks)))
  def hyperplaneSig(vec: Column, bits: Int): Column = c(HyperplaneSig(e(vec), bits))
  def rollingFingerprint(text: Column, w: Int): Column = c(RollingFingerprint(e(text), w))
  def dropChunks(toks: Column, removed: Column, w: Int): Column =
    c(DropChunks(e(toks), e(removed), w))
  def gramHashes(toks: Column, k: Int, useSha: Boolean): Column =
    c(GramHashes(e(toks), k, useSha))
  def windowMins(hashes: Column, w: Int): Column = c(WindowMins(e(hashes), w))
  def bandBits(sig: Column, bands: Int, width: Int): Column = c(BandBits(e(sig), bands, width))
  def sliceXxBands(sig: Column, groups: Int, width: Int): Column =
    c(SliceXxBands(e(sig), groups, width))
  def agreeCount(a: Column, b: Column): Column = c(AgreeCount(e(a), e(b)))
  def adjacentPairs(syms: Column, weight: Column): Column = c(AdjacentPairs(e(syms), e(weight)))
  def ngramJoin(toks: Column, n: Int): Column = c(NgramJoin(e(toks), n))
  def bigramStructs(toks: Column): Column = c(BigramStructs(e(toks)))
  def codePoints(word: Column): Column = c(CodePoints(e(word)))
  def mergePair(syms: Column, a: String, b: String): Column = c(MergePair(e(syms), a, b))
  def mergeAll(syms: Column, pairs: Seq[(String, String)]): Column = c(MergeAll(e(syms), pairs))
  def countIn(toks: Column, words: Seq[String]): Column = c(CountIn(e(toks), words))
  def countPresent(toks: Column, words: Seq[String]): Column = c(CountPresent(e(toks), words))
  def countAlphaTokens(toks: Column): Column = c(CountAlphaTokens(e(toks)))

  // ---- vector kernels (VectorExpressions.scala) ----
  def cosineSim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column =
    c(NearestCentroid(e(vec), e(typedLit(centroids))))
  def l2Norm(vec: Column): Column = c(L2Norm(e(vec)))
  def l2SqDist(a: Column, b: Column): Column = c(L2SqDist(e(a), e(b)))
  def vecSub(a: Column, b: Column): Column = c(VecSub(e(a), e(b)))
  def vecDiv(vec: Column, divisor: Column): Column = c(VecDiv(e(vec), e(divisor)))
  def vecScale(vec: Column, factor: Float): Column = c(VecScale(e(vec), factor))
  def denseFromMap(m: Column, dim: Int): Column = c(DenseFromMap(e(m), dim))

  // ---- product quantization (PqExpressions.scala) ----
  def pqEncode(vec: Column, cents: Array[Double], m: Int, k: Int, sub: Int): Column =
    c(PqEncode(e(vec), cents, m, k, sub))
  def pqDistTable(vec: Column, cents: Array[Double], m: Int, k: Int, sub: Int): Column =
    c(PqDistTable(e(vec), cents, m, k, sub))
  def pqAdc(codes: Column, table: Column, k: Int): Column = c(PqAdc(e(codes), e(table), k))

  // ---- ids and buckets (SerialExpressions.scala) ----
  def partitionOffsetId(offsets: Array[Long]): Column = c(PartitionOffsetId(offsets))
  def rangeBucket(v: Column, bounds: Array[Long]): Column = c(RangeBucket(e(v), bounds))
}
