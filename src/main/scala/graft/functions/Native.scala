package graft.functions

import graft.plans.{BloomAgg, MightContain, MinhashSig, OsGridRef, OsgbToWgs84, PartsLength, ShingleHashes, SimhashSig, SimhashSig64, SortedIntersectCount, TopKAgg, VectorCosine}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftglue.Bridge.{columnOf, expressionOf => e}

/** The engine's native Catalyst expressions (plans/) as Columns. Operators
  * build them here directly, so a query plan never depends on the session's
  * function registry; `GraftExtensions` registers the same classes under
  * their `graft_*` names for SQL and `expr(...)` callers.
  */
object Native {

  /** `graft_cosine`: cosine of two array<float> vectors. */
  def cosine(a: Column, b: Column): Column = columnOf(VectorCosine(e(a), e(b)))

  /** `graft_sorted_isect`: size of the intersection of two sorted array<bigint>. */
  def sortedIsect(a: Column, b: Column): Column = columnOf(SortedIntersectCount(e(a), e(b)))

  /** `graft_topk` aggregate: the `k` best (score desc, id asc) as
    * array<struct<score:double, id:bigint>>.
    */
  def topk(score: Column, id: Column, k: Int): Column =
    columnOf(TopKAgg(e(score), e(id), Literal(k)).toAggregateExpression())

  /** `graft_minhash`: `numPerms`-slot MinHash signature of a shingle-hash array. */
  def minhash(hs: Column, numPerms: Int): Column = columnOf(MinhashSig(e(hs), numPerms))

  /** `graft_shingle_hashes`: distinct 32-bit hashes of a token array's word n-grams. */
  def shingleHashes(tokens: Column, n: Int): Column = columnOf(ShingleHashes(e(tokens), n))

  /** `graft_simhash`: 32-bit SimHash of a token array. */
  def simhash(tokens: Column): Column = columnOf(SimhashSig(e(tokens)))

  /** `graft_simhash64`: 64-bit SimHash of a token array as [lo, hi] 32-bit halves. */
  def simhash64(tokens: Column): Column = columnOf(SimhashSig64(e(tokens)))

  /** `graft_bloom` aggregate: a Bloom filter over a bigint column. */
  def bloom(h: Column, capacity: Int, fpp: Double): Column =
    columnOf(BloomAgg(e(h), Literal(capacity), Literal(fpp)).toAggregateExpression())

  /** `graft_might_contain`: probe a serialized [[bloom]] filter. */
  def mightContain(filter: Column, h: Column): Column = columnOf(MightContain(e(filter), e(h)))

  /** `graft_osgb`: EPSG:27700 easting/northing → [lat, lon] WGS84 degrees. */
  def osgb(easting: Column, northing: Column): Column = columnOf(OsgbToWgs84(e(easting), e(northing)))

  /** `graft_osgrid`: OS grid reference of an easting/northing at precision 6, 8 or 10. */
  def osgrid(easting: Column, northing: Column, precision: Int): Column =
    columnOf(OsGridRef(e(easting), e(northing), precision))

  /** `graft_parts_length`: planar length of a connector `parts` geometry. */
  def partsLength(parts: Column): Column = columnOf(PartsLength(e(parts)))
}
