package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftshim

/** Column-API access to Spark's built-in Bloom-filter expressions.
  *
  * Catalyst ships [[BloomFilterAggregate]]/[[BloomFilterMightContain]]
  * for its own runtime row-group filtering, but does not register them
  * as SQL functions — this shim exposes them for EXPLICIT two-phase
  * semi-join pruning (build a filter over the small side, prune the
  * big side before the exact join), the pattern a 100 TB
  * decontamination pass runs: the probe side drops non-matching rows
  * at scan speed instead of shuffling them to a join that will discard
  * them anyway. Bloom filters have no false negatives, so an exact
  * verify join on the survivors reproduces the unpruned result
  * bit-for-bit (false positives are eliminated there).
  */
object BloomFilters {

  /** Aggregate: build a Bloom filter (binary) over a LONG column —
    * pair with the engine's xxhash64 identities (e.g. hashed
    * shingles). `expectedItems` sizes the filter (default fpp 3%). */
  def bloomAgg(c: Column, expectedItems: Long): Column =
    graftshim.toColumn(new BloomFilterAggregate(
      graftshim.toExpression(c), expectedItems).toAggregateExpression())

  /** Membership probe against a filter that is a literal or a scalar
    * subquery over [[bloomAgg]] (`Dataset.scalar()`, the shape of
    * Spark's own runtime filter: evaluated once when the plan runs). */
  def mightContain(bloom: Column, c: Column): Column =
    graftshim.toColumn(BloomFilterMightContain(
      graftshim.toExpression(bloom), graftshim.toExpression(c)))
}
