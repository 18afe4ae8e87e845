package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one memory budget `B` = half of `spark.driver.maxResultSize`,
  * and every gate derived from it. Each gated payload is a broadcast build
  * side or a driver-held slice: it is either collected to the driver before
  * it broadcasts or rides a broadcast exchange, so the task-result cap is
  * the bound they all share. With `maxResultSize = 0` (Spark's cap off) `B`
  * is 512 MiB, its value at the 1g default. At the default every derived
  * gate equals the constant it replaced:
  *
  * | gate                                                             | derived    | at 1g     |
  * |------------------------------------------------------------------|------------|-----------|
  * | annJoin: ship ADC tables                                         | B/8        | 64 MiB    |
  * | annJoin: halves dictionary                                       | B/2        | 256 MiB   |
  * | annJoin: probe-matrix broadcast, chunk size                      | B          | 512 MiB   |
  * | annJoin: wide-pair floor                                         | B/2        | 256 MiB   |
  * | annJoin: query-side broadcast                                    | 2B         | 1 GiB     |
  * | annJoin: broadcast candidates                                    | B / 128 B  | 4 Mi rows |
  * | annJoin: handle slice memo                                       | 2B         | 1 GiB     |
  * | map build side: CC node→l0 map, screen band rows, sim-tier pairs | B/2 / 64 B | 4 Mi rows |
  * | id-list build side: anti-join ids, shingle slice                 | B/2 / 32 B | 8 Mi rows |
  * | semdedup chunk's broadcast assignment                            | B/2 / 32 B | 8 Mi rows |
  * | slice LRU per (session, index dir)                               | B/8        | 64 MiB    |
  *
  * A gate takes an explicit budget, so a caller (a spec, a probe) forces
  * one side by passing a small one; a row cap of 0 broadcasts nothing.
  * `B` is a context conf: raise it at session build. */
object MemoryBudget {

  /** `B` for a session: half the live `spark.driver.maxResultSize`, or
    * [[UnboundedBudget]] when that cap is off (0). */
  def budgetOf(spark: SparkSession): Long = {
    val maxResultBytes = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResultBytes > 0L) maxResultBytes / 2 else UnboundedBudget
  }

  /** `B` of the active session: the default of every gated helper's
    * `budget`. `B` is read from the context's conf, and a JVM runs one
    * context, so this is the budget of any frame the helper is given. */
  def current: Long = budgetOf(SparkSession.active)

  /** `B` with `spark.driver.maxResultSize = 0`: the value at the 1g
    * default, so an unbounded cap plans like the default. */
  val UnboundedBudget: Long = 512L << 20

  private def twice(budget: Long): Long =
    if (budget > Long.MaxValue / 2) Long.MaxValue else 2L * budget

  /** Estimated bytes of one candidate row in annJoin's broadcast-candidate
    * rerank (id, q_id, adc_dist, framing). */
  val CandRowBytes = 128L

  def shipTablesMaxBytes(budget: Long): Long = budget / 8
  def halvesDictMaxBytes(budget: Long): Long = budget / 2
  def qvecMaxBytes(budget: Long): Long = budget
  def fatShuffleFloorBytes(budget: Long): Long = budget / 2
  def qsideBroadcastMaxBytes(budget: Long): Long = twice(budget)
  def broadcastCandMaxRows(budget: Long): Long = budget / CandRowBytes
  def sliceMemoBytes(budget: Long): Long = twice(budget)

  /** Estimated HashedRelation cost of one (long, long) map row: the 16 B
    * payload plus the hash table's key index, row pages and slack, in whole
    * multiples of the payload. */
  val MapRowBytes = 64L

  /** Estimated HashedRelation cost of one single-column 8-byte id row: half
    * the map row's payload, the same overhead model. */
  val IdRowBytes = 32L

  /** Rows of a skinny build side an explicit `broadcast()` may ship: B/2 of
    * estimated relation at [[MapRowBytes]] or [[IdRowBytes]] a row. The
    * hint bypasses `spark.sql.autoBroadcastJoinThreshold`, because
    * Catalyst's plan stats mis-size exactly the checkpointed skinny frames
    * these gates cover; above the cap the join shuffles. */
  def mapMaxRows(budget: Long): Long = budget / 2 / MapRowBytes
  def idListMaxRows(budget: Long): Long = budget / 2 / IdRowBytes

  /** Bytes of rotation slices the slim serve path keeps per (session,
    * index dir). */
  def sliceLruBytes(budget: Long): Long = budget / 8
}
