package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one distributed running sum, behind packing, token
  * budgets, the scalable rank/CDF tests and the distributed RFM ntile.
  * A TWO-LEVEL blocked sum, so no stage funnels the input through one
  * task: rows are cut into blocks by a caller-supplied key, every block
  * sums its rows in parallel (one window partitioned by keys and block),
  * and each block's base — the sum of the blocks before it — comes from
  * a frame of one row per block and is broadcast back.
  *
  * Lazy and cache-free: construction runs no job and nothing persists.
  * The block totals are an unbounded-frame sum in the in-block window
  * node, so the input is shuffled once and the totals branch reads the
  * shuffle back as a `ReusedExchange`. That reuse needs both consumers
  * to read the same input columns, so the primitive keeps only the key,
  * order and sum columns (a column read afterwards must be one of them;
  * list a carried count as a sum), packs the in-block sums and the bases
  * into one array each (column pruning cannot split an array per
  * consumer), and demands a NON-NULLABLE block key (a join on a nullable
  * key gets a null filter on one branch only, and the input is scanned
  * twice).
  *
  * The block key must be a pure function of the row (a
  * `spark_partition_id()` tag broke under recompute in round 13) and
  * non-decreasing along the order within each key partition. Any such
  * blocking gives the same sums; it only sets the parallelism and the
  * size of the block frame. Keys match null-safely: a null key is a
  * partition of its own, as in a plain window. */
object PrefixSum {

  /** Inclusive running sums `cum_<c>` of the integral `sums` columns over
    * rows ordered by `order` (ascending, nulls first) within each `keys`
    * partition, and each partition's total `tot_<c>` (one more frame on
    * the window over the block frame: no extra exchange or sort).
    * Output: the key, order and sum columns in `df`'s column order, then
    * the `cum_` and `tot_` columns. */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[String],
            block: Column, sums: Seq[String]): DataFrame = {
    require(sums.nonEmpty, "PrefixSum needs at least one sum column")
    val kept = (keys ++ order ++ sums).toSet
    val blocked = df.select(
      df.columns.filter(kept).map(col).toSeq :+ block.as("__blk"): _*)
    require(!blocked.schema("__blk").nullable,
      "PrefixSum: the block key must be non-nullable")
    val w = Window.partitionBy(keys.map(col) :+ col("__blk"): _*)
      .orderBy(order.map(col): _*)
    def blockSums(from: Long, to: Long) =
      array(sums.map(c => sum(col(c)).over(w.rowsBetween(from, to))): _*)
    val inBlk = blocked.select(col("*"),
      blockSums(Window.unboundedPreceding, Window.currentRow).as("__in"),
      blockSums(Window.unboundedPreceding, Window.unboundedFollowing)
        .as("__bt"))
    // single-task: without `keys` this orders one row per block
    val wb = Window.partitionBy(keys.map(col): _*).orderBy(col("__blk"))
    def overBlocks(i: Int, to: Long) =
      sum(col("__bt")(i)).over(wb.rowsBetween(Window.unboundedPreceding, to))
    val ix = sums.indices
    val bases = inBlk.groupBy(keys.map(col) :+ col("__blk"): _*)
      .agg(max(col("__bt")).as("__bt"))
      .select(keys.indices.map(i => col(keys(i)).as(s"__k$i")) ++ Seq(
        col("__blk").as("__bblk"),
        array(ix.map(i => coalesce(overBlocks(i, -1L), lit(0L))) ++
          ix.map(overBlocks(_, Window.unboundedFollowing)): _*)
          .as("__base")): _*)
    val on = keys.indices.foldLeft(col("__blk") === col("__bblk")) {
      (acc, i) => acc && (col(keys(i)) <=> col(s"__k$i"))
    }
    val base = col("__base")
    inBlk.join(broadcast(bases), on).select(
      blocked.columns.init.map(col).toSeq ++
        ix.map(i => (base(i) + col("__in")(i)).as(s"cum_${sums(i)}")) ++
        ix.map(i => base(sums.size + i).as(s"tot_${sums(i)}")): _*)
  }

  /** Block key `floor(id / blockWidth)` of an id order. A null id fails
    * the query when it runs — it has no place in the order, and a null
    * key would silently miss its block base — with no eager check. */
  def idBlock(id: Column, blockWidth: Long): Column = {
    require(blockWidth >= 1, "blockWidth must be >= 1")
    coalesce(floor(id / blockWidth),
      raise_error(lit(s"null id in a blocked prefix sum over $id")),
      lit(0L))
  }

  /** Order-preserving, non-null block key of a numeric value: its sign
    * plus 16 buckets per octave of |v| (at most ~67 K blocks whatever the
    * data; monotone because `log2` is and ×16 is exact). The blocking is
    * only as parallel as the octaves the values span. Null takes the
    * first block and NaN the last, where Spark's ascending sort puts
    * them; ±∞ sit next to them. */
  def valueBucket(v: Column): Column = {
    val d = v.cast("double")
    val mag = floor(log2(abs(d)) * 16) + lit(17201L) // in [17, 33585]
    coalesce(
      when(isnan(d), lit(Long.MaxValue))
        .when(d === Double.PositiveInfinity, lit(Long.MaxValue - 1))
        .when(d === Double.NegativeInfinity, lit(Long.MinValue + 1))
        .when(d > 0, mag)
        .when(d < 0, -mag)
        .when(d === 0, lit(0L)),
      lit(Long.MinValue))
  }
}
