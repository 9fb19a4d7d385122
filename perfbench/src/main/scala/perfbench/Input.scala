package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs. `perfbench/data/<sf>/` holds unmodified
  * copies of the repo's `orders` and `lineitem` fixtures at sf 0.01 and
  * sf 0.001; graph_fixpoints reads them as they are (the raw layout),
  * keyspace_sync reads a chain-layout rewrite of them.
  *
  * Chain layout: order keys are reassigned densely, 0 .. n-1, in block
  * order (`block_id` as `graft.chain.Chain` derives it from the order
  * date), with the orders of one block in an order drawn from the seed;
  * lineitem is rekeyed to match, and both tables are written as
  * [[Files]] parquet files in key order. This is the reference's dense
  * `tx.index`. The same fixture and seed always give the same rows.
  */
object Input {
  val Files = 8

  /** A chain-layout input at `dir`; `txBlock(k)` is the block of tx `k`. */
  final case class Chain(dir: String, txBlock: Array[Long]) {
    def txs: Int = txBlock.length
    def firstBlock: Long = txBlock.head
    def lastBlock: Long = txBlock.last
  }

  def chain(s: SparkSession, fixture: String, dir: String, seed: Long): Chain = {
    import s.implicits._
    val orders = s.read.parquet(s"$fixture/orders.parquet")
    val lineitem = s.read.parquet(s"$fixture/lineitem.parquet")
    val blocks = graft.chain.Chain.txProjection(orders)
      .select(col("tx_id"), col("block_id")).as[(Long, Long)].collect()
      .sortBy(_._1)
    val ordered = new scala.util.Random(seed).shuffle(blocks.toSeq).sortBy(_._2)
    val rekey = ordered.zipWithIndex.map { case ((old, _), k) => (old, k.toLong) }
      .toDF("old", "new")
    def rewrite(df: DataFrame, key: String, name: String): Unit =
      df.join(broadcast(rekey), col(key) === col("old"))
        .select(df.columns.map(c => if (c == key) col("new").as(key) else col(c)).toIndexedSeq: _*)
        .repartitionByRange(Files, col(key)).sortWithinPartitions(key)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    rewrite(orders, "o_orderkey", "orders")
    rewrite(lineitem, "l_orderkey", "lineitem")
    Chain(dir, ordered.map(_._2).toArray)
  }
}
