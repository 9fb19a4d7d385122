package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev measurement: the cost of `--continue` on a 10 % tail vs the full
  * export, at a given sf dir (pair with a ScaleUp-amplified dir for the
  * store-size ladder — the SCALE.md datapoint the incremental path's
  * design claims: resume cost is O(tail + one boundary bucket) for the
  * block-local tables, plus the prefix-index rewrite, which has no
  * block locality and scans everything ≤ end by design — see
  * Export scaladoc; the epoch-keyed streaming store is the
  * ingest-cost-index alternative).
  *
  * Usage: runMain graft.ContinueBench [sfDir] [label]
  */
object ContinueBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val label = args.lift(1).getOrElse("sf0.1")
    val cpus = Env.cpus
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tmp(): String = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "contbench_")
      .toString
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val tx = graft.chain.Chain.transactions(spark, sfDir)
    val lastParsed = tx.agg(max(col("block_id")))
      .head().getLong(0)
    val head90 = (lastParsed * 9L) / 10L
    // warm the source page cache so full vs continue compare I/O-fairly
    tx.count()

    val (_, fullSec) = timed(Export.run(spark,
      Export.Args(config = sfDir, out = tmp(), tables = Some(Seq("tx")))))

    val outStaged = tmp()
    val (_, headSec) = timed(Export.run(spark,
      Export.Args(config = sfDir, out = outStaged, endIndex = head90,
        tables = Some(Seq("tx")))))
    val (r, contSec) = timed(Export.run(spark,
      Export.Args(config = sfDir, out = outStaged,
        continueIngest = true, tables = Some(Seq("tx")))))

    // the block-local-only pair isolates the two cost components: the
    // `tx` path above includes the prefix-index rewrite (O(store) by
    // design — hash-partitioned, no block locality), while the
    // bucket-complete refill of a block-local table costs
    // O(tail + boundary bucket) and must stay flat in store size
    val blkTables = Some(Seq("block", "block_tx"))
    val (_, fullBlkSec) = timed(Export.run(spark,
      Export.Args(config = sfDir, out = tmp(), tables = blkTables)))
    val outBlk = tmp()
    Export.run(spark, Export.Args(config = sfDir, out = outBlk,
      endIndex = head90, tables = blkTables))
    val (_, contBlkSec) = timed(Export.run(spark,
      Export.Args(config = sfDir, out = outBlk,
        continueIngest = true, tables = blkTables)))

    println(s"""{"metric":"continue_bench","label":"$label",""" +
      s""""last_parsed":$lastParsed,"tail_blocks":${r.blocksIngested},""" +
      f""""full_sec":$fullSec%.2f,"head90_sec":$headSec%.2f,""" +
      f""""continue_sec":$contSec%.2f,""" +
      f""""continue_vs_full":${contSec / fullSec}%.2f,""" +
      f""""full_blk_sec":$fullBlkSec%.2f,"continue_blk_sec":$contBlkSec%.2f,""" +
      f""""continue_vs_full_blk":${contBlkSec / fullBlkSec}%.2f}""")
    spark.stop()
  }
}
