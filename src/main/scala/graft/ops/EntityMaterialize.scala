package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized address→entity labels — the chain-side analog of
  * [[DedupMaterialize]], and the architecture the reference family
  * actually deploys: GraphSense computes its multi-input-heuristic
  * clustering as a transformation STEP whose output tables downstream
  * queries read, not as a subplan re-run per query. The iterative
  * connected-components fixpoint is the most expensive stage of the
  * entity chain, so it is parked once per (fixture, window) and every
  * consumer starts from a pruned two-column scan.
  *
  * Cache key = lineitem/orders path + mtime + window + format version;
  * writes are idempotent and guarded by a JVM-local lock + _SUCCESS
  * marker, like the dedup tier.
  */
object EntityMaterialize {

  /** Per-tier-root build locks: DIFFERENT tiers (full / window / base)
    * build concurrently — the cold tier build runs them as parallel
    * Spark jobs — while two requests for the SAME root still serialize
    * on its lock and the second finds the _SUCCESS marker. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Bump on any change to the edge derivation or clustering. Tiers
    * built from the labels fold it into their own key. */
  private[graft] val FormatVersion = 1

  private def baseKeyed(dir: String, w: String): String = {
    val mtime = Seq("lineitem", "orders").map { t =>
      val f = new File(s"$dir/$t.parquet")
      if (f.isDirectory)
        (f.lastModified() +: f.listFiles().map(_.lastModified()).toSeq).max
      else f.lastModified()
    }.max
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    s"target/intermediate/entity_v${FormatVersion}_${key}_${mtime}_w$w"
  }

  /** (address, entity) labels for the given clustering window,
    * computing and parking them on first access. `build` derives the
    * labels (injected so the query module owns the edge semantics). */
  def labelTable(s: SparkSession, dir: String, window: Option[Long])(
      build: => DataFrame): DataFrame =
    labelTableKeyed(s, dir, window.fold("all")(_.toString))(build)

  /** Same parking under an arbitrary variant key (e.g. a simulated
    * pre-batch state keyed by the batch selector, not a block window). */
  def labelTableKeyed(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame = {
    val root = baseKeyed(dir, key)
    locks.computeIfAbsent(root, _ => new Object).synchronized {
      if (!new File(s"$root/_SUCCESS").exists())
        build.write.mode("overwrite").parquet(root)
    }
    s.read.parquet(root)
  }
}
