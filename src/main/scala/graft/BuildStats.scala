package graft
import org.apache.spark.graft.BusBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Dev tool: run one named build (or any SparkEntry query, or a named
  * phase probe) cold and print NOISE-FREE work totals (input
  * bytes/records, shuffle read/write bytes/records, total task time,
  * job/stage counts) accumulated from stage metrics — the
  * wall-clock-independent before/after evidence for path optimizations
  * on a noisy box.
  * Usage: runMain graft.BuildStats [sfDir] <buildName|queryName> [cpus]
  */
object BuildStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val which = args.lift(1).getOrElse("allpairs_base_build")
    val cpus = args.lift(2).getOrElse("32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val inB = new AtomicLong; val inR = new AtomicLong
    val swB = new AtomicLong; val swR = new AtomicLong
    val srB = new AtomicLong; val taskMs = new AtomicLong
    val stages = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          inB.addAndGet(m.inputMetrics.bytesRead)
          inR.addAndGet(m.inputMetrics.recordsRead)
          swB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          swR.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          srB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          taskMs.addAndGet(m.executorRunTime)
          stages.incrementAndGet()
        }
        ()
      }
    })
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // builds are probed COLD (tier root wiped, bench policy); plain
    // query probes run WARM — one untimed pass parks whatever tiers
    // the query consumes (bench policy: builds precede queries), then
    // the measured pass starts from parked scans
    val isBuild = Set("allpairs_base_build", "text_winfp_base_build",
      "graph_build", "entity_build", "entityflow_build", "phash_build")
    if (isBuild(which)) graft.ops.Tiers.wipe()
    else if (SparkEntry.queries.contains(which)) {
      SparkEntry.queries(which)(spark, sfDir).count(); ()
    }
    // listener events are async: settle before zeroing the counters
    BusBridge.drain(spark.sparkContext)
    inB.set(0); inR.set(0); swB.set(0); swR.set(0); srB.set(0); taskMs.set(0)
    stages.set(0)
    val t0 = System.nanoTime()
    which match {
      case "allpairs_base_build" =>
        graft.ops.DedupMaterialize.allPairsBaseTable(spark, sfDir).count()
        graft.ops.DedupMaterialize.allPairsDfBaseTable(spark, sfDir).count()
        graft.ops.DedupMaterialize.allPairsPrefixBaseTable(spark, sfDir)
          .count()
      case "text_winfp_base_build" =>
        graft.ops.DedupMaterialize.winfpGdfBaseTable(spark, sfDir).count()
        graft.ops.DedupMaterialize.winfpScoreBaseTable(spark, sfDir).count()
      case "graph_build" =>
        graft.queries.GraphQueries.buildGraphTier(spark, sfDir)
      case "entity_build" =>
        graft.queries.RefQueries.buildEntityTiers(spark, sfDir)
      case "entityflow_build" =>
        // consumption-grain probe: park the upstream label tier OUTSIDE
        // the measured region (the bench times it under entity_build)
        graft.queries.RefQueries.buildEntityTiers(spark, sfDir)
        BusBridge.drain(spark.sparkContext)
        inB.set(0); inR.set(0); swB.set(0); swR.set(0); srB.set(0)
        taskMs.set(0); stages.set(0)
        graft.queries.GraphQueries.buildEntityFlowTier(spark, sfDir)
      case "phash_build" =>
        graft.ops.DedupMaterialize.phashClusterTable(spark, sfDir).count()
      case q if SparkEntry.queries.contains(q) =>
        SparkEntry.queries(q)(spark, sfDir).count(); ()
      case other =>
        sys.error(s"unknown build/query $other")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    BusBridge.drain(spark.sparkContext)
    println(f"[buildstats] $which wall=$wall%.2fs taskTime=${taskMs.get / 1000.0}%.1fs " +
      f"input=${inB.get / 1e6}%.1fMB/${inR.get / 1e6}%.2fMrec " +
      f"shufW=${swB.get / 1e6}%.1fMB/${swR.get / 1e6}%.2fMrec shufR=${srB.get / 1e6}%.1fMB " +
      f"stages=${stages.get}")
    spark.stop()
  }
}
