package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.Export
import graft.chain.{ChainSink, ChainStore}

/** Attempted and failed operations of one run. A timed call that throws
  * and a correctness check that does not hold both count as failed. */
final class Outcome {
  var attempted = 0
  var failed = 0

  private def fail(what: String, e: Option[Throwable]): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what" +
      e.map(x => s": ${x.getClass.getSimpleName}: ${x.getMessage}").getOrElse(""))
  }

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    try { if (!ok) fail(what, None) }
    catch { case e: Exception => fail(what, Some(e)) }
  }

  /** Runs `body` and returns its wall and process CPU time and what
    * `tr` cost meanwhile, or None if it threw. */
  def timed(what: String, tr: Tracer)(body: => Unit): Option[Call] = {
    attempted += 1
    val k0 = tr.cost
    val c0 = Outcome.cpuNs
    val t0 = System.nanoTime()
    try {
      body
      val s = (System.nanoTime() - t0) / 1e9
      val cpuS = (Outcome.cpuNs - c0) / 1e9
      Some(Call(s, cpuS, tr.cost - k0))
    } catch { case e: Exception => fail(what, Some(e)); None }
  }
}

object Outcome {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM, in ns. */
  def cpuNs: Long = os.getProcessCpuTime
}

/** One timed call: wall seconds, the JVM's CPU seconds meanwhile and
  * the tracer's own cost inside it. */
final case class Call(s: Double, cpuS: Double, tracer: Cost)

/** The timed calls of one pass: the calls that write (exports, cold tier
  * builds) and the calls that only read (lookups, warm queries). */
final case class Pass(writes: Seq[Call], reads: Seq[Call])

/** A workload: untimed set-up in the constructor, then timed passes. */
trait Workload {
  def pass(tr: Tracer): Pass
  /** Layer metrics that only the workload itself can see (store layout,
    * plan scan counts), read after a traced pass. */
  def layerExtras: Map[String, Double] = Map.empty
}

object Workload {
  /** Order-independent content hash of a frame: row count and the sum
    * of 64-bit hashes of each row's JSON form (maps and binaries
    * included), over the columns in name order. */
  def contentHash(df: DataFrame): String =
    contentHashes(Seq("" -> df))("")

  /** [[contentHash]] of several frames in one job. */
  def contentHashes(dfs: Seq[(String, DataFrame)]): Map[String, String] = {
    val rows = dfs.map { case (name, df) =>
      val cols = df.columns.sorted.map(col).toIndexedSeq
      df.select(lit(name).as("name"), xxhash64(to_json(struct(cols: _*))).as("h"))
    }.reduce(_ unionByName _)
    val agg = rows.groupBy("name")
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect()
      .map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getDecimal(2).toPlainString}")
      .toMap
    dfs.map { case (name, _) => name -> agg.getOrElse(name, "0:0") }.toMap
  }

  /** Runs an untimed set-up step and reports its wall time on stderr. */
  def setupStep[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    System.err.println(f"[perfbench] set-up: $what ${(System.nanoTime() - t0) / 1e9}%.1f s")
    a
  }

  def deleteTree(path: String): Unit =
    graft.ops.Tiers.deleteRecursively(new java.io.File(path))

  /** File-scan leaves of an executed plan, through adaptive wrappers. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }
}

/** A [[ChainSink]] decorator that opens one span per table write, so
  * the trace splits an export into its sink calls. */
final class TimingSink(tr: Tracer, phase: String) extends ChainSink {
  private def t(table: String)(f: => Unit): Unit =
    tr.span(s"sink.$phase.$table")(f)
  def writeTransactions(tx: DataFrame, out: String): Unit =
    t("transaction")(ChainStore.writeTransactions(tx, out))
  def writeBlocks(b: DataFrame, out: String): Unit =
    t("block")(ChainStore.writeBlocks(b, out))
  def writePrefixIndex(tx: DataFrame, out: String): Unit =
    t("prefix_index")(ChainStore.writePrefixIndex(tx, out))
  def writeBlockTransactions(bt: DataFrame, out: String): Unit =
    t("block_tx")(ChainStore.writeBlockTransactions(bt, out))
  def writeExchangeRates(r: DataFrame, out: String): Unit =
    t("small_tables")(ChainStore.writeExchangeRates(r, out))
  def writeSummaryStatistics(st: DataFrame, out: String): Unit =
    t("small_tables")(ChainStore.writeSummaryStatistics(st, out))
  def writeConfiguration(c: DataFrame, out: String): Unit =
    t("small_tables")(ChainStore.writeConfiguration(c, out))
}

/** A [[ChainSink]] that writes nothing and keeps the frame each call
  * hands it, by store table name: what an export would land. */
final class CaptureSink extends ChainSink {
  val frames: mutable.Map[String, DataFrame] = mutable.Map.empty
  def writeTransactions(tx: DataFrame, out: String): Unit =
    frames("transaction") = tx
  def writeBlocks(b: DataFrame, out: String): Unit = frames("block") = b
  def writePrefixIndex(tx: DataFrame, out: String): Unit =
    frames("transaction_by_tx_prefix") = tx
  def writeBlockTransactions(bt: DataFrame, out: String): Unit =
    frames("block_transactions") = bt
  def writeExchangeRates(r: DataFrame, out: String): Unit =
    frames("exchange_rates") = r
  def writeSummaryStatistics(st: DataFrame, out: String): Unit =
    frames("summary_statistics") = st
  def writeConfiguration(c: DataFrame, out: String): Unit =
    frames("configuration") = c
}

/** keyspace_sync: the reference's lifecycle on a chain-layout input —
  * a full export of the first [[KeyspaceSync.HeadPct]] % of blocks into
  * an empty store, one `--continue` batch up to the tip, then a closed
  * loop of reads against the synced store. One read is a consumer's tx fetch:
  * `lookupByHash`, then `lookupByTxId` of the id it returned (a miss
  * stops after the hash lookup).
  *
  * Set-up runs a one-shot full export of the same range through a
  * [[CaptureSink]]; after the pass, every synced table must equal the
  * frame that export handed its sink, on the columns both have (the
  * store adds derived layout columns such as the prefix index's `p2`). */
final class KeyspaceSync(s: SparkSession, fixture: String, work: String,
    seed: Long, reads: Int, out: Outcome) extends Workload {
  import KeyspaceSync._

  private val in = Workload.setupStep("chain-layout input")(
    Input.chain(s, fixture, s"$work/input", seed))
  private val store = s"$work/store"
  /** Last block of the full export; the `--continue` batch runs to the
    * tip (end = -1). */
  private val headEnd =
    in.firstBlock + ((in.lastBlock - in.firstBlock + 1) * HeadPct) / 100 - 1
  private val keys = readKeys(new java.util.Random(seed * 31 + 7), in,
    headEnd, reads)

  private val oneShot = new CaptureSink
  Workload.setupStep("one-shot export")(
    Export.run(s, Export.Args(config = in.dir, out = store), oneShot))

  /** Files the lookups' scans read in the last pass, per lookup kind. */
  private val fileScans = mutable.Map("hash" -> 0L, "txid" -> 0L)

  def pass(tr: Tracer): Pass = {
    Workload.deleteTree(store)
    def sink(phase: String) =
      if (tr eq NoTrace) ChainStore else new TimingSink(tr, phase)
    val writes = Seq(("full", headEnd, false), ("continue", -1L, true))
      .flatMap { case (phase, end, continue) =>
        out.timed(s"export.$phase", tr) {
          tr.span(s"export.$phase")(Export.run(s, Export.Args(config = in.dir,
            out = store, endIndex = end, continueIngest = continue), sink(phase)))
        }
      }
    val h = Workload.contentHashes(Tables.flatMap { t =>
      val synced = s.read.parquet(s"$store/$t")
      val ref = oneShot.frames(t)
      val shared = synced.columns.filter(ref.columns.contains).toIndexedSeq
      Seq(s"synced $t" -> synced.select(shared.map(col): _*),
        s"one-shot $t" -> ref.select(shared.map(col): _*))
    })
    Tables.foreach(t => out.check(s"sync table $t equals one-shot export")(
      h(s"synced $t") == h(s"one-shot $t")))
    fileScans.keys.foreach(fileScans(_) = 0L)
    Pass(writes, keys.flatMap(k => read(tr, k)))
  }

  /** One timed read, checked: a hit returns exactly its tx id, a miss
    * returns no row, the tx-id lookup returns one row with the hash. */
  private def read(tr: Tracer, k: Key): Option[Call] = {
    var byHash: Array[Row] = Array.empty
    var byId: Array[Row] = Array.empty
    val frames = mutable.ArrayBuffer.empty[(String, DataFrame)]
    def lookup(kind: String)(resolve: => DataFrame): Array[Row] = {
      val df = tr.span(s"lookup.$kind.resolve")(resolve)
      frames += kind -> df
      tr.span(s"lookup.$kind.exec")(df.collect())
    }
    val t = out.timed(s"read ${k.hash}", tr) {
      byHash = lookup("hash")(ChainStore.lookupByHash(s, store, k.hash))
      if (k.hit) byId = lookup("txid")(ChainStore.lookupByTxId(s, store, k.id))
    }
    if (t.nonEmpty) {
      if (k.hit) {
        out.check(s"hash ${k.hash} resolves to tx ${k.id}") {
          byHash.length == 1 && byHash(0).getAs[Long]("tx_id") == k.id
        }
        out.check(s"tx ${k.id} has hash ${k.hash}") {
          byId.length == 1 && byId(0).getAs[String]("tx_hash") == k.hash
        }
      } else out.check(s"hash ${k.hash} misses")(byHash.isEmpty)
    }
    for ((kind, df) <- frames)
      fileScans(kind) += Workload.scans(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    t
  }

  override def layerExtras: Map[String, Double] = {
    def files(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil)
    val perTable = Tables.map(t => t -> files(new java.io.File(s"$store/$t")))
    def bytes(ts: Seq[String]) =
      perTable.filter(p => ts.contains(p._1)).flatMap(_._2).map(_.length).sum.toDouble
    val inputB = Seq("orders", "lineitem").flatMap(t =>
      files(new java.io.File(s"${in.dir}/$t.parquet"))).map(_.length).sum
    Map(
      "store.files" -> perTable.map(_._2.size).sum.toDouble,
      "store.transaction_b" -> bytes(Seq("transaction")),
      "store.prefix_index_b" -> bytes(Seq("transaction_by_tx_prefix")),
      "store.other_b" -> bytes(Tables.filterNot(Set("transaction",
        "transaction_by_tx_prefix"))),
      "store.bytes_per_input_byte" -> bytes(Tables) / inputB) ++
      fileScans.map { case (kind, n) => s"lookup.$kind.files_scanned" -> n.toDouble }
  }
}

object KeyspaceSync {
  /** Share of the blocks, in %, that the full export covers. */
  val HeadPct = 90

  val Tables: Seq[String] = Seq("transaction", "transaction_by_tx_prefix",
    "block", "block_transactions", "exchange_rates", "summary_statistics",
    "configuration")

  final case class Key(hash: String, id: Long, hit: Boolean)

  def sha256Hex(id: Long): String =
    org.apache.commons.codec.digest.DigestUtils.sha256Hex(id.toString)

  /** The seeded read sequence: one read in ten, and at least one, misses
    * (the hash of an id past the tip); half of the hits are drawn from
    * the last batch's txs, the rest from all txs. */
  def readKeys(r: java.util.Random, in: Input.Chain, lastBatchAfter: Long,
      n: Int): Seq[Key] = {
    val misses = math.max(1, n / 10)
    val hits = n - misses
    val lastLo = in.txBlock.indexWhere(_ > lastBatchAfter)
    def hit(lo: Int, hi: Int) = {
      val id = (lo + r.nextInt(hi - lo)).toLong
      Key(sha256Hex(id), id, hit = true)
    }
    val ks = Seq.fill(hits / 2)(hit(lastLo, in.txs)) ++
      Seq.fill(hits - hits / 2)(hit(0, in.txs)) ++
      Seq.fill(misses)(Key(sha256Hex(in.txs + r.nextInt(in.txs).toLong),
        -1L, hit = false))
    val shuffled = new java.util.ArrayList[Key](ks.size)
    ks.foreach(shuffled.add)
    java.util.Collections.shuffle(shuffled, r)
    scala.jdk.CollectionConverters.ListHasAsScala(shuffled).asScala.toSeq
  }
}

/** graph_fixpoints: on the unmodified fixture, wipe the parked tiers,
  * build the entity, entity-flow and graph tiers cold, then run five
  * iterative queries warm; each query is counted, its result hash
  * checked against the committed value, and its pinned leaves released.
  * The fixture does not depend on the run seed. The timed pass is the
  * JVM's first: a warm-up pass costs as much as the timed one. */
final class GraphFixpoints(s: SparkSession, fixture: String,
    expected: Map[String, String], out: Outcome) extends Workload {
  import GraphFixpoints._

  def pass(tr: Tracer): Pass = {
    graft.ops.Tiers.wipe()
    val writes = Tiers.flatMap { case (name, build) =>
      out.timed(s"tier $name", tr)(tr.span(s"tier.$name")(build(s, fixture)))
    }
    val reads = Queries.flatMap { q =>
      var df: DataFrame = null
      val t = out.timed(q, tr)(tr.span(s"query.$q") {
        df = graft.SparkEntry.queries(q)(s, fixture)
        df.count(); ()
      })
      if (t.nonEmpty) {
        val h = Workload.contentHash(df)
        out.check(s"$q result hash $h equals expected.json " +
          expected.getOrElse(q, "(none)"))(expected.get(q).contains(h))
      }
      if (df != null) graft.operators.Materialize.releasePinnedLeaves(df)
      t
    }
    Pass(writes, reads)
  }
}

object GraphFixpoints {
  val Tiers: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "entity" -> graft.queries.RefQueries.buildEntityTiers,
    "entityflow" -> graft.queries.GraphQueries.buildEntityFlowTier,
    "graph" -> graft.queries.GraphQueries.buildGraphTier)

  val Queries: Seq[String] = Seq("graph_kcore", "graph_hits",
    "graph_labelprop", "graph_scc", "entity_hits")
}
