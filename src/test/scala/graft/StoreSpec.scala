package graft

import java.nio.file.Files

import org.apache.spark.graft.BusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

import graft.chain.{CassandraShapedSink, Chain, ChainSink, ChainStore, SinkConfig}

/** Sink-layer contract: roundtrip, idempotent re-write (ST3), pruned
  * point lookups. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val out =
    Files.createTempDirectory(java.nio.file.Paths.get("target"), "store_")
      .toString

  test("transaction write/read roundtrip + idempotent overwrite") {
    val dir = sf("sf0.001")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactions(tx, out)
    val once = spark.read.parquet(s"$out/transaction")
    assert(once.count() === tx.count())
    // re-ingesting the same range must converge (last-write-wins analog)
    ChainStore.writeTransactions(tx, out)
    val twice = spark.read.parquet(s"$out/transaction")
    assert(twice.count() === tx.count())
    assert(twice.select(sum("tx_id")).as[Long].head() ===
      tx.select(sum("tx_id")).as[Long].head())
  }

  test("compaction seals an epoch store: same rows, one file per bucket") {
    val dir = sf("sf0.001")
    val cout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "compact_").toString
    val tx = Chain.transactions(spark, dir)
    // two epochs land separately → every bucket holds ≥2 epoch subdirs
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 0), cout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 1), cout, 1L)
    val before = ChainStore.readTransactions(spark, cout)
    assert(before.count() === tx.count())
    ChainStore.compactTransactions(spark, cout)
    val after = ChainStore.readTransactions(spark, cout)
    assert(after.count() === tx.count())
    assert(after.select(sum("tx_id")).as[Long].head() ===
      tx.select(sum("tx_id")).as[Long].head())
    // sealed: batch layout (no epoch key), exactly one parquet per bucket
    assert(!spark.read.parquet(s"$cout/transaction")
      .schema.fieldNames.contains("ingest_epoch"))
    val buckets = new java.io.File(s"$cout/transaction").listFiles()
      .filter(_.getName.startsWith("tx_id_group="))
    assert(buckets.nonEmpty)
    for (b <- buckets)
      assert(b.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"bucket ${b.getName} not compacted to one file")
    // and a sealed store refuses further epoch ingest
    intercept[IllegalArgumentException] {
      graft.streaming.IncrementalIngest.resumeGuard(spark, cout, Long.MaxValue)
    }
    // ...and refuses time-travel reads with the layout message — the
    // epoch history is gone, so ANY answer (full table included) would
    // be a wrong snapshot
    val e = intercept[IllegalArgumentException] {
      ChainStore.readTransactionsAsOf(spark, cout, 0L)
    }
    assert(e.getMessage.contains("not epoch-keyed"),
      s"unexpected failure shape: ${e.getMessage}")
  }

  test("compaction recovers the store after a crash between swap renames") {
    val dir = sf("sf0.001")
    val cout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "crash_").toString
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx, cout, 0L)
    // simulate dying between rename(live->old) and rename(staged->live):
    // live is gone, old holds the only copy
    assert(new java.io.File(s"$cout/transaction")
      .renameTo(new java.io.File(s"$cout/transaction__old")))
    ChainStore.compactTransactions(spark, cout)
    val after = ChainStore.readTransactions(spark, cout)
    assert(after.count() === tx.count())
    assert(!new java.io.File(s"$cout/transaction__old").exists())
  }

  test("history vacuum folds epochs below the floor; expired snapshots " +
      "refuse; retained snapshots are bit-identical") {
    val dir = sf("sf0.001")
    val vout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vacuum_").toString
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 0), vout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 1), vout, 1L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 2), vout, 2L)
    val asOf1Before = ChainStore.readTransactionsAsOf(spark, vout, 1L)
      .select(sum("tx_id")).as[Long].head()
    ChainStore.vacuumTransactionsBelow(spark, vout, 1L)
    // retained snapshots serve identically
    assert(ChainStore.readTransactionsAsOf(spark, vout, 1L)
      .select(sum("tx_id")).as[Long].head() === asOf1Before)
    assert(ChainStore.readTransactionsAsOf(spark, vout, 2L).count() ===
      tx.count())
    // the expired epoch-0 directories are physically gone
    val epochDirs = new java.io.File(s"$vout/transaction").listFiles()
      .filter(_.getName.startsWith("tx_id_group="))
      .flatMap(_.listFiles()).map(_.getName).toSet
    assert(!epochDirs.contains("ingest_epoch=0"), s"epoch 0 survived: $epochDirs")
    assert(epochDirs.contains("ingest_epoch=1"))
    // a snapshot below the floor refuses loudly instead of serving a
    // partial table
    val e = intercept[IllegalArgumentException] {
      ChainStore.readTransactionsAsOf(spark, vout, 0L)
    }
    assert(e.getMessage.contains("expired"),
      s"unexpected failure shape: ${e.getMessage}")
    // still epoch-keyed: a later vacuum (or compaction) keeps working
    ChainStore.vacuumTransactionsBelow(spark, vout, 2L)
    assert(ChainStore.readTransactionsAsOf(spark, vout, 2L).count() ===
      tx.count())
  }

  test("as-of below a never-vacuumed store's first epoch is a valid " +
      "empty snapshot, not an 'expired' error") {
    val dir = sf("sf0.001")
    val nout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "novac_").toString
    val tx = Chain.transactions(spark, dir)
    // epoch numbering starts at 1 — nothing was ever vacuumed
    ChainStore.writeTransactionsEpoch(tx, nout, 1L)
    assert(ChainStore.vacuumFloor(spark, nout) === None)
    assert(ChainStore.readTransactionsAsOf(spark, nout, 0L).count() === 0L)
    assert(ChainStore.readTransactionsAsOf(spark, nout, 1L).count() ===
      tx.count())
  }

  test("as-of read returns each epoch's snapshot and prunes partitions") {
    val dir = sf("sf0.001")
    val tout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "asof_").toString
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 0), tout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 1), tout, 1L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 2), tout, 2L)
    // as-of each epoch == the prefix of batches replayed directly
    assert(ChainStore.readTransactionsAsOf(spark, tout, 0L).count() ===
      tx.filter(col("tx_id") % 3 === 0).count())
    assert(ChainStore.readTransactionsAsOf(spark, tout, 1L).count() ===
      tx.filter(col("tx_id") % 3 < 2).count())
    // as-of the newest epoch == the plain full read
    assert(ChainStore.readTransactionsAsOf(spark, tout, 2L).count() ===
      ChainStore.readTransactions(spark, tout).count())
    // the as-of predicate must reach the file listing as a partition
    // filter — a snapshot read costs the snapshot, not the history
    val plan = ChainStore.readTransactionsAsOf(spark, tout, 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*ingest_epoch.*"),
      s"as-of filter not pushed to partition pruning:\n$plan")
  }

  test("point lookup by tx id prunes to one bucket") {
    val lookup = ChainStore.lookupByTxId(spark, out, 7L)
    assert(lookup.count() === 1)
    val files = lookup.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(
      s"/transaction/tx_id_group=${7L / Chain.TxBucketSize}/")),
      s"lookup reads beyond its bucket: ${files.mkString(", ")}")
  }

  test("keyset page prunes buckets below the cursor and avoids a " +
      "global sort") {
    val cursor = 30L
    val page = spark.read.parquet(s"$out/transaction")
      .filter(col("tx_id_group").cast("long") >=
          cursor / Chain.TxBucketSize &&
        col("tx_id") > cursor)
      .orderBy(col("tx_id")).limit(5)
    val plan = page.queryExecution.executedPlan.toString
    // the derived bucket bound must reach the scan as a partition
    // filter, and the page must finish as a distributed top-k, never
    // a single-partition global sort
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("tx_id_group"), s"no partition pruning in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"page is not a distributed top-k:\n$plan")
    assert(page.select("tx_id").as[Long].collect().toSeq ===
      (cursor + 1 to cursor + 5))
    // the density-bounded form: BOTH bucket bounds reach the scan as
    // partition filters, so the page reads ≤ 2 partition dirs at any
    // store size
    val b = cursor / Chain.TxBucketSize
    val bounded = spark.read.parquet(s"$out/transaction")
      .filter(col("tx_id_group").cast("long").between(b, b + 1) &&
        col("tx_id") > cursor)
      .orderBy(col("tx_id")).limit(5)
    val bplan = bounded.queryExecution.executedPlan.toString
    assert(bplan.contains("PartitionFilters: [") &&
      bplan.contains(">=") && bplan.contains("<="),
      s"bounded page lacks the two-sided partition bound:\n$bplan")
    assert(bounded.select("tx_id").as[Long].collect().toSeq ===
      (cursor + 1 to cursor + 5))
  }

  test("hash prefix index lookup returns exactly the target") {
    val dir = sf("sf0.001")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writePrefixIndex(tx, out)
    val h = tx.filter(col("tx_id") === 42L).select("tx_hash").as[String].head()
    val got = ChainStore.lookupByHash(spark, out, h)
    assert(got.select("tx_id").as[Long].collect().toSeq === Seq(42L))
  }

  /** Result of `body` and the Spark jobs it ran on this thread. Suites
    * share one session, so the jobs are told apart by a thread-local
    * property; the listener-bus drain makes the count exact. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("graft.test.jobs") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.test.jobs", tag)
    try {
      val r = body
      BusBridge.drain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty("graft.test.jobs", null)
      sc.removeSparkListener(l)
    }
  }

  /** Column names and types, nullability aside. */
  private def shape(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  test("hash lookup reads one p2 directory: exact hit, typed miss, " +
      "string p2, one job") {
    val tx = Chain.transactions(spark, sf("sf0.001"))
    val iout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hashidx_").toString
    // only hashes starting with "0": every p2 directory but 0x is absent
    val sub = tx.filter(substring(col("tx_hash"), 1, 1) === "0")
    ChainStore.writePrefixIndex(sub, iout)
    // a numeric-looking prefix ("05"), which partition inference would
    // read as the integer 5
    val (h, id) = sub.filter(substring(col("tx_hash"), 2, 1).rlike("[0-9]"))
      .orderBy("tx_id").select("tx_hash", "tx_id").as[(String, Long)].head()
    val (hit, resolveJobs) = jobsOf(ChainStore.lookupByHash(spark, iout, h))
    assert(resolveJobs === 0, "resolving the lookup ran a Spark job")
    val (rows, execJobs) = jobsOf(hit.collect())
    assert(execJobs === 1)
    assert(rows.map(_.getAs[Long]("tx_id")).toSeq === Seq(id))
    assert(hit.inputFiles.nonEmpty && hit.inputFiles.forall(
      _.contains(s"/transaction_by_tx_prefix/p2=${h.take(2)}/")))
    assert(hit.schema("p2").dataType === StringType)
    assert(rows.head.getAs[String]("p2") === h.substring(0, 2))
    assert(shape(hit) === shape(spark.read.parquet(
      s"$iout/transaction_by_tx_prefix")))
    // a miss whose p2 directory does not exist: no rows, a hit's columns
    val missHash = "ff" + h.substring(2)
    assert(!new java.io.File(
      s"$iout/transaction_by_tx_prefix/p2=ff").exists())
    val miss = ChainStore.lookupByHash(spark, iout, missHash)
    assert(miss.collect().isEmpty)
    assert(shape(miss) === shape(hit))
    // and a missing table is still an error, not an empty answer
    intercept[IllegalArgumentException] {
      ChainStore.lookupByHash(spark, s"$iout/absent", h)
    }
  }

  test("hash lookup on an index without tx_hash_bin uses hex equality") {
    val tx = Chain.transactions(spark, sf("sf0.001"))
    val lout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "legacyidx_").toString
    // the index layout from before the binary hash column existed
    tx.select(substring(col("tx_hash"), 1, 2).as("p2"),
        substring(col("tx_hash"), 1, Chain.PrefixLen).as("tx_prefix"),
        col("tx_hash"), col("tx_id"))
      .repartition(col("p2"))
      .sortWithinPartitions(col("tx_prefix"), col("tx_hash"))
      .write.partitionBy("p2").parquet(s"$lout/transaction_by_tx_prefix")
    val h = tx.filter(col("tx_id") === 42L).select("tx_hash").as[String]
      .head()
    val got = ChainStore.lookupByHash(spark, lout, h)
    assert(shape(got) === shape(spark.read.parquet(
      s"$lout/transaction_by_tx_prefix")))
    assert(got.select("tx_id").as[Long].collect().toSeq === Seq(42L))
  }

  test("tx-id lookup equals a full-table read of its bucket on the batch " +
      "and the epoch layout, in one job") {
    val tx = Chain.transactions(spark, sf("sf0.001"))
    val bout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "txbatch_").toString
    val eout = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "txepoch_").toString
    ChainStore.writeTransactions(tx, bout)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 0), eout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 1), eout, 1L)
    val ids = tx.select("tx_id").as[Long].collect().sorted
    for (store <- Seq(bout, eout); id <- Seq(ids.head, ids(ids.length / 2),
        ids.last)) {
      val g = id / Chain.TxBucketSize
      // partition inference types the bucket column by its values; the
      // lookup declares it LongType, as the contract schema does
      val full = spark.read.parquet(s"$store/transaction")
        .filter(col("tx_id_group") === g && col("tx_id") === id)
        .withColumn("tx_id_group", col("tx_id_group").cast("long"))
      val (lookup, resolveJobs) = jobsOf(
        ChainStore.lookupByTxId(spark, store, id))
      assert(resolveJobs === 0, "resolving the lookup ran a Spark job")
      assert(lookup.inputFiles.nonEmpty && lookup.inputFiles.forall(
        _.contains(s"/transaction/tx_id_group=$g/")))
      assert(shape(lookup) === shape(full))
      val (rows, execJobs) = jobsOf(lookup.collect())
      assert(execJobs === 1)
      assert(rows.length === 1)
      assert(rows.toSeq === full.collect().toSeq)
    }
    assert(ChainStore.lookupByTxId(spark, eout, ids.last).columns
      .last === "ingest_epoch")
    // a bucket directory that does not exist: no rows, the contract's
    // columns (this store holds only the transaction scalars)
    val absent = ChainStore.lookupByTxId(spark, bout,
      (ids.last / Chain.TxBucketSize + 7) * Chain.TxBucketSize)
    assert(absent.collect().isEmpty)
    val contract = graft.chain.Schemas.transaction
    assert(shape(absent) === (contract.filterNot(_.name == "tx_id_group") :+
      contract("tx_id_group")).map(f => f.name -> f.dataType))
  }

  test("writeChain exports all tables through the sink trait") {
    val dir = sf("sf0.001")
    val chainOut = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "chain_").toString
    ChainSink.writeChain(spark, dir, chainOut)
    val n = Chain.transactions(spark, dir).count()
    val nBlocks = Chain.blocks(spark, dir).count()
    assert(spark.read.parquet(s"$chainOut/transaction").count() === n)
    assert(spark.read.parquet(s"$chainOut/transaction_by_tx_prefix")
      .count() === n)
    assert(spark.read.parquet(s"$chainOut/block").count() === nBlocks)
    // the full seven-table keyspace (schema.cql:6-75)
    val bt = spark.read.parquet(s"$chainOut/block_transactions")
    assert(bt.count() === nBlocks)
    // per-block tx_summary lists cover every tx exactly once
    import org.apache.spark.sql.functions.{aggregate, col, lit, sum}
    assert(bt.select(
      aggregate(col("txs"), lit(0L), (a, _) => a + 1L).as("k"))
      .agg(sum("k")).as[Long].head() === n)
    assert(spark.read.parquet(s"$chainOut/exchange_rates").count() ===
      Chain.exchangeRatesTable(spark, dir).count())
    assert(spark.read.parquet(s"$chainOut/summary_statistics").count() === 1)
    assert(spark.read.parquet(s"$chainOut/configuration").count() === 1)
  }

  test("blockTransactions conforms to the declared contract schema") {
    val bt = Chain.blockTransactions(spark, sf("sf0.001"))
    assert(graft.chain.Schemas.conforms(bt.schema,
      graft.chain.Schemas.blockTransactions))
    // ordered: each list ascends by tx_id
    import org.apache.spark.sql.functions.{col, expr}
    val unordered = bt.filter(!expr(
      "forall(zip_with(txs, slice(txs, 2, size(txs)), (a, b) -> a.tx_id < b.tx_id), x -> x)"))
    assert(unordered.count() === 0L)
  }

  test("connector-shaped sink routes tables with the reference's options") {
    val cfg = SinkConfig(keyspace = "btc",
      nodes = Seq("n1", "n2"), concurrency = 50)
    val captured = scala.collection.mutable.Buffer.empty[(String, Long)]
    val ids = scala.collection.mutable.Map.empty[String, String]
    val sink = new CassandraShapedSink(cfg) {
      override protected def save(df: org.apache.spark.sql.DataFrame,
          table: String): Unit = {
        captured += ((table, df.count()))
        if (df.schema.fieldNames.contains("id"))
          ids(table) = df.select("id").head().getString(0)
      }
    }
    ChainSink.writeChain(spark, sf("sf0.001"), out = "", sink)
    // single-row tables are keyed by the keyspace name, as the reference
    // inserts them (blocksci_export.py:383, 625-629)
    assert(ids("summary_statistics") === "btc")
    assert(ids("configuration") === "btc")
    assert(captured.map(_._1).toSet ===
      graft.chain.CqlSchema.tables.map(_.name).toSet)
    assert(captured.forall(_._2 > 0))
    val opts = sink.writerOptions("transaction")
    assert(opts("keyspace") === "btc")
    assert(opts("table") === "transaction")
    assert(opts("spark.cassandra.connection.host") === "n1,n2")
    assert(opts("spark.cassandra.connection.port") === "9042")
    assert(opts("spark.cassandra.output.concurrent.writes") === "50")
    // DDL bootstrap carries the configured keyspace + all 7 tables
    val ddl = sink.bootstrapDdl
    assert(ddl.contains("CREATE KEYSPACE IF NOT EXISTS btc"))
    assert(!ddl.contains("graphsense"))
    for (t <- graft.chain.CqlSchema.tables.map(_.name))
      assert(ddl.contains(s"CREATE TABLE $t"), s"missing table $t in DDL")
  }

  test("per-table writer contracts: full option map, and every shipped " +
      "column lands in a declared CQL column of its table") {
    import org.apache.spark.sql.types._
    val cfg = SinkConfig(keyspace = "ltc", nodes = Seq("db1"),
      port = 9043, concurrency = 64, consistency = "ONE")
    val shipped = scala.collection.mutable.Map.empty[String, StructType]
    val ids = scala.collection.mutable.Map.empty[String, String]
    val sink = new CassandraShapedSink(cfg) {
      override protected def save(df: org.apache.spark.sql.DataFrame,
          table: String): Unit = {
        shipped(table) = df.schema
        if (df.schema.fieldNames.contains("id"))
          ids(table) = df.select("id").head().getString(0)
      }
    }
    ChainSink.writeChain(spark, sf("sf0.001"), out = "", sink)
    val declared = graft.chain.CqlSchema.tables.map(t => t.name -> t).toMap
    assert(shipped.keySet === declared.keySet)
    // the full option map per table — the connector contract a live
    // cluster would read (the closest zero-egress proxy to executing
    // .save(); the reference CLI surface: blocksci_export.py:396-418)
    for (t <- declared.keySet) {
      assert(sink.writerOptions(t) === Map(
        "keyspace" -> "ltc", "table" -> t,
        "spark.cassandra.connection.host" -> "db1",
        "spark.cassandra.connection.port" -> "9043",
        "spark.cassandra.output.concurrent.writes" -> "64",
        "spark.cassandra.output.consistency.level" -> "ONE"))
    }
    // shipped column → declared CQL column of THAT table, with a
    // storage-compatible type (same narrowing table as SchemaSpec)
    def compatible(dt: DataType, cqlType: String): Boolean = {
      val c = cqlType.toLowerCase.replaceAll("\\s+", "")
      dt match {
        case LongType => Set("bigint", "int", "smallint")(c)
        case StringType => Set("text", "blob")(c)
        case BinaryType => c == "blob"
        case BooleanType => c == "boolean"
        case ArrayType(StringType, _) => c == "list<text>"
        case ArrayType(_: StructType, _) => c.startsWith("list<frozen<")
        case MapType(StringType, FloatType, _) => c == "map<text,float>"
        case _ => false
      }
    }
    for ((table, schema) <- shipped; f <- schema.fields) {
      val col = declared(table).cols
        .find(c => c.engine == f.name || c.cql == f.name)
      assert(col.isDefined,
        s"$table ships undeclared column ${f.name}")
      assert(compatible(f.dataType, col.get.cqlType),
        s"$table.${f.name}: ${f.dataType} cannot land in " +
          s"CQL ${col.get.cqlType}")
    }
    // keyspace-stamped singleton rows (blocksci_export.py:383, 625-629)
    assert(ids("summary_statistics") === "ltc")
    assert(ids("configuration") === "ltc")
  }
}
