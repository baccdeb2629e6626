package graft.operators

import graft.{Q, QueryModule, Tables, WorkDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-path completeness over the q157 commit log — the table-format
  * operations a lakehouse deployment runs besides append/merge/read:
  * row-level DELETE (q172), OPTIMIZE compaction that change feeds skip
  * (q173), RESTORE rollback (q174), and bloom-filter point-lookup
  * skipping (q175). All are [[TimeTravel]] protocol ops; this module
  * holds their declared queries and fixtures.
  *
  * Reference: Javier009/eCommerce_Data_Pipeline's warehouse loads
  * (send_data_to_*.py re-runs) imply exactly these maintenance ops —
  * correcting a bad load (delete/restore) and compacting the small files
  * per-run ingestion accumulates.
  */
object LakehouseOps extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  private def orders3(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")

  private def prioAgg(df: DataFrame): DataFrame =
    df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total"))

  /** q172's table: orders range-clustered with log stats (the q170
    * layout), then the middle [max/4, max/2] key range DELETED — the
    * delete runs once per JVM (guarded on the log's version), so repeated
    * invocations read the same generation-1 state. */
  private[graft] def deletedTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttld_", s"q172:$d")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
    if (TimeTravel.currentVersion(root) < 1) {
      val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
      TimeTravel.deleteWhere(s, root, "o_orderkey", mx / 4, mx / 2)
    }
    root
  }

  /** q173's table: two append generations, an OPTIMIZE compaction
    * (`nodata` commit), then a third append — the shape a per-run ingest
    * produces once maintenance kicks in. */
  private[graft] def compactedTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttlo_", s"q173:$d")
    if (TimeTravel.currentVersion(root) < 0) {
      val o = orders3(s, d)
      TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 1))
      TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 2))
      TimeTravel.compact(s, root, 1)
      TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 0))
    }
    root
  }

  /** q174's table: even keys at gen 0, odd keys appended at gen 1, then
    * RESTORED to gen 0 as generation 2 (the bad-load rollback). */
  private[graft] def restoredTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttlr_", s"q174:$d")
    if (TimeTravel.currentVersion(root) < 0) {
      val o = orders3(s, d)
      TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 2 === 0))
      TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 2 === 1))
    }
    if (TimeTravel.currentVersion(root) < 2)
      TimeTravel.restore(s, root, 0)
    root
  }

  /** q175's table: orders committed with per-file key blooms in the log. */
  private[graft] def bloomedTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttlb_", s"q175:$d")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commitBloomed(s, root, orders3(s, d), "o_orderkey", 8)
    root
  }

  /** q193's table: the q173 source replicated through the DSv2 commit-log
    * SINK — CDF source (1 generation per trigger) → `writeStream.format
    * (CdfDataSource)`, one txn-tagged generation per epoch. Built once
    * per JVM, guarded on the destination log's existence. */
  private[graft] def sinkTable(s: SparkSession, d: String): String = {
    val src = compactedTable(s, d)
    val dst = WorkDirs.cached("graft_ttsk_", s"q193:$d") + "/t"
    if (TimeTravel.currentVersion(dst) < 0) {
      val ckpt = WorkDirs.cached("graft_ttsk_", s"q193:$d") + "/ckpt"
      val q = s.readStream.format("graft.sources.cdf.CdfDataSource")
        .option("startingGen", -1).option("maxGensPerTrigger", 1)
        .load(src)
        .writeStream.format("graft.sources.cdf.CdfDataSource")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    dst
  }

  /** q191/q192's table: orders committed (v0), the change feed enabled
    * (v1), a middle key band DELETED (v2) and the next band's price
    * DOUBLED (v3) — both DML commits writing their affected rows as
    * change files. Built once per JVM. */
  private[graft] def cdfTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttcf_", s"q191:$d")
    if (TimeTravel.currentVersion(root) < 0) {
      TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
      TimeTravel.setProperty(s, root, "graft.enableChangeDataFeed", "true")
      val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
      TimeTravel.deleteWhere(s, root, "o_orderkey", mx / 4, mx / 2)
      TimeTravel.updateWhere(s, root, "o_orderkey",
        mx / 2 + 1, 3 * mx / 4, "o_totalprice", col("o_totalprice") * 2)
    }
    root
  }

  /** q178's table: the q173 fixture REPLICATED through one streaming
    * pipeline — CDF source over the source log, foreachBatch committing
    * each micro-batch into the destination log under a txn id (epoch =
    * txn version), one generation per batch. Replayed epochs are
    * idempotent skips; a deliberate stale re-commit at the end proves
    * it. Built once per JVM. */
  private[graft] def txnReplicatedTable(s: SparkSession, d: String): String = {
    val src = compactedTable(s, d)
    val dst = WorkDirs.cached("graft_ttlx_", s"q178:$d")
    if (TimeTravel.currentVersion(dst) < 0) {
      val ckpt = WorkDirs.freshSubdir("graft_ttlxc_", s"q178ck:$d", "ckpt")
      val q = s.readStream
        .format("graft.sources.cdf.CdfDataSource")
        .option("startingGen", -1)
        .option("maxGensPerTrigger", 1)
        .load(src)
        .writeStream
        .foreachBatch { (df: DataFrame, epoch: Long) =>
          TimeTravel.commitTxn(s, dst, df, "q178-replicator", epoch)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // a replayed epoch (restart re-runs the last uncommitted batch)
      // must be a no-op: re-commit epoch 0's payload and require no
      // new generation landed
      val before = TimeTravel.currentVersion(dst)
      TimeTravel.commitTxn(s, dst,
        orders3(s, d).limit(10), "q178-replicator", 0L)
      require(TimeTravel.currentVersion(dst) == before,
        "q178: a replayed txn epoch landed as a new generation")
    }
    dst
  }

  /** q194's table: the column-mapping lifecycle, one generation per step —
    * 0: even keys committed under the original 4-column schema;
    * 1: `o_totalprice` RENAMED to `total_usd` (metadata-only);
    * 2: the odd keys appended THROUGH the mapping (stored under the old
    *    physical name — one read schema serves files on both sides);
    * 3: `o_custkey` DROPPED (metadata-only, bytes stay);
    * 4: `o_custkey` RE-ADDED under a fresh physical name — so it must
    *    read NULL everywhere, never resurrecting the dropped bytes. */
  private[graft] def mappedTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttcm_", s"q194:$d")
    val base = t(s, d, "orders")
      .select("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commit(s, root, base.filter(col("o_orderkey") % 2 === 0))
    if (TimeTravel.currentVersion(root) < 1)
      TimeTravel.renameColumn(s, root, "o_totalprice", "total_usd")
    if (TimeTravel.currentVersion(root) < 2)
      TimeTravel.commit(s, root,
        base.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "total_usd"))
    if (TimeTravel.currentVersion(root) < 3)
      TimeTravel.dropColumnMapped(s, root, "o_custkey")
    if (TimeTravel.currentVersion(root) < 4)
      TimeTravel.addColumnMapped(s, root, "o_custkey", "BIGINT")
    root
  }

  /** q195's table: orders committed through the GENERATED month partition
    * key derived from the order date — one file per month, the derived
    * value in the log, the column itself never stored. */
  private[graft] def generatedTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttgp_", s"q195:$d")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commitPartitionedGeneratedMonth(s, root,
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"), col("o_orderdate").cast("date").as("o_date")),
        "o_date")
    root
  }

  /** q196's table: an initially range-clustered layout (even keys), a
    * plain append landing in the LOW 3/8 of the key range (odd keys ≤
    * 3·max/8 — the realistic incremental shape: new data concentrated in
    * one key region, no stats, un-prunable), then ONE incremental
    * clustering pass folding the append into the layout — only the low
    * cells rewrite; the high ones keep their physical files. */
  private[graft] def incrClusteredTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttic_", s"q196:$d")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commitClustered(s, root,
        orders3(s, d).filter(col("o_orderkey") % 2 === 0), "o_orderkey", 8)
    if (TimeTravel.currentVersion(root) < 1) {
      val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
      TimeTravel.commit(s, root,
        orders3(s, d).filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderkey") <= lit(3 * mx / 8)))
    }
    if (TimeTravel.currentVersion(root) < 2)
      TimeTravel.compactClusteredIncremental(s, root, "o_orderkey")
    root
  }

  /** q197's table: the full orders projection range-clustered into 8 key
    * cells with per-file log stats — the DSv2 file-skipping fixture. */
  private[graft] def dsvClusteredTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_tt97_", s"q197:$d")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
    root
  }

  /** q198/q200's table: orders partitioned by priority through the log
    * (one file per value, `=` pvals recorded), with a DATE column and a
    * derived nullable column so footer null-counts are exercised. */
  private[graft] def dsvPartitionedTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_tt98_", s"q198:$d")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commitPartitioned(s, root,
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_date"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice")).as("alt")),
        "o_orderpriority")
    root
  }

  /** q199's two sides: even / odd orders, both partitioned by priority —
    * the co-partitioned layout a storage-partitioned join consumes. */
  private[graft] def dsvSideTable(s: SparkSession, d: String,
      even: Boolean): String = {
    val tag = if (even) "e" else "o"
    val root = WorkDirs.cached(s"graft_tt99${tag}_", s"q199$tag:$d")
    if (TimeTravel.currentVersion(root) < 0)
      TimeTravel.commitPartitioned(s, root,
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority"), col("o_totalprice"))
          .filter(col("o_orderkey") % 2 === (if (even) 0 else 1)),
        "o_orderpriority")
    root
  }

  private def dsv(s: SparkSession, root: String): DataFrame =
    s.read.format(graft.sources.table.TableDataSource.NAME).load(root)

  /** q203's table: two partitioned commits, so every priority's value
    * group chains TWO files — the shape that shows a pushed LIMIT
    * stopping the chain before the second file opens. */
  private[graft] def dsvTwoCommitTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_tt203_", s"q203:$d")
    if (TimeTravel.currentVersion(root) < 0) {
      val o = orders3(s, d)
      TimeTravel.commitPartitioned(s, root,
        o.filter(col("o_orderkey") % 2 === 0), "o_orderpriority")
      TimeTravel.commitPartitioned(s, root,
        o.filter(col("o_orderkey") % 2 === 1), "o_orderpriority")
    }
    root
  }

  private[graft] val CatalogClass =
    "graft.sources.table.GraftCatalog"

  /** Run `body` with `confs` set, restoring every key afterwards — the
    * q145 discipline for queries whose plan needs session flags. */
  private def withConfs[T](s: SparkSession, confs: (String, String)*)
      (body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val qs: Seq[Q] = Seq(

    // Q172 log-native DELETE: the middle key range is deleted by
    // rewriting ONLY the stats-overlapping files (TimeTravelSpec asserts
    // untouched clusters keep their physical names); the surviving rows
    // re-cluster with fresh stats. Oracle: the complement predicate over
    // the source table, bounds derived identically (truncating division).
    Q("q172_log_delete",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_orderkey NOT BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = deletedTable(s, d)
        prioAgg(TimeTravel.readAsOf(s, root, TimeTravel.currentVersion(root)))
          .orderBy("o_orderpriority")
      }),

    // Q173 OPTIMIZE + change-feed skip: after two appends, a compaction
    // (nodata commit), and a third append, the FULL leg proves the
    // compaction changed no rows, and the DELTA leg proves the change
    // feed over the whole range skips the compaction commit — it reads
    // the two real appends only, through files the compaction physically
    // retired (immutable data files keep backing the delta). Oracle
    // replays both predicates over the source table.
    Q("q173_log_compaction",
      Some("""SELECT 'delta' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderkey % 3 <> 1 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'full' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = compactedTable(s, d)
        val full = prioAgg(TimeTravel.readAsOf(s, root, 3))
          .select(lit("full").as("leg"), col("o_orderpriority"), col("n"),
            col("total"))
        val delta = prioAgg(TimeTravel.readChangesSince(s, root, 0, 3))
          .select(lit("delta").as("leg"), col("o_orderpriority"), col("n"),
            col("total"))
        delta.unionAll(full).orderBy("leg", "o_orderpriority")
      }),

    // Q174 RESTORE: generation 2 rolls the table back to generation 0's
    // state as a new commit — the PRE leg reads the superseded gen 1
    // (history intact), the POST leg reads the restored latest, equal to
    // gen 0 by construction. Metadata-only: no data file is copied.
    Q("q174_log_restore",
      Some("""SELECT 'post' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'pre' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = restoredTable(s, d)
        val pre = prioAgg(TimeTravel.readAsOf(s, root, 1))
          .select(lit("pre").as("leg"), col("o_orderpriority"), col("n"),
            col("total"))
        val post = prioAgg(TimeTravel.readAsOf(s, root, 2))
          .select(lit("post").as("leg"), col("o_orderpriority"), col("n"),
            col("total"))
        post.unionAll(pre).orderBy("leg", "o_orderpriority")
      }),

    // Q175 bloom point lookup: the five smallest order keys are fetched
    // through the log's per-file blooms — only files whose filter claims
    // a key are opened (TimeTravelSpec asserts the scanned set; an absent
    // key opens zero files), the residual IN-filter keeps exactness.
    // Oracle: the same IN-subquery over the source table.
    Q("q175_log_bloom_lookup",
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM orders
             |WHERE o_orderkey IN
             |  (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5)
             |ORDER BY o_orderkey""".stripMargin),
      (s, d) => {
        val root = bloomedTable(s, d)
        val keys = t(s, d, "orders").select("o_orderkey")
          .orderBy("o_orderkey").limit(5)
          .collect().map(_.getLong(0)).toSeq // declared 5-row lookup set
        TimeTravel.readAsOfKeys(s, root, TimeTravel.currentVersion(root),
          "o_orderkey", keys)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .orderBy("o_orderkey")
      }),

    // Q176 STREAMING change feed (Delta's CDF as a DSv2 source): the
    // commit log consumed as a stream — offsets are GENERATIONS, each
    // micro-batch reads exactly the range's added files, the nodata
    // compaction in the fixture is skipped (its files are rewritten old
    // rows), and AvailableNow drains to the generation frozen at start.
    // Draining gens 0,1,3 of the q173 fixture = the whole orders table;
    // oracle = the batch aggregate (stream and batch must agree on a
    // fully-drained input). CdfSourceSpec proves per-generation batch
    // boundaries, admission control, restart resume, and the loud
    // remove-commit failure.
    Q("q176_stream_changes",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = compactedTable(s, d)
        val agg = s.readStream
          .format("graft.sources.cdf.CdfDataSource")
          .option("startingGen", -1)
          .load(root)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions",
          graft.StreamSizing.shards(s, root).toString)
        try {
          val q = agg.writeStream.format("memory").queryName("q176_sink")
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
        s.table("q176_sink").orderBy("o_orderpriority")
      }),

    // Q186 BATCH change-feed read (Delta's `table_changes`): the same
    // change resolution as q176 planned as ONE bounded batch scan under
    // the standard pushdown rules — column pruning reaches each file's
    // parquet projection (CdfSourceSpec counts decoded fields), the
    // fixture's nodata compaction is skipped, and the full range equals
    // the table. Oracle = the batch aggregate over orders.
    Q("q186_batch_changes",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = compactedTable(s, d)
        s.read.format("graft.sources.cdf.CdfDataSource").load(root)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // Q178 idempotent streaming writes into the log (txn commits): the
    // q173 table replicated log-to-log through one streaming pipeline —
    // CDF source, foreachBatch committing each epoch under a txn id —
    // and a deliberately REPLAYED epoch skipped by the txn check (the
    // fixture requires it landed no generation). The destination's
    // latest snapshot must therefore hold the source's rows exactly
    // once; oracle = the batch aggregate of the whole table.
    Q("q178_log_txn_stream",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val dst = txnReplicatedTable(s, d)
        prioAgg(TimeTravel.readAsOf(s, dst, TimeTravel.currentVersion(dst)))
          .orderBy("o_orderpriority")
      }),

    // Q179 SHALLOW CLONE: the q157 table cloned by METADATA ONLY (the
    // clone's first commit references the source's files by absolute
    // path — zero data copied), then a delta appended to the CLONE. The
    // clone leg sees source snapshot + delta; the source leg is
    // untouched by the clone's append (log independence, both
    // directions spec-proven). Oracle replays both file sets.
    Q("q179_shallow_clone",
      Some("""WITH cl AS (
             |  SELECT o_orderpriority, o_totalprice FROM orders
             |  UNION ALL
             |  SELECT o_orderpriority, o_totalprice FROM orders
             |  WHERE o_orderkey % 7 = 3)
             |SELECT 'clone' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM cl GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'src' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        val src = TimeTravel.ordersTable(s, d) // gens 0,1 + planted orphan
        val dst = WorkDirs.cached("graft_ttlcl_", s"q179:$d")
        if (TimeTravel.currentVersion(dst) < 0) {
          TimeTravel.shallowClone(s, src, dst)
          TimeTravel.commit(s, dst,
            orders3(s, d).filter(col("o_orderkey") % 7 === 3)
              .withColumn("o_orderkey", col("o_orderkey") + 800000000L))
        }
        val clone = prioAgg(
          TimeTravel.readAsOf(s, dst, TimeTravel.currentVersion(dst)))
          .select(lit("clone").as("leg"), col("o_orderpriority"), col("n"),
            col("total"))
        val source = prioAgg(
          TimeTravel.readAsOf(s, src, TimeTravel.currentVersion(src)))
          .select(lit("src").as("leg"), col("o_orderpriority"), col("n"),
            col("total"))
        clone.unionAll(source).orderBy("leg", "o_orderpriority")
      }),

    // Q180 commit history (DESCRIBE HISTORY through pure SQL): the q173
    // table's log read back via the graft_history TVF — version, the
    // ROWS each commit added (recorded per-file footer counts), and the
    // commit's flags; the compaction generation carries `nodata` and
    // re-adds the two appends' rows. File counts are partitioning-
    // dependent and stay out of the declared output (history() exposes
    // them for the spec). Oracle pins every row count to its generation
    // predicate.
    Q("q180_log_history",
      Some("""SELECT CAST(0 AS BIGINT) AS version,
             |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 1) AS n_rows,
             |  '' AS flags
             |UNION ALL
             |SELECT CAST(1 AS BIGINT),
             |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 2), ''
             |UNION ALL
             |SELECT CAST(2 AS BIGINT),
             |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 <> 0), 'nodata'
             |UNION ALL
             |SELECT CAST(3 AS BIGINT),
             |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0), ''
             |ORDER BY version""".stripMargin),
      (s, d) => {
        val root = compactedTable(s, d)
        graft.GraftFunctions.register(s)
        s.sql(
          s"""SELECT version, n_rows, flags FROM graft_history('$root')
             |ORDER BY version""".stripMargin)
      }),

    // Q181 categorical partition pruning in the log: orders committed
    // hive-partitioned on o_orderpriority with each file's partition
    // VALUE recorded in the commit — an equality read opens exactly that
    // value's files from log metadata alone (the string-column
    // counterpart of q170's range stats; spec asserts 1 of 5 files),
    // with the residual filter keeping exactness. Oracle: the same
    // equality aggregate over the source table.
    Q("q181_log_partition_pruning",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderpriority = '3-MEDIUM'
             |GROUP BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttlp_", s"q181:$d")
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitPartitioned(s, root, orders3(s, d),
            "o_orderpriority")
        prioAgg(TimeTravel.readAsOfValue(s, root,
          TimeTravel.currentVersion(root), "o_orderpriority", "3-MEDIUM"))
      }),

    // Q185 Z-ORDER clustering in the log (OPTIMIZE ZORDER BY): orders
    // committed Morton-clustered on (o_orderkey, o_custkey) with per-file
    // stats for BOTH dimensions in the commit — a range read on the
    // SECONDARY dimension prunes from log metadata (spec: ≤9 of 16
    // files; single-column clustering scans all 16 for the same range),
    // the multi-dimensional locality a one-column sort cannot give.
    // Oracle: the same custkey-range aggregate over the source table.
    Q("q185_log_zorder",
      Some("""WITH p AS (SELECT max(o_custkey)//4 AS lo,
             |                  max(o_custkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_custkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttlz_", s"q185:$d")
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitZOrderedN(s, root,
            t(s, d, "orders").select("o_orderkey", "o_custkey",
              "o_orderpriority", "o_totalprice"),
            Seq("o_orderkey", "o_custkey"), 16)
        val mx = t(s, d, "orders").agg(max("o_custkey")).head().getLong(0)
        TimeTravel.readAsOfWhere(s, root, TimeTravel.currentVersion(root),
          "o_custkey", mx / 4, mx / 2)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // Q187 TIMESTAMP AS OF (Delta's `TIMESTAMP AS OF`): commit times are
    // the commit files' mtimes, monotonized at claim time so resolution
    // is well-defined even for same-millisecond neighbors; reading as of
    // the FIRST commit's own timestamp sees exactly generation 0 — the
    // appended generation is invisible. Oracle = the gen-0 aggregate.
    Q("q187_time_travel_ts",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttts_", s"q187:$d")
        if (TimeTravel.currentVersion(root) < 0) {
          TimeTravel.commit(s, root, orders3(s, d))
          TimeTravel.commit(s, root, orders3(s, d)
            .withColumn("o_orderkey", col("o_orderkey") + lit(1000000L)))
        }
        val ts0 = TimeTravel.commitTimes(root).head._2
        prioAgg(TimeTravel.readAsOfTimestamp(s, root, ts0))
          .orderBy("o_orderpriority")
      }),

    // Q188 DELETION VECTORS (Delta's merge-on-read row deletes): the
    // q172 delete shape executed WITHOUT rewriting a single data file —
    // matching row positions land in immutable sidecars (~1–2 bytes per
    // deleted row), the commit references them per file, and the scan
    // anti-joins the mask back in (spec: the snapshot's file names are
    // unchanged; a second delete unions; compaction materializes).
    // Oracle = orders minus the deleted key band.
    Q("q188_deletion_vectors",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_orderkey NOT BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttdv_", s"q188:$d")
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        if (TimeTravel.currentVersion(root) < 1) {
          val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
          TimeTravel.deleteVectorWhere(s, root, "o_orderkey", mx / 4, mx / 2)
        }
        prioAgg(TimeTravel.readAsOf(s, root, TimeTravel.currentVersion(root)))
          .orderBy("o_orderpriority")
      }),

    // Q189 CHECK constraints (Delta's ADD CONSTRAINT): two constraints
    // logged as metadata commits; every later commit validates its rows
    // in one combined pass BEFORE anything stages (spec: a violating
    // commit fails loudly and the log is unchanged). The declared read
    // proves constrained commits land normally. Oracle = the plain
    // whole-table aggregate.
    Q("q189_check_constraints",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttck_", s"q189:$d")
        if (TimeTravel.currentVersion(root) < 0) {
          TimeTravel.addConstraint(s, root, "pos_price", "o_totalprice > 0")
          TimeTravel.addConstraint(s, root, "prio_known",
            "o_orderpriority IS NOT NULL")
          TimeTravel.commit(s, root,
            orders3(s, d).filter(col("o_orderkey") % 2 === 0))
          TimeTravel.commit(s, root,
            orders3(s, d).filter(col("o_orderkey") % 2 === 1))
        }
        prioAgg(TimeTravel.readAsOf(s, root, TimeTravel.currentVersion(root)))
          .orderBy("o_orderpriority")
      }),

    // Q190 row-level UPDATE (Delta's UPDATE): doubles o_totalprice in
    // the middle key band; stats-pruned to the overlapping files, the
    // assignment folded into the rewrite as one codegen'd CASE, retired
    // atomically. Oracle = the CASE'd aggregate over orders.
    Q("q190_log_update",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(CASE WHEN o_orderkey BETWEEN p.lo AND p.hi
             |    THEN o_totalprice * 2 ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttlu_", s"q190:$d")
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        if (TimeTravel.currentVersion(root) < 1) {
          val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
          TimeTravel.updateWhere(s, root, "o_orderkey", mx / 4, mx / 2,
            "o_totalprice", col("o_totalprice") * 2)
        }
        prioAgg(TimeTravel.readAsOf(s, root, TimeTravel.currentVersion(root)))
          .orderBy("o_orderpriority")
      }),

    // Q191 ROW-LEVEL change feed (Delta's `table_changes` with
    // `_change_type`): the table opts in via the enableChangeDataFeed
    // property, then a DELETE and an UPDATE each write their affected
    // rows as change files INSIDE the same commit (write-time CDC — the
    // reader never reconstructs row diffs from file diffs); the feed
    // replays inserts, deletes, and update pre/post-images over the
    // whole history, reading exactly the range's added + change files.
    // Oracle = the equivalent UNION ALL over orders.
    Q("q191_row_change_feed",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS l1,
             |                  max(o_orderkey)//2 AS h1,
             |                  max(o_orderkey)//2+1 AS l2,
             |                  3*max(o_orderkey)//4 AS h2 FROM orders),
             |ch AS (
             |  SELECT 'insert' AS change_type, o_totalprice FROM orders
             |  UNION ALL SELECT 'delete', o_totalprice FROM orders, p
             |    WHERE o_orderkey BETWEEN p.l1 AND p.h1
             |  UNION ALL SELECT 'update_preimage', o_totalprice FROM orders, p
             |    WHERE o_orderkey BETWEEN p.l2 AND p.h2
             |  UNION ALL SELECT 'update_postimage', o_totalprice * 2
             |    FROM orders, p WHERE o_orderkey BETWEEN p.l2 AND p.h2
             |)
             |SELECT change_type, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM ch GROUP BY change_type ORDER BY change_type""".stripMargin),
      (s, d) => {
        val root = cdfTable(s, d)
        TimeTravel.readRowChanges(s, root, -1,
            TimeTravel.currentVersion(root))
          .groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("change_type")
      }),

    // Q192 STREAMING row-level change feed (Delta's
    // `readChangeFeed` on readStream): the q191 history consumed
    // through the DSv2 source with `readChangeFeed=true` — every split
    // arrives tagged (`_change_type` constant-filled for plain data
    // files, read from the change file otherwise; `_commit_version`
    // always constant), per-generation offsets, AvailableNow drain.
    // Same oracle as q191: the streamed feed IS the batch feed.
    Q("q192_stream_row_changes",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS l1,
             |                  max(o_orderkey)//2 AS h1,
             |                  max(o_orderkey)//2+1 AS l2,
             |                  3*max(o_orderkey)//4 AS h2 FROM orders),
             |ch AS (
             |  SELECT 'insert' AS change_type, o_totalprice FROM orders
             |  UNION ALL SELECT 'delete', o_totalprice FROM orders, p
             |    WHERE o_orderkey BETWEEN p.l1 AND p.h1
             |  UNION ALL SELECT 'update_preimage', o_totalprice FROM orders, p
             |    WHERE o_orderkey BETWEEN p.l2 AND p.h2
             |  UNION ALL SELECT 'update_postimage', o_totalprice * 2
             |    FROM orders, p WHERE o_orderkey BETWEEN p.l2 AND p.h2
             |)
             |SELECT change_type, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM ch GROUP BY change_type ORDER BY change_type""".stripMargin),
      (s, d) => {
        val root = cdfTable(s, d)
        val agg = s.readStream
          .format("graft.sources.cdf.CdfDataSource")
          .option("startingGen", -1)
          .option("readChangeFeed", "true")
          .load(root)
          .groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions",
          graft.StreamSizing.shards(s, root).toString)
        try {
          val q = agg.writeStream.format("memory").queryName("q192_sink")
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
        s.table("q192_sink").orderBy("change_type")
      }),

    // Q193 STREAMING WRITE into the commit log (the table format's last
    // quadrant): the q173 table replicated log-to-log through
    // `writeStream.format(CdfDataSource)` — a REAL DSv2 sink committing
    // one atomic generation per micro-batch, exactly-once by the q178
    // txn contract (the commit records (queryId, epoch); a replayed
    // epoch lands nothing — spec forces one). Readback through the
    // ordinary AS-OF path. Oracle = the whole-table aggregate.
    Q("q193_log_stream_sink",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val dst = sinkTable(s, d)
        prioAgg(TimeTravel.readAsOf(s, dst, TimeTravel.currentVersion(dst)))
          .orderBy("o_orderpriority")
      }),

    // Q194 COLUMN MAPPING (Delta's rename/drop-as-metadata): a rename and
    // a drop move ZERO data bytes — the log maps logical names onto the
    // physical parquet names (TimeTravelSpec pins: the rename commit adds
    // no files, the raw files keep the old name, gen 0 still presents it,
    // and a RE-ADDED dropped column reads NULL everywhere instead of
    // resurrecting old bytes — the ncust=0 column the oracle pins).
    // Oracle: gen-0 replays the even split with real o_custkey counts;
    // the final generation aggregates the renamed total over ALL rows.
    Q("q194_column_mapping",
      Some("""SELECT CAST(0 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  count(o_custkey) AS ncust
             |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT CAST(4 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(0 AS BIGINT) AS ncust
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY gen, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = mappedTable(s, d)
        val leg0 = TimeTravel.readAsOf(s, root, 0)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"),
            count(col("o_custkey")).as("ncust"))
          .select(lit(0L).as("gen"), col("o_orderpriority"), col("n"),
            col("total"), col("ncust"))
        val leg4 = TimeTravel.readAsOfMapped(s, root, 4)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("total_usd").cast("decimal(18,2)"))
              .cast("double").as("total"),
            count(col("o_custkey")).as("ncust"))
          .select(lit(4L).as("gen"), col("o_orderpriority"), col("n"),
            col("total"), col("ncust"))
        leg0.unionAll(leg4).orderBy("gen", "o_orderpriority")
      }),

    // Q195 GENERATED partition columns (Delta's generated-column partition
    // pruning): the table is partitioned by a month key DERIVED from the
    // order date — never stored, never mentioned by the reader — and a
    // plain `o_date BETWEEN lo AND hi` filter is translated into month-
    // interval pruning from log metadata alone (TimeTravelSpec counts the
    // opened files: only the window's months). Oracle: the same date
    // window over the source table, bounds derived identically.
    Q("q195_generated_partitions",
      Some("""WITH p AS (SELECT CAST(min(o_orderdate) AS DATE) + 120 AS lo,
             |                  CAST(min(o_orderdate) AS DATE) + 300 AS hi
             |           FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p
             |WHERE CAST(o_orderdate AS DATE) BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = generatedTable(s, d)
        val mn = t(s, d, "orders")
          .agg(min(col("o_orderdate").cast("date"))).head()
          .getDate(0).toLocalDate
        val (lo, hi) = (mn.plusDays(120).toString, mn.plusDays(300).toString)
        TimeTravel.readAsOfBetweenDates(s, root,
          TimeTravel.currentVersion(root), "o_date", lo, hi)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // Q196 INCREMENTAL clustering (the liquid-clustering discipline): a
    // plain append on a range-clustered table is folded into the layout
    // by rewriting ONLY the cluster cells its keys land in — untouched
    // cells keep their physical files (TimeTravelSpec pins it), cost ∝
    // new data + touched cells, and range reads prune from log stats over
    // the WHOLE table again. The queried range straddles the fold
    // boundary (3·max/8), so the oracle covers folded odds, original
    // evens, and the seam between them. Oracle: the same predicates over
    // the source table.
    Q("q196_incremental_clustering",
      Some("""WITH p AS (SELECT 3*max(o_orderkey)//8 AS cap,
             |                  max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p
             |WHERE (o_orderkey % 2 = 0 OR o_orderkey <= p.cap)
             |  AND o_orderkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = incrClusteredTable(s, d)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        prioAgg(TimeTravel.readAsOfWhere(s, root,
          TimeTravel.currentVersion(root), "o_orderkey", mx / 4, mx / 2))
          .orderBy("o_orderpriority")
      }),

    // Q197 DSv2 SNAPSHOT scan with stats-based FILE SKIPPING: the commit
    // log's snapshot served through a full TableProvider whose
    // ScanBuilder turns pushed range filters into file pruning from log
    // min/max stats alone — skipped files are never opened, every filter
    // stays a row-level residual so semantics never change
    // (TableSourceSpec pins opened-file counts and the PushedFilters
    // plan line). Oracle: the same key window over the source table.
    Q("q197_dsv2_file_skipping",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_orderkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = dsvClusteredTable(s, d)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        prioAgg(dsv(s, root)
          .filter(col("o_orderkey") >= mx / 4 && col("o_orderkey") <= mx / 2))
          .orderBy("o_orderpriority")
      }),

    // Q198 DSv2 AGGREGATE pushdown: partition-grouped COUNT(*) /
    // COUNT(col) / MIN / MAX answered from PARQUET FOOTERS — per-file row
    // counts, null counts, typed column min/max — without assembling one
    // record (TableSourceSpec pins zero row-scanned files and the
    // PushedAggregation plan line). Partial-pushdown contract: one
    // pre-aggregated row per partition value, Spark's final aggregation
    // merges — the merge is distributed, a 100k-file table needs no
    // driver-side footer pass. Oracle: the same aggregates over the
    // source table (`alt` replayed as the mod-3 CASE).
    Q("q198_dsv2_agg_pushdown",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  min(o_orderkey) AS klo, max(o_orderkey) AS khi,
             |  count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS nalt,
             |  min(CAST(o_orderdate AS DATE)) AS dlo,
             |  max(CAST(o_orderdate AS DATE)) AS dhi
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = dsvPartitionedTable(s, d)
        dsv(s, root)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            min("o_orderkey").as("klo"), max("o_orderkey").as("khi"),
            count(col("alt")).as("nalt"),
            min("o_date").as("dlo"), max("o_date").as("dhi"))
          .orderBy("o_orderpriority")
      }),

    // Q199 STORAGE-PARTITIONED JOIN: two log tables co-partitioned on
    // priority report KeyGroupedPartitioning(identity(o_orderpriority)),
    // so under spark.sql.sources.v2.bucketing.enabled the even⋈odd
    // same-customer join — keys (custkey, priority) ⊇ the partition
    // key — aligns partitions by VALUE and shuffles NEITHER side; the
    // grouped aggregate on the partition key reuses the same
    // partitioning, so the whole join+agg is exchange-free
    // (TableSourceSpec asserts zero ShuffleExchange). Runs eagerly inside
    // the scoped confs (the q145 discipline: broadcast disabled so the
    // SPJ path is the one measured, flags restored before returning).
    // Oracle: the same even⋈odd join over the source table.
    Q("q199_dsv2_spj",
      Some("""WITH e AS (SELECT o_custkey, o_orderpriority, o_totalprice
             |           FROM orders WHERE o_orderkey % 2 = 0),
             |     o AS (SELECT o_custkey, o_orderpriority, o_totalprice
             |           FROM orders WHERE o_orderkey % 2 = 1)
             |SELECT e.o_orderpriority, count(*) AS pairs,
             |  CAST(sum(CAST(e.o_totalprice AS DECIMAL(18,2))
             |         + CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM e JOIN o ON e.o_custkey = o.o_custkey
             |  AND e.o_orderpriority = o.o_orderpriority
             |GROUP BY e.o_orderpriority ORDER BY e.o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val ev = dsvSideTable(s, d, even = true)
        val od = dsvSideTable(s, d, even = false)
        val rows = withConfs(s,
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val e = dsv(s, ev).select(col("o_custkey").as("ck"),
            col("o_orderpriority").as("pr"),
            col("o_totalprice").cast("decimal(18,2)").as("et"))
          val o = dsv(s, od).select(col("o_custkey").as("ck2"),
            col("o_orderpriority").as("pr2"),
            col("o_totalprice").cast("decimal(18,2)").as("ot"))
          e.join(o, col("ck") === col("ck2") && col("pr") === col("pr2"))
            .groupBy(col("pr"))
            .agg(count(lit(1)).as("pairs"),
              sum(col("et") + col("ot")).cast("double").as("total"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "pairs", "total")
          .orderBy("o_orderpriority")
      }),

    // Q200 RUNTIME FILE PRUNING (DSv2 dynamic partition pruning): the dim
    // side's 2-priority selection — a window over md5, deliberately
    // opaque to static optimization — reaches the fact scan at EXECUTION
    // time as an IN-set runtime filter, and whole partition-value groups
    // are dropped before any file is opened (TableSourceSpec pins that
    // only the surviving values' files are row-scanned). Eager inside
    // scoped DPP flags (stats-free benefit estimate), restored before
    // returning. Oracle: the same md5-ranked dim subset join.
    Q("q200_dsv2_runtime_pruning",
      Some("""WITH pr AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
             |     d AS (SELECT p FROM (SELECT p,
             |             row_number() OVER (ORDER BY md5(p)) AS r FROM pr)
             |           WHERE r <= 2)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders JOIN d ON o_orderpriority = d.p
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val root = dsvPartitionedTable(s, d)
        val rows = withConfs(s,
          "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
          "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
            -> "false",
          "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
            -> "10") {
          val dim = t(s, d, "orders")
            .select(col("o_orderpriority").as("p")).distinct()
            .withColumn("r", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(md5(col("p").cast("binary")))))
            .filter(col("r") <= 2).select("p")
          dsv(s, root)
            .join(dim, col("o_orderpriority") === col("p"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").as("total"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total")
          .orderBy("o_orderpriority")
      }),

    // Q201 SQL CATALOG: the commit log served as a TableCatalog — the
    // table is built ENTIRELY through SQL (CREATE TABLE = schema-only
    // gen 0; each INSERT INTO = one atomic generation through the q193
    // staged-commit write path), then read back by NAME with `VERSION AS
    // OF` resolving the q157 snapshot machinery in SQL. Catalog metadata
    // IS the filesystem log — no second metastore to drift. Eager inside
    // the scoped catalog confs (the q145 discipline). Oracle: the
    // midpoint split replayed over the source table.
    Q("q201_sql_catalog",
      Some("""WITH src AS (SELECT o_orderkey,
             |                    CAST(o_totalprice AS DOUBLE) AS price
             |             FROM orders),
             |     m AS (SELECT max(o_orderkey)//2 AS mid FROM src),
             |     v1 AS (SELECT 'v1' AS tag, count(*) AS n,
             |              CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             |                AS total
             |            FROM src, m WHERE o_orderkey <= m.mid),
             |     v2 AS (SELECT 'v2' AS tag, count(*) AS n,
             |              CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             |                AS total
             |            FROM src)
             |SELECT * FROM v1 UNION ALL SELECT * FROM v2
             |ORDER BY tag""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat_", s"q201:$d")
        val rows = withConfs(s,
          "spark.sql.catalog.graft_cat" -> CatalogClass,
          "spark.sql.catalog.graft_cat.warehouse" -> wh) {
          if (TimeTravel.currentVersion(s"$wh/orders_t") < 0) {
            val mid =
              t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0) / 2
            orders3(s, d)
              .select(col("o_orderkey"), col("o_orderpriority"),
                col("o_totalprice").cast("double").as("o_totalprice"))
              .createOrReplaceTempView("q201_src")
            s.sql("""CREATE TABLE graft_cat.orders_t (
                    |  o_orderkey BIGINT, o_orderpriority STRING,
                    |  o_totalprice DOUBLE)""".stripMargin)
            s.sql("INSERT INTO graft_cat.orders_t " +
              s"SELECT * FROM q201_src WHERE o_orderkey <= $mid")
            s.sql("INSERT INTO graft_cat.orders_t " +
              s"SELECT * FROM q201_src WHERE o_orderkey > $mid")
          }
          s.sql(
            """SELECT 'v1' AS tag, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM graft_cat.orders_t VERSION AS OF 1
              |UNION ALL
              |SELECT 'v2' AS tag, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM graft_cat.orders_t""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("tag", "n", "total").orderBy("tag")
      }),

    // Q202 REPORTED STATISTICS → automatic broadcast: the DSv2 scan
    // reports its PRUNED byte size (one data-dir listing, per-file sizes
    // summed over the surviving files), so Catalyst broadcasts the
    // filtered window without a hint — a stats-less DSv2 scan defaults to
    // "never broadcast", which at 100 TB turns every dim join into a
    // full shuffle (TableSourceSpec pins the hint-free
    // BroadcastHashJoin). Oracle: the same eighth-window self-join.
    Q("q202_dsv2_stats_broadcast",
      Some("""WITH p AS (SELECT max(o_orderkey)*3//8 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders),
             |     w AS (SELECT o_orderkey, o_totalprice FROM orders, p
             |           WHERE o_orderkey BETWEEN p.lo AND p.hi)
             |SELECT o.o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(w.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS wtotal
             |FROM orders o JOIN w ON o.o_orderkey = w.o_orderkey
             |GROUP BY o.o_orderpriority
             |ORDER BY o.o_orderpriority""".stripMargin),
      (s, d) => {
        val root = dsvClusteredTable(s, d)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        val w = dsv(s, root)
          .filter(col("o_orderkey") >= mx * 3 / 8 &&
            col("o_orderkey") <= mx / 2)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("wp"))
        t(s, d, "orders").join(w, col("o_orderkey") === col("k"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("wp").cast("decimal(18,2)")).cast("double").as("wtotal"))
          .orderBy("o_orderpriority")
      }),

    // Q203 LIMIT pushdown: each split stops emitting — and stops OPENING
    // files — once it has produced the pushed row count; Spark applies
    // the global limit across splits (partial-pushdown contract, so
    // semantics never change). On the two-commit fixture every value
    // group chains two files and the second is never opened
    // (TableSourceSpec pins opened ≤ one per group). Oracle: the only
    // order-independent fact about a LIMIT — its row count.
    Q("q203_dsv2_limit_pushdown",
      Some("SELECT least(1000, count(*)) AS n FROM orders"),
      (s, d) => {
        val root = dsvTwoCommitTable(s, d)
        dsv(s, root).limit(1000).agg(count(lit(1)).as("n"))
      }),

    // Q204 `_file` METADATA COLUMN: every row can name the committed
    // file it came from (parquet's `_metadata.file_name`, served through
    // `SupportsMetadataColumns`); it rides the reader's constant-fill
    // path — never part of the parquet projection, zero extra IO. The
    // clustered fixture has exactly 8 cells, so the distinct-file count
    // is layout-pinned. Oracle: the pinned cell count + source row count.
    Q("q204_dsv2_file_metadata",
      Some("""SELECT CAST(8 AS BIGINT) AS nfiles, count(*) AS nrows
             |FROM orders""".stripMargin),
      (s, d) => {
        val root = dsvClusteredTable(s, d)
        dsv(s, root)
          .select(col(graft.sources.table.FileMetaColumn.NAME),
            col("o_orderkey"))
          .agg(count_distinct(col(graft.sources.table.FileMetaColumn.NAME))
            .as("nfiles"),
            count(lit(1)).as("nrows"))
      }),

    // Q205 SQL METADATA DELETE: `DELETE FROM cat.t WHERE p = min` on a
    // partitioned log table cuts exactly along file boundaries, so the
    // delete is ONE remove-only commit — zero rows scanned, zero bytes
    // rewritten, old snapshots intact (Delta's partition delete;
    // TableSourceSpec pins the zero-scan and the unaligned fallback).
    // Oracle: the same aggregate excluding the min priority.
    Q("q205_sql_metadata_delete",
      Some("""WITH mp AS (SELECT min(o_orderpriority) AS p FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders, mp WHERE o_orderpriority <> mp.p
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat205_", s"q205:$d")
        val root = s"$wh/pt"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitPartitioned(s, root, orders3(s, d),
            "o_orderpriority")
        val minP = t(s, d, "orders").agg(min("o_orderpriority"))
          .head().getString(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat205" -> CatalogClass,
          "spark.sql.catalog.gcat205.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1)
            s.sql(s"DELETE FROM gcat205.pt WHERE o_orderpriority = '$minP'")
          s.sql(
            """SELECT o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat205.pt GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total").orderBy("o_orderpriority")
      }),

    // Q206 SQL `INSERT OVERWRITE … PARTITION (…)`: a static-partition
    // overwrite retires exactly the replaced value's files and adds the
    // new rows in ONE atomic commit (`SupportsOverwrite` with the
    // FileSkip alignment check) — other partitions' physical files are
    // untouched (spec-pinned), a replaced partition is never absent from
    // any readable snapshot. The min priority's prices are rewritten
    // doubled. Oracle: the same CASE-doubled aggregate over the source.
    Q("q206_sql_insert_overwrite",
      Some("""WITH mp AS (SELECT min(o_orderpriority) AS p FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(CASE WHEN o_orderpriority = mp.p
             |                     THEN o_totalprice * 2
             |                     ELSE o_totalprice END
             |           AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, mp GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat206_", s"q206:$d")
        val root = s"$wh/ot"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitPartitioned(s, root, orders3(s, d),
            "o_orderpriority")
        val minP = t(s, d, "orders").agg(min("o_orderpriority"))
          .head().getString(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat206" -> CatalogClass,
          "spark.sql.catalog.gcat206.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1) {
            orders3(s, d).filter(col("o_orderpriority") === minP)
              .select(col("o_orderkey"),
                (col("o_totalprice") * 2).as("o_totalprice"))
              .createOrReplaceTempView("q206_src")
            s.sql("INSERT OVERWRITE gcat206.ot " +
              s"PARTITION (o_orderpriority = '$minP') " +
              "SELECT o_orderkey, o_totalprice FROM q206_src")
          }
          s.sql(
            """SELECT o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat206.ot GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total").orderBy("o_orderpriority")
      }),

    // Q207 SQL `MERGE INTO` (copy-on-write row-level op): matched keys in
    // the quarter window update their price (+1000), keys shifted past
    // the max insert as new rows — the runtime group filter (IN over
    // `_file`) bounds the rewrite to the files the window actually
    // touches, untouched cells keep their physical files (spec-pinned).
    // Cost ∝ touched files, never the table. Oracle: the same
    // update+insert replayed over the source.
    Q("q207_sql_merge",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
             |     upd AS (SELECT o_orderkey, o_orderpriority,
             |               CASE WHEN o_orderkey BETWEEN mx//4 AND mx//2
             |                    THEN o_totalprice + 1000
             |                    ELSE o_totalprice END AS o_totalprice
             |             FROM orders, p),
             |     ins AS (SELECT o_orderkey + mx + 1 AS o_orderkey,
             |               o_orderpriority, o_totalprice + 1000
             |                 AS o_totalprice
             |             FROM orders, p WHERE o_orderkey <= mx//16),
             |     allr AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM allr GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat207_", s"q207:$d")
        val root = s"$wh/mt"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat207" -> CatalogClass,
          "spark.sql.catalog.gcat207.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1) {
            val o = orders3(s, d)
            o.filter(col("o_orderkey") >= mx / 4 &&
                col("o_orderkey") <= mx / 2)
              .select(col("o_orderkey").as("k"),
                col("o_orderpriority").as("p"),
                (col("o_totalprice") + 1000).as("price"))
              .unionAll(o.filter(col("o_orderkey") <= mx / 16)
                .select((col("o_orderkey") + mx + 1).as("k"),
                  col("o_orderpriority").as("p"),
                  (col("o_totalprice") + 1000).as("price")))
              .createOrReplaceTempView("q207_src")
            s.sql(
              """MERGE INTO gcat207.mt t USING q207_src s
                |ON t.o_orderkey = s.k
                |WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
                |WHEN NOT MATCHED THEN INSERT
                |  (o_orderkey, o_orderpriority, o_totalprice)
                |  VALUES (s.k, s.p, s.price)""".stripMargin)
          }
          s.sql(
            """SELECT o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat207.mt GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total").orderBy("o_orderpriority")
      }),

    // Q208 SQL `UPDATE` through the same copy-on-write path: the pushed
    // range filter statically prunes non-overlapping cells, the rewrite
    // commit retires only the touched files. Oracle: the CASE replay.
    Q("q208_sql_update",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(CASE WHEN o_orderkey BETWEEN mx//8 AND mx//4
             |                     THEN o_totalprice + 500
             |                     ELSE o_totalprice END
             |           AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat208_", s"q208:$d")
        val root = s"$wh/ut"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat208" -> CatalogClass,
          "spark.sql.catalog.gcat208.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("UPDATE gcat208.ut SET o_totalprice = o_totalprice + 500 " +
              s"WHERE o_orderkey BETWEEN ${mx / 8} AND ${mx / 4}")
          s.sql(
            """SELECT o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat208.ut GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total").orderBy("o_orderpriority")
      }),

    // Q209 SQL `ALTER TABLE ADD COLUMNS` — schema evolution as a
    // metadata-only commit: the column gets a FRESH physical name under
    // the q194 mapping (a re-added name can never resurrect dropped
    // bytes), pre-evolution files null-fill it (schema-on-read), and the
    // post-evolution INSERT writes it through the mapping. Zero data
    // bytes move at ALTER time. Oracle: first half bonus-less, second
    // half bonus = price * 2 (exact in binary64), replayed over the
    // source.
    Q("q209_sql_alter_add_column",
      Some("""WITH src AS (SELECT o_orderkey,
             |               CAST(o_totalprice AS DOUBLE) AS price
             |             FROM orders),
             |     m AS (SELECT max(o_orderkey)//2 AS mid FROM src)
             |SELECT count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  count(CASE WHEN o_orderkey > m.mid THEN 1 END) AS nbonus,
             |  CAST(sum(CASE WHEN o_orderkey > m.mid
             |                THEN CAST(price * 2 AS DECIMAL(18,2)) END)
             |       AS DOUBLE) AS bonus_total
             |FROM src, m""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat209_", s"q209:$d")
        val root = s"$wh/et"
        val rows = withConfs(s,
          "spark.sql.catalog.gcat209" -> CatalogClass,
          "spark.sql.catalog.gcat209.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            val mid =
              t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0) / 2
            t(s, d, "orders")
              .select(col("o_orderkey"),
                col("o_totalprice").cast("double").as("price"))
              .createOrReplaceTempView("q209_src")
            s.sql("CREATE TABLE gcat209.et (o_orderkey BIGINT, price DOUBLE)")
            s.sql("INSERT INTO gcat209.et SELECT * FROM q209_src " +
              s"WHERE o_orderkey <= $mid")
            s.sql("ALTER TABLE gcat209.et ADD COLUMNS (bonus DOUBLE)")
            s.sql("INSERT INTO gcat209.et " +
              "SELECT o_orderkey, price, price * 2 FROM q209_src " +
              s"WHERE o_orderkey > $mid")
          }
          s.sql(
            """SELECT count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
              |  count(bonus) AS nbonus,
              |  CAST(sum(CAST(bonus AS DECIMAL(18,2))) AS DOUBLE)
              |    AS bonus_total
              |FROM gcat209.et""".stripMargin)
            .collect().map(r =>
              (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
            .toSeq
        }
        rows.toDF("n", "total", "nbonus", "bonus_total")
      }),

    // Q210 SQL `ALTER TABLE RENAME COLUMN` over the clustered layout —
    // the q194 zero-movement rename, SQL-native and fully integrated:
    // parquet keeps the physical name, reads project to the new logical
    // name, the post-rename INSERT stores its bytes under the ORIGINAL
    // physical name (files on both sides of the rename stay
    // byte-compatible), file skipping on the untouched key column still
    // prunes (spec pins it), and `VERSION AS OF 0` answers under the OLD
    // name forever. Oracle: base + re-inserted low-key slice, +7.
    Q("q210_sql_alter_rename",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
             |     allr AS (SELECT o_orderkey,
             |                CAST(o_totalprice AS DOUBLE) AS price
             |              FROM orders
             |              UNION ALL
             |              SELECT o_orderkey + mx + 1,
             |                CAST(o_totalprice AS DOUBLE) + 7
             |              FROM orders, p WHERE o_orderkey <= mx//16),
             |     cur AS (SELECT 'cur' AS tag, count(*) AS n,
             |               CAST(sum(CAST(price AS DECIMAL(18,2)))
             |                    AS DOUBLE) AS total
             |             FROM allr),
             |     v0 AS (SELECT 'v0' AS tag, count(*) AS n,
             |              CAST(sum(CAST(CAST(o_totalprice AS DOUBLE)
             |                   AS DECIMAL(18,2))) AS DOUBLE) AS total
             |            FROM orders)
             |SELECT * FROM cur UNION ALL SELECT * FROM v0
             |ORDER BY tag""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat210_", s"q210:$d")
        val root = s"$wh/rt"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root,
            t(s, d, "orders").select(col("o_orderkey"),
              col("o_totalprice").cast("double").as("o_totalprice")),
            "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat210" -> CatalogClass,
          "spark.sql.catalog.gcat210.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 2) {
            s.sql("ALTER TABLE gcat210.rt RENAME COLUMN o_totalprice TO price")
            t(s, d, "orders").filter(col("o_orderkey") <= mx / 16)
              .select((col("o_orderkey") + mx + 1).as("o_orderkey"),
                (col("o_totalprice").cast("double") + 7).as("price"))
              .createOrReplaceTempView("q210_src")
            s.sql("INSERT INTO gcat210.rt SELECT * FROM q210_src")
          }
          val cur = s.sql(
            """SELECT 'cur' AS tag, count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM gcat210.rt""".stripMargin)
          val v0 = s.sql(
            """SELECT 'v0' AS tag, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat210.rt VERSION AS OF 0""".stripMargin)
          cur.unionAll(v0)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("tag", "n", "total").orderBy("tag")
      }),

    // Q211 ATOMIC CTAS / RTAS (`StagingTableCatalog`): the log's atomic
    // version claim IS the publish, so `CREATE TABLE … AS SELECT` lands
    // data + schema as ONE generation-0 commit — no reader ever sees an
    // empty or half-written table — and `REPLACE TABLE … AS SELECT`
    // retires the whole old snapshot in the SAME commit that adds the
    // query's rows, with the replaced content still readable via
    // `VERSION AS OF 0`. Oracle: both filters replayed over the source.
    Q("q211_sql_ctas",
      Some("""WITH src AS (SELECT o_orderkey,
             |               CAST(o_totalprice AS DOUBLE) AS price
             |             FROM orders),
             |     cur AS (SELECT 'cur' AS tag, count(*) AS n,
             |               CAST(sum(CAST(price AS DECIMAL(18,2)))
             |                    AS DOUBLE) AS total
             |             FROM src WHERE o_orderkey % 3 = 0),
             |     v0 AS (SELECT 'v0' AS tag, count(*) AS n,
             |              CAST(sum(CAST(price AS DECIMAL(18,2)))
             |                   AS DOUBLE) AS total
             |            FROM src WHERE o_orderkey % 2 = 0)
             |SELECT * FROM cur UNION ALL SELECT * FROM v0
             |ORDER BY tag""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat211_", s"q211:$d")
        val root = s"$wh/ct"
        val rows = withConfs(s,
          "spark.sql.catalog.gcat211" -> CatalogClass,
          "spark.sql.catalog.gcat211.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            t(s, d, "orders")
              .select(col("o_orderkey"),
                col("o_totalprice").cast("double").as("price"))
              .createOrReplaceTempView("q211_src")
            s.sql("CREATE TABLE gcat211.ct AS " +
              "SELECT * FROM q211_src WHERE o_orderkey % 2 = 0")
            s.sql("REPLACE TABLE gcat211.ct AS " +
              "SELECT * FROM q211_src WHERE o_orderkey % 3 = 0")
          }
          val cur = s.sql(
            """SELECT 'cur' AS tag, count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM gcat211.ct""".stripMargin)
          val v0 = s.sql(
            """SELECT 'v0' AS tag, count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM gcat211.ct VERSION AS OF 0""".stripMargin)
          cur.unionAll(v0)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("tag", "n", "total").orderBy("tag")
      }),

    // Q212 STREAMING read of a catalog table (`readStream.table`): the
    // q176 change-feed machinery resolved by NAME through the catalog —
    // offsets are generations, each micro-batch reads one delta's files,
    // and `maxGensPerTrigger` bounds a catch-up (TableSourceSpec pins
    // the ≥3-batch drain). A fully-drained stream must agree with the
    // batch aggregate — the oracle.
    Q("q212_stream_catalog_table",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val wh = WorkDirs.cached("graft_cat212_", s"q212:$d")
        val root = s"$wh/st"
        if (TimeTravel.currentVersion(root) < 0) {
          val o = orders3(s, d)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 0))
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 1))
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 2))
        }
        withConfs(s,
          "spark.sql.catalog.gcat212" -> CatalogClass,
          "spark.sql.catalog.gcat212.warehouse" -> wh) {
          val agg = s.readStream
            .option("maxGensPerTrigger", "1")
            .table("gcat212.st")
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").as("total"))
          val prev = s.conf.get("spark.sql.shuffle.partitions")
          s.conf.set("spark.sql.shuffle.partitions",
            graft.StreamSizing.shards(s, root).toString)
          try {
            val q = agg.writeStream.format("memory").queryName("q212_sink")
              .outputMode("complete")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          } finally s.conf.set("spark.sql.shuffle.partitions", prev)
        }
        s.table("q212_sink").orderBy("o_orderpriority")
      }),

    // Q213 DELETION VECTORS read through the SQL CATALOG (r13 verdict
    // #1): a merge-on-read DV delete (the q188 shape — positions in
    // immutable sidecars, not one data file rewritten) followed by a
    // catalog read BY NAME — the scan's executor-side readers load each
    // file's sidecar and skip the masked positions, so the two flagship
    // features compose: DV-delete then `SELECT ... FROM gcat.t` answers
    // the masked snapshot exactly (TableSourceSpec pins that masked rows
    // never surface, that footer-aggregate pushdown refuses under live
    // DVs, and that SQL UPDATE after a DV delete never resurrects masked
    // rows). Oracle: orders minus the deleted key band.
    Q("q213_dv_sql_read",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_orderkey NOT BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat213_", s"q213:$d")
        val root = s"$wh/dvt"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        if (TimeTravel.currentVersion(root) < 1) {
          val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
          TimeTravel.deleteVectorWhere(s, root, "o_orderkey", mx / 4, mx / 2)
        }
        val rows = withConfs(s,
          "spark.sql.catalog.gcat213" -> CatalogClass,
          "spark.sql.catalog.gcat213.warehouse" -> wh) {
          s.sql(
            """SELECT o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat213.dvt GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total")
          .orderBy("o_orderpriority")
      }),

    // Q214 SQL `CREATE TABLE … PARTITIONED BY` (r13 verdict #2): the
    // warehouse-migration user's first DDL statement — one identity
    // partition column recorded as a table property at CREATE; every
    // `INSERT INTO` then requires a clustered+sorted distribution on it,
    // rotates one file per value, and records the partition values in
    // the commit. The declared read filters on one value and prunes to
    // that value's files from log metadata alone (TableSourceSpec pins
    // opened-file counts, the q181 oracle shape). Reference: the
    // reference's own layout is hive-partitioned
    // (transactions_mock_data.py:85-91).
    Q("q214_sql_create_partitioned",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderpriority = '3-MEDIUM'
             |GROUP BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat214_", s"q214:$d")
        val root = s"$wh/pt"
        val rows = withConfs(s,
          "spark.sql.catalog.gcat214" -> CatalogClass,
          "spark.sql.catalog.gcat214.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            orders3(s, d)
              .select(col("o_orderkey"), col("o_orderpriority"),
                col("o_totalprice").cast("double").as("o_totalprice"))
              .createOrReplaceTempView("q214_src")
            s.sql("""CREATE TABLE gcat214.pt (
                    |  o_orderkey BIGINT, o_orderpriority STRING,
                    |  o_totalprice DOUBLE)
                    |PARTITIONED BY (o_orderpriority)""".stripMargin)
            s.sql("INSERT INTO gcat214.pt SELECT * FROM q214_src")
          }
          s.sql(
            """SELECT o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat214.pt WHERE o_orderpriority = '3-MEDIUM'
              |GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total")
          .orderBy("o_orderpriority")
      }),

    // Q215 SQL MAINTENANCE VERBS (r13 verdict #3): the q173 lifecycle
    // with OPTIMIZE issued from PURE SQL — `graft_optimize(root, 1)`
    // bin-packs the two appends into one nodata commit (idempotent:
    // re-running the statement lands nothing once within target), and
    // `graft_vacuum(root)` runs from SQL too. The legs prove the
    // nodata/change-feed-skip semantics end-to-end in SQL: the DELTA leg
    // (graft_changes over the whole range) skips the compaction commit,
    // the FULL leg equals the table. Oracle: both predicates replayed
    // over the source table (the q173 shape).
    Q("q215_sql_optimize",
      Some("""SELECT 'delta' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderkey % 3 <> 1 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'full' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_opt215_", s"q215:$d")
        graft.GraftFunctions.register(s) // idempotent createOrReplace
        val o = orders3(s, d)
        if (TimeTravel.currentVersion(root) < 0) {
          TimeTravel.commit(s, root,
            o.filter(col("o_orderkey") % 3 === 1).repartition(3))
          TimeTravel.commit(s, root,
            o.filter(col("o_orderkey") % 3 === 2).repartition(3))
        }
        if (TimeTravel.currentVersion(root) < 2) {
          val r = s.sql(s"SELECT * FROM graft_optimize('$root', 1)").head()
          require(r.getLong(2) == 1L,
            s"q215: SQL OPTIMIZE left ${r.getLong(2)} files")
          // re-running the statement while within target must be a
          // no-op, and SQL VACUUM deletes nothing (files of superseded
          // generations stay referenced — they back AS-OF reads)
          s.sql(s"SELECT * FROM graft_optimize('$root', 1)").collect()
          require(TimeTravel.currentVersion(root) == 2,
            "q215: a re-run SQL OPTIMIZE grew the log")
          require(s.sql(s"SELECT * FROM graft_vacuum('$root')")
            .head().getLong(0) == 0L, "q215: SQL VACUUM deleted live files")
        }
        if (TimeTravel.currentVersion(root) < 3)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 0))
        s.sql(
          s"""SELECT 'delta' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_changes('$root', 0, 3) GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'full' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_asof('$root', 3) GROUP BY o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin)
      }),

    // Q216 N-DIMENSIONAL Z-ORDER (r13 verdict #6): the q185 interleave
    // generalized — THREE columns, each scaled to a 16-bit budget, bits
    // interleaved round-robin from the MSB down so the file-cell prefix
    // cycles through all dimensions, and per-file stats recorded for
    // EVERY clustered column. The declared read filters on the TERTIARY
    // dimension (floor(o_totalprice)) and still prunes from log metadata
    // (TimeTravelSpec pins secondary- AND tertiary-dim opened-file
    // counts), which 1- or 2-dim clustering cannot give. Oracle: the
    // same tertiary-range aggregate, bounds derived identically.
    Q("q216_zorder_3dim",
      Some("""WITH src AS (SELECT o_orderkey, o_custkey,
             |    CAST(floor(o_totalprice) AS BIGINT) AS pl,
             |    o_orderpriority, o_totalprice FROM orders),
             |p AS (SELECT max(pl)//4 AS lo, max(pl)//2 AS hi FROM src)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM src, p WHERE pl BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_z3_", s"q216:$d")
        val src = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            floor(col("o_totalprice")).cast("long").as("pl"),
            col("o_orderpriority"), col("o_totalprice"))
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitZOrderedN(s, root, src,
            Seq("o_orderkey", "o_custkey", "pl"), 16)
        val mx = src.agg(max("pl")).head().getLong(0)
        prioAgg(TimeTravel.readAsOfWhere(s, root,
          TimeTravel.currentVersion(root), "pl", mx / 4, mx / 2))
          .orderBy("o_orderpriority")
      }),

    // Q218 SQL TABLE LIFECYCLE — this round's catalog surface composed
    // end-to-end in pure SQL: a PARTITIONED CTAS (data + schema +
    // partition column in ONE generation-0 commit), `ALTER TABLE SET
    // TBLPROPERTIES` enabling the change feed, a METADATA DELETE of one
    // partition (remove-only commit that EMITS the dropped partition's
    // rows as change files), and the row-level feed read back through
    // the graft_row_changes TVF. The CUR leg is the surviving table,
    // the CHG leg reconstructs exactly the deleted partition — both
    // hash-checked. Oracle: the partition split replayed over orders.
    Q("q218_sql_lifecycle",
      Some("""WITH src AS (SELECT o_orderkey, o_orderpriority,
             |                    CAST(o_totalprice AS DOUBLE) AS price
             |             FROM orders),
             |cur AS (SELECT 'cur' AS leg, o_orderpriority, count(*) AS n,
             |          CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             |            AS total
             |        FROM src WHERE o_orderpriority <> '1-URGENT'
             |        GROUP BY o_orderpriority),
             |chg AS (SELECT 'del' AS leg, o_orderpriority, count(*) AS n,
             |          CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             |            AS total
             |        FROM src WHERE o_orderpriority = '1-URGENT'
             |        GROUP BY o_orderpriority)
             |SELECT * FROM cur UNION ALL SELECT * FROM chg
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat218_", s"q218:$d")
        val root = s"$wh/lc"
        graft.GraftFunctions.register(s) // graft_row_changes TVF
        val rows = withConfs(s,
          "spark.sql.catalog.gcat218" -> CatalogClass,
          "spark.sql.catalog.gcat218.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            orders3(s, d)
              .select(col("o_orderkey"), col("o_orderpriority"),
                col("o_totalprice").cast("double").as("price"))
              .createOrReplaceTempView("q218_src")
            s.sql("""CREATE TABLE gcat218.lc
                    |PARTITIONED BY (o_orderpriority)
                    |AS SELECT * FROM q218_src""".stripMargin)
          }
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("ALTER TABLE gcat218.lc SET TBLPROPERTIES (" +
              "'graft.enableChangeDataFeed' = 'true')")
          if (TimeTravel.currentVersion(root) < 2)
            s.sql("DELETE FROM gcat218.lc WHERE o_orderpriority = '1-URGENT'")
          s.sql(
            s"""SELECT 'cur' AS leg, o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat218.lc GROUP BY o_orderpriority
               |UNION ALL
               |SELECT 'del' AS leg, o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM graft_row_changes('$root', 1, 2)
               |WHERE _change_type = 'delete' GROUP BY o_orderpriority
               |ORDER BY leg, o_orderpriority""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q219 SQL PARTITIONED BY TRANSFORMS + MULTI-COLUMN (r14 verdict
    // #1): `CREATE TABLE … PARTITIONED BY (months(d), bucket(4, k))` —
    // the Delta/Iceberg transform-partition DDL. The INSERT's required
    // distribution clusters on the DERIVED expressions (bucket/months
    // resolve through the catalog's FunctionCatalog — the Iceberg write
    // pattern), the writer records one tagged value line per term per
    // file, and the declared reads prune from those lines: the month
    // leg (d >= first-of-max-month) keeps only the last month's files,
    // the key leg (o_orderkey = max) keeps one bucket per month
    // (TableSourceSpec pins both opened-file counts). Reference: the
    // reference's own warehouse layout is a MULTI-LEVEL hive partition
    // tree (transactions_mock_data.py:85-91) — this is that layout's
    // declarative SQL form. Oracle: the same two predicates replayed
    // over orders with identically-derived bounds.
    Q("q219_sql_partition_transforms",
      Some("""WITH src AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
             |                    o_orderpriority,
             |                    CAST(o_totalprice AS DOUBLE) AS price
             |             FROM orders),
             |p AS (SELECT CAST(date_trunc('month', max(d)) AS DATE) AS lo
             |      FROM src),
             |k AS (SELECT max(o_orderkey) AS kk FROM src)
             |SELECT 'm' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM src, p WHERE d >= p.lo GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'k' AS leg, 'key' AS o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM src, k WHERE o_orderkey = k.kk
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat219_", s"q219:$d")
        val root = s"$wh/tp"
        val src = t(s, d, "orders").select(
          col("o_orderkey"),
          col("o_orderdate").cast("date").as("d"),
          col("o_orderpriority"),
          col("o_totalprice").cast("double").as("price"))
        val rows = withConfs(s,
          "spark.sql.catalog.gcat219" -> CatalogClass,
          "spark.sql.catalog.gcat219.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            src.createOrReplaceTempView("q219_src")
            s.sql("""CREATE TABLE gcat219.tp (
                    |  o_orderkey BIGINT, d DATE, o_orderpriority STRING,
                    |  price DOUBLE)
                    |PARTITIONED BY (months(d), bucket(4, o_orderkey))"""
              .stripMargin)
            s.sql("INSERT INTO gcat219.tp SELECT * FROM q219_src")
          }
          val mm = src.agg(max("d"), max("o_orderkey")).head()
          val lo = mm.getDate(0).toLocalDate.withDayOfMonth(1)
          val kk = mm.getLong(1)
          s.sql(
            s"""SELECT 'm' AS leg, o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat219.tp WHERE d >= DATE'$lo'
               |GROUP BY o_orderpriority
               |UNION ALL
               |SELECT 'k' AS leg, 'key' AS o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat219.tp WHERE o_orderkey = ${kk}L
               |ORDER BY leg, o_orderpriority""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q220 MERGE INTO FULL CLAUSE MATRIX (r14 verdict #2): one SQL
    // MERGE exercising `WHEN MATCHED [AND cond] THEN DELETE`,
    // conditional `WHEN MATCHED THEN UPDATE`, `WHEN NOT MATCHED THEN
    // INSERT` AND `WHEN NOT MATCHED BY SOURCE THEN DELETE` — the SCD-
    // maintenance shape the reference's nightly warehouse re-load
    // implies (transactions_mock_data.py:17). Spark's group-based
    // row-level rewrite drives the clause semantics; the connector
    // replaces the touched files atomically and, with CDF on, emits
    // the DIFF-FORM row feed (deletes + inserts; updates appear as a
    // pair). THREE hash-checked legs: the post-merge state, and the
    // CDC delete/insert legs read back through graft_row_changes.
    // Oracle: the clause matrix replayed as a FULL JOIN + CASE.
    Q("q220_sql_merge_matrix",
      Some("""WITH t AS (SELECT o_orderkey, o_orderpriority,
             |                 CAST(o_totalprice AS DOUBLE) AS price
             |           FROM orders WHERE o_orderkey % 3 <> 0),
             |s AS (SELECT o_orderkey, o_orderpriority,
             |             CAST(o_totalprice AS DOUBLE) * 2 AS price
             |      FROM orders WHERE o_orderkey % 2 = 0),
             |j AS (SELECT t.o_orderkey AS tk, t.o_orderpriority AS tp,
             |             t.price AS tprice, s.o_orderkey AS sk,
             |             s.o_orderpriority AS sp, s.price AS sprice
             |      FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey),
             |post AS (SELECT CASE WHEN tk IS NOT NULL AND sk IS NOT NULL
             |                     THEN sp ELSE COALESCE(sp, tp) END AS pr,
             |                CASE WHEN tk IS NOT NULL AND sk IS NOT NULL
             |                     THEN sprice
             |                     ELSE COALESCE(sprice, tprice) END AS price
             |         FROM j
             |         WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL
             |                    AND sprice < 100000.0)
             |           AND NOT (tk IS NOT NULL AND sk IS NULL
             |                    AND tprice > 200000.0)),
             |dels AS (SELECT tp AS pr, tprice AS price FROM j
             |         WHERE tk IS NOT NULL
             |           AND (sk IS NOT NULL OR tprice > 200000.0)),
             |ins AS (SELECT sp AS pr, sprice AS price FROM j
             |        WHERE sk IS NOT NULL
             |          AND (tk IS NULL OR sprice >= 100000.0))
             |SELECT 'cdc_delete' AS leg, pr AS o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM dels GROUP BY pr
             |UNION ALL
             |SELECT 'cdc_insert' AS leg, pr AS o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM ins GROUP BY pr
             |UNION ALL
             |SELECT 'state' AS leg, pr AS o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM post GROUP BY pr
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat220_", s"q220:$d")
        val root = s"$wh/mm"
        graft.GraftFunctions.register(s) // graft_row_changes TVF
        val base = orders3(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").cast("double").as("price"))
        val rows = withConfs(s,
          "spark.sql.catalog.gcat220" -> CatalogClass,
          "spark.sql.catalog.gcat220.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            base.filter(col("o_orderkey") % 3 =!= 0)
              .createOrReplaceTempView("q220_tgt")
            s.sql("CREATE TABLE gcat220.mm AS SELECT * FROM q220_tgt")
          }
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("ALTER TABLE gcat220.mm SET TBLPROPERTIES (" +
              "'graft.enableChangeDataFeed' = 'true')")
          if (TimeTravel.currentVersion(root) < 2) {
            base.filter(col("o_orderkey") % 2 === 0)
              .withColumn("price", col("price") * 2)
              .createOrReplaceTempView("q220_src")
            s.sql(
              """MERGE INTO gcat220.mm t USING q220_src s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED AND s.price < 100000.0D THEN DELETE
                |WHEN MATCHED THEN UPDATE SET
                |  o_orderpriority = s.o_orderpriority, price = s.price
                |WHEN NOT MATCHED THEN INSERT
                |  (o_orderkey, o_orderpriority, price)
                |  VALUES (s.o_orderkey, s.o_orderpriority, s.price)
                |WHEN NOT MATCHED BY SOURCE AND t.price > 200000.0D
                |  THEN DELETE""".stripMargin)
          }
          s.sql(
            s"""SELECT concat('cdc_', _change_type) AS leg,
               |  o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM graft_row_changes('$root', 1, 2)
               |GROUP BY _change_type, o_orderpriority
               |UNION ALL
               |SELECT 'state' AS leg, o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat220.mm GROUP BY o_orderpriority
               |ORDER BY leg, o_orderpriority""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q221 ALTER TABLE ADD COLUMN … DEFAULT (r14 verdict #3, Delta's
    // column defaults): a metadata-only commit records the rendered
    // literal beside the fresh physical name; files that PREDATE the
    // column read the default through the DSv2 scan (never NULL),
    // post-evolution inserts store their values explicitly, and the
    // VERSION AS OF 1 leg proves the pre-insert snapshot reads
    // all-default. Footer-aggregate pushdown refuses on defaulted
    // columns (footer stats can't see them — TableSourceSpec pins it).
    // Oracle: the default/stored split replayed over orders.
    Q("q221_sql_add_column_default",
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority,
             |                 CAST(o_totalprice AS DOUBLE) AS price
             |          FROM orders),
             |u AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
             |             ELSE concat('seg-', o_orderpriority) END
             |        AS segment, price FROM o),
             |v1 AS (SELECT 'v1:legacy' AS segment, price FROM o
             |       WHERE o_orderkey % 2 = 0)
             |SELECT segment, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM u GROUP BY segment
             |UNION ALL
             |SELECT segment, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM v1 GROUP BY segment
             |ORDER BY segment""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat221_", s"q221:$d")
        val root = s"$wh/dc"
        val base = orders3(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").cast("double").as("price"))
        val rows = withConfs(s,
          "spark.sql.catalog.gcat221" -> CatalogClass,
          "spark.sql.catalog.gcat221.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            base.filter(col("o_orderkey") % 2 === 0)
              .createOrReplaceTempView("q221_old")
            s.sql("CREATE TABLE gcat221.dc AS SELECT * FROM q221_old")
          }
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("ALTER TABLE gcat221.dc ADD COLUMN segment STRING " +
              "DEFAULT 'legacy'")
          if (TimeTravel.currentVersion(root) < 2) {
            base.filter(col("o_orderkey") % 2 === 1)
              .withColumn("segment",
                concat(lit("seg-"), col("o_orderpriority")))
              .createOrReplaceTempView("q221_new")
            s.sql("INSERT INTO gcat221.dc SELECT * FROM q221_new")
          }
          s.sql(
            """SELECT segment, count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM gcat221.dc GROUP BY segment
              |UNION ALL
              |SELECT concat('v1:', segment) AS segment, count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM gcat221.dc VERSION AS OF 1 GROUP BY segment
              |ORDER BY segment""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
        }
        rows.toDF("segment", "n", "total").orderBy("segment")
      }),

    // Q222 STREAMING WRITE INTO A COLUMN-MAPPED TABLE (r14 verdict #7):
    // `ALTER TABLE … RENAME COLUMN` then `writeStream.toTable` — the
    // epoch's rows arrive under the LOGICAL post-rename name and the
    // sink stores them under the PHYSICAL parquet name (the q194
    // mapping), so files written before and after the rename stay
    // byte-compatible. Both read-backs are hash-checked: the CURRENT
    // table (old + streamed halves under one logical schema) and the
    // ROW-LEVEL change feed of the streamed epochs, read through the
    // mapping. TableSourceSpec adds the restart leg (a replayed epoch
    // lands nothing) and pins the physical field name in the files.
    Q("q222_stream_write_renamed",
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
             |                 CAST(o_totalprice AS DOUBLE) AS price
             |          FROM orders)
             |SELECT 'chg' AS leg, prio, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM o WHERE o_orderkey % 2 = 1 GROUP BY prio
             |UNION ALL
             |SELECT 'cur' AS leg, prio, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM o GROUP BY prio
             |ORDER BY leg, prio""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat222_", s"q222:$d")
        val root = s"$wh/rn"
        graft.GraftFunctions.register(s) // graft_row_changes TVF
        val base = orders3(s, d)
          .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
            col("o_totalprice").cast("double").as("amount"))
        val rows = withConfs(s,
          "spark.sql.catalog.gcat222" -> CatalogClass,
          "spark.sql.catalog.gcat222.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0)
            s.sql("CREATE TABLE gcat222.rn (o_orderkey BIGINT, " +
              "prio STRING, amount DOUBLE)")
          if (TimeTravel.currentVersion(root) < 1) {
            base.filter(col("o_orderkey") % 2 === 0)
              .createOrReplaceTempView("q222_old")
            s.sql("INSERT INTO gcat222.rn SELECT * FROM q222_old")
          }
          if (TimeTravel.currentVersion(root) < 2)
            s.sql("ALTER TABLE gcat222.rn RENAME COLUMN amount TO price")
          if (TimeTravel.currentVersion(root) < 3)
            s.sql("ALTER TABLE gcat222.rn SET TBLPROPERTIES (" +
              "'graft.enableChangeDataFeed' = 'true')")
          if (TimeTravel.currentVersion(root) < 4) {
            // the streamed half arrives under the LOGICAL names
            val stage = s"$wh/stage_src"
            base.filter(col("o_orderkey") % 2 === 1)
              .withColumnRenamed("amount", "price")
              .repartition(1)
              .write.mode("overwrite").parquet(stage)
            val q = s.readStream
              .schema("o_orderkey BIGINT, prio STRING, price DOUBLE")
              .parquet(stage)
              .writeStream
              .option("checkpointLocation", s"$wh/ckpt")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .toTable("gcat222.rn")
            q.awaitTermination()
          }
          val cur = TimeTravel.currentVersion(root)
          s.sql(
            s"""SELECT 'chg' AS leg, prio, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM graft_row_changes('$root', 3, $cur)
               |WHERE _change_type = 'insert' GROUP BY prio
               |UNION ALL
               |SELECT 'cur' AS leg, prio, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat222.rn GROUP BY prio
               |ORDER BY leg, prio""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("leg", "prio", "n", "total").orderBy("leg", "prio")
      }),

    // Q225 PARTITION-SPEC EVOLUTION (Iceberg's evolve-in-place): a table
    // CREATEd `PARTITIONED BY (prio)` ingests an identity era, then
    // `ALTER TABLE … SET TBLPROPERTIES('graft.partitionSpec' =
    // 'months:d,bucket:4:o_orderkey')` re-partitions FUTURE writes only —
    // era-2 INSERTs cluster and tag by month+bucket while era-1 files
    // keep their prio lines. Reads prune each file by ITS OWN lines:
    // the month leg prunes era-2 to the last month but keeps every
    // era-1 file (no ~month tag → conservative keep), the prio leg
    // prunes era-1 to one value group but keeps era-2, the key leg
    // drops 3 of 4 era-2 buckets (TableSourceSpec pins all three
    // opened-file mixes). The spec string validates against the schema
    // AT ALTER — a typo fails the evolution, never a later INSERT.
    // Oracle: all three predicates replayed over the full row set.
    Q("q225_partition_evolution",
      Some("""WITH src AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
             |                    o_orderpriority AS prio,
             |                    CAST(o_totalprice AS DOUBLE) AS price
             |             FROM orders),
             |p AS (SELECT CAST(date_trunc('month', max(d)) AS DATE) AS lo
             |      FROM src),
             |k AS (SELECT max(o_orderkey) AS kk FROM src)
             |SELECT 'm' AS leg, prio, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM src, p WHERE d >= p.lo GROUP BY prio
             |UNION ALL
             |SELECT 'p' AS leg, prio, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM src WHERE prio = '1-URGENT' GROUP BY prio
             |UNION ALL
             |SELECT 'k' AS leg, 'key' AS prio, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM src, k WHERE o_orderkey = k.kk
             |ORDER BY leg, prio""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat225_", s"q225:$d")
        val root = s"$wh/pe"
        val src = t(s, d, "orders").select(
          col("o_orderkey"),
          col("o_orderdate").cast("date").as("d"),
          col("o_orderpriority").as("prio"),
          col("o_totalprice").cast("double").as("price"))
        val rows = withConfs(s,
          "spark.sql.catalog.gcat225" -> CatalogClass,
          "spark.sql.catalog.gcat225.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            src.filter(col("o_orderkey") % 2 === 0)
              .createOrReplaceTempView("q225_era1")
            s.sql("""CREATE TABLE gcat225.pe (
                    |  o_orderkey BIGINT, d DATE, prio STRING, price DOUBLE)
                    |PARTITIONED BY (prio)""".stripMargin)
            s.sql("INSERT INTO gcat225.pe SELECT * FROM q225_era1")
          }
          if (TimeTravel.currentVersion(root) < 2)
            s.sql("ALTER TABLE gcat225.pe SET TBLPROPERTIES (" +
              "'graft.partitionSpec' = 'months:d,bucket:4:o_orderkey')")
          if (TimeTravel.currentVersion(root) < 3) {
            src.filter(col("o_orderkey") % 2 === 1)
              .createOrReplaceTempView("q225_era2")
            s.sql("INSERT INTO gcat225.pe SELECT * FROM q225_era2")
          }
          val mm = src.agg(max("d"), max("o_orderkey")).head()
          val lo = mm.getDate(0).toLocalDate.withDayOfMonth(1)
          val kk = mm.getLong(1)
          s.sql(
            s"""SELECT 'm' AS leg, prio, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat225.pe WHERE d >= DATE'$lo' GROUP BY prio
               |UNION ALL
               |SELECT 'p' AS leg, prio, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat225.pe WHERE prio = '1-URGENT' GROUP BY prio
               |UNION ALL
               |SELECT 'k' AS leg, 'key' AS prio, count(*) AS n,
               |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM gcat225.pe WHERE o_orderkey = ${kk}L
               |ORDER BY leg, prio""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("leg", "prio", "n", "total").orderBy("leg", "prio")
      }),

    // Q226 SQL SHALLOW CLONE lifecycle (Delta's CREATE TABLE … SHALLOW
    // CLONE, as the graft_clone TVF): clone a live table zero-copy,
    // keep writing to the SOURCE, and prove the clone still reads the
    // exact snapshot it froze — while the source serves its full,
    // newer state through the same catalog. The clone executes at
    // EXECUTION (lazy MaintenanceNode) and plants the r14-verdict-#4
    // back-reference marker, so source vacuums can never strand it
    // (TimeTravelSpec pins that). Oracle: the frozen half vs the full
    // set, replayed over orders.
    Q("q226_sql_clone",
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
             |                 CAST(o_totalprice AS DOUBLE) AS price
             |          FROM orders)
             |SELECT 'clone' AS leg, prio, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM o WHERE o_orderkey % 2 = 0 GROUP BY prio
             |UNION ALL
             |SELECT 'src' AS leg, prio, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM o GROUP BY prio
             |ORDER BY leg, prio""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat226_", s"q226:$d")
        val (srcRoot, dstRoot) = (s"$wh/sr", s"$wh/cl")
        graft.GraftFunctions.register(s) // graft_clone TVF
        val base = orders3(s, d)
          .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
            col("o_totalprice").cast("double").as("price"))
        val rows = withConfs(s,
          "spark.sql.catalog.gcat226" -> CatalogClass,
          "spark.sql.catalog.gcat226.warehouse" -> wh) {
          if (TimeTravel.currentVersion(srcRoot) < 0) {
            base.filter(col("o_orderkey") % 2 === 0)
              .createOrReplaceTempView("q226_half")
            s.sql("CREATE TABLE gcat226.sr AS SELECT * FROM q226_half")
          }
          if (TimeTravel.currentVersion(dstRoot) < 0) {
            val rep = s.sql(
              s"SELECT * FROM graft_clone('$srcRoot', '$dstRoot')").head()
            require(rep.getLong(1) > 0, "q226: clone referenced no files")
          }
          if (TimeTravel.currentVersion(srcRoot) < 1) {
            base.filter(col("o_orderkey") % 2 === 1)
              .createOrReplaceTempView("q226_rest")
            s.sql("INSERT INTO gcat226.sr SELECT * FROM q226_rest")
          }
          s.sql(
            """SELECT 'clone' AS leg, prio, count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM gcat226.cl GROUP BY prio
              |UNION ALL
              |SELECT 'src' AS leg, prio, count(*) AS n,
              |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM gcat226.sr GROUP BY prio
              |ORDER BY leg, prio""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("leg", "prio", "n", "total").orderBy("leg", "prio")
      }),

    // Q227 ALTER COLUMN TYPE WIDENING (Delta's type-widening feature):
    // `ALTER TABLE … ALTER COLUMN k TYPE BIGINT` (and price FLOAT →
    // DOUBLE) as metadata-only commits — era-1 files keep their narrow
    // parquet bytes and the DSv2 record reader up-converts per file
    // (it branches on the FILE's primitive), era-2 inserts store keys
    // BEYOND Int.MaxValue, and `VERSION AS OF` the pre-widening
    // snapshot still reads the narrow schema. Footer-aggregate
    // pushdown refuses on widened columns (old footers carry
    // narrow-typed statistics — TableSourceSpec pins the fallback and
    // the narrowing refusal). The 100 TB story: "my int key
    // overflowed" costs one commit write, not a table rewrite.
    // Oracle: both eras replayed with the SAME float32 rounding
    // (CAST→REAL→DOUBLE is exact in both engines); totals sum EXACT
    // integer cents (floor(price*100)) — float-origin doubles land near
    // .xx5 often enough that decimal rounding modes diverge cross-engine.
    Q("q227_type_widening",
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
             |               CAST(o_totalprice AS DOUBLE) AS pd
             |          FROM orders),
             |e1 AS (SELECT o_orderkey AS k, prio,
             |              CAST(CAST(pd AS REAL) AS DOUBLE) AS price
             |       FROM o WHERE o_orderkey % 2 = 0),
             |e2 AS (SELECT o_orderkey + 3000000000 AS k, prio, pd AS price
             |       FROM o WHERE o_orderkey % 2 = 1)
             |SELECT 'era1' AS leg, prio, count(*) AS n,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  CAST(sum(CAST(floor(price * 100) AS BIGINT)) AS DOUBLE)
             |    / 100 AS total
             |FROM e1 GROUP BY prio
             |UNION ALL
             |SELECT 'era2' AS leg, prio, count(*) AS n,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  CAST(sum(CAST(floor(price * 100) AS BIGINT)) AS DOUBLE)
             |    / 100 AS total
             |FROM e2 GROUP BY prio
             |UNION ALL
             |SELECT 'v1' AS leg, 'all' AS prio, count(*) AS n,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  CAST(sum(CAST(floor(price * 100) AS BIGINT)) AS DOUBLE)
             |    / 100 AS total
             |FROM e1
             |ORDER BY leg, prio""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat227_", s"q227:$d")
        val root = s"$wh/tw"
        val base = t(s, d, "orders").select(
          col("o_orderkey"),
          col("o_orderpriority").as("prio"),
          col("o_totalprice").cast("double").as("pd"))
        val rows = withConfs(s,
          "spark.sql.catalog.gcat227" -> CatalogClass,
          "spark.sql.catalog.gcat227.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            base.filter(col("o_orderkey") % 2 === 0)
              .select(col("o_orderkey").cast("int").as("k"),
                col("prio"), col("pd").cast("float").as("price"))
              .createOrReplaceTempView("q227_era1")
            s.sql("CREATE TABLE gcat227.tw (k INT, prio STRING, " +
              "price FLOAT)")
            s.sql("INSERT INTO gcat227.tw SELECT * FROM q227_era1")
          }
          if (TimeTravel.currentVersion(root) < 2)
            s.sql("ALTER TABLE gcat227.tw ALTER COLUMN k TYPE BIGINT")
          if (TimeTravel.currentVersion(root) < 3)
            s.sql("ALTER TABLE gcat227.tw ALTER COLUMN price TYPE DOUBLE")
          if (TimeTravel.currentVersion(root) < 4) {
            base.filter(col("o_orderkey") % 2 === 1)
              .select((col("o_orderkey") + 3000000000L).as("k"),
                col("prio"), col("pd").as("price"))
              .createOrReplaceTempView("q227_era2")
            s.sql("INSERT INTO gcat227.tw SELECT * FROM q227_era2")
          }
          s.sql(
            """SELECT 'era1' AS leg, prio, count(*) AS n,
              |  CAST(sum(k) AS BIGINT) AS sum_k,
              |  CAST(sum(CAST(floor(CAST(price AS DOUBLE) * 100) AS BIGINT))
              |    AS DOUBLE) / 100 AS total
              |FROM gcat227.tw WHERE k <= 2147483647 GROUP BY prio
              |UNION ALL
              |SELECT 'era2' AS leg, prio, count(*) AS n,
              |  CAST(sum(k) AS BIGINT) AS sum_k,
              |  CAST(sum(CAST(floor(CAST(price AS DOUBLE) * 100) AS BIGINT))
              |    AS DOUBLE) / 100 AS total
              |FROM gcat227.tw WHERE k > 2147483647 GROUP BY prio
              |UNION ALL
              |SELECT 'v1' AS leg, 'all' AS prio, count(*) AS n,
              |  CAST(sum(k) AS BIGINT) AS sum_k,
              |  CAST(sum(CAST(floor(CAST(price AS DOUBLE) * 100) AS BIGINT))
              |    AS DOUBLE) / 100 AS total
              |FROM gcat227.tw VERSION AS OF 1
              |ORDER BY leg, prio""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getLong(3), r.getDouble(4))).toSeq
        }
        rows.toDF("leg", "prio", "n", "sum_k", "total")
          .orderBy("leg", "prio")
      }),

    // Q228 SQL RESTORE (Delta's RESTORE TABLE, as the graft_restore
    // TVF — r15 verdict #3): a bad load (the odd keys, gen 1) rolled
    // back from pure SQL. The TVF is a LAZY maintenance verb: EXPLAIN
    // restores nothing (spec-pinned), the executed row reports
    // (version, restored_gen, files_readded, files_retired), and the
    // restore is METADATA-ONLY — gen 1's files are retired by one
    // commit, zero data bytes move, and the in-between history stays
    // readable AS OF. Re-running the statement is idempotent: a table
    // already in the target state lands no commit (the declared query
    // runs the TVF on every invocation to prove it). Oracle: the
    // even-keys aggregate.
    Q("q228_sql_restore",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders WHERE o_orderkey % 2 = 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttrs_", s"q228:$d")
        graft.GraftFunctions.register(s) // graft_restore TVF
        if (TimeTravel.currentVersion(root) < 0) {
          val o = orders3(s, d)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 2 === 0))
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 2 === 1))
        }
        // every invocation drives the restore from SQL: the FIRST lands
        // the rollback commit (retiring gen 1's files), re-runs are
        // no-ops that keep version and file set unchanged
        val rep = s.sql(s"SELECT * FROM graft_restore('$root', 0)").head()
        require(rep.getLong(1) == 0L && rep.getLong(2) == 0L,
          s"q228: restore of an append must re-add nothing, got $rep")
        prioAgg(TimeTravel.readAsOf(s, root,
          TimeTravel.currentVersion(root)))
          .orderBy("o_orderpriority")
      }),

    // Q229 DELETION-VECTOR SQL DELETE (r15 verdict #4): with
    // `graft.enableDeletionVectors` set as a TBLPROPERTY, an UNALIGNED
    // `DELETE FROM cat.t WHERE k BETWEEN …` routes through the
    // merge-on-read DV path instead of the copy-on-write rewrite — the
    // commit rewrites ZERO data files (required inline below and
    // spec-pinned), masking ~2 bytes/row instead of rewriting the
    // touched files' bytes; aligned predicates keep the q205 metadata
    // path. SELECT reads through the mask, and with CDF on the deleted
    // rows land as change files in the SAME commit — the `del` leg
    // reads them back through graft_row_changes. Oracle: the band
    // split replayed over orders.
    Q("q229_sql_dv_delete",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT 'cur' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders, p WHERE o_orderkey NOT BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'del' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders, p WHERE o_orderkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat229_", s"q229:$d")
        val root = s"$wh/dv"
        graft.GraftFunctions.register(s) // graft_row_changes TVF
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat229" -> CatalogClass,
          "spark.sql.catalog.gcat229.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("ALTER TABLE gcat229.dv SET TBLPROPERTIES (" +
              "'graft.enableDeletionVectors' = 'true')")
          if (TimeTravel.currentVersion(root) < 2)
            s.sql("ALTER TABLE gcat229.dv SET TBLPROPERTIES (" +
              "'graft.enableChangeDataFeed' = 'true')")
          if (TimeTravel.currentVersion(root) < 3) {
            val before = TimeTravel.snapshotFiles(root, 2).sorted
            s.sql("DELETE FROM gcat229.dv WHERE o_orderkey BETWEEN " +
              s"${mx / 4} AND ${mx / 2}")
            // the DV contract: a merge-on-read delete rewrites NO data
            // files — the snapshot's file set is byte-identical
            require(TimeTravel.snapshotFiles(root,
                TimeTravel.currentVersion(root)).sorted == before,
              "q229: DV delete must not rewrite data files")
          }
          s.sql(
            s"""SELECT 'cur' AS leg, o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               |    AS total
               |FROM gcat229.dv GROUP BY o_orderpriority
               |UNION ALL
               |SELECT 'del' AS leg, o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               |    AS total
               |FROM graft_row_changes('$root', 2, 3)
               |WHERE _change_type = 'delete' GROUP BY o_orderpriority
               |ORDER BY leg, o_orderpriority""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q230 TIMESTAMP-BOUNDED CHANGE FEED (Delta's `table_changes` with
    // timestamps — r15 verdict #7): the q191 row-level feed bounded by
    // WALL-CLOCK time instead of generation numbers. Both bounds
    // resolve through the q187 TIMESTAMP AS OF machinery over
    // IN-COMMIT timestamps (r15 verdict #6 — resolution survives
    // mtime-scrambled log files, spec-pinned), so the `ts` leg —
    // bounded by gen 0's and gen 3's own commit timestamps — is
    // hash-equal to the generation-bounded `gen` leg, row for row.
    // Oracle: the delete + update pre/post images replayed twice.
    Q("q230_row_changes_ts",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS l1,
             |                  max(o_orderkey)//2 AS h1,
             |                  max(o_orderkey)//2+1 AS l2,
             |                  3*max(o_orderkey)//4 AS h2 FROM orders),
             |ch AS (
             |  SELECT 'delete' AS change_type, o_totalprice FROM orders, p
             |    WHERE o_orderkey BETWEEN p.l1 AND p.h1
             |  UNION ALL SELECT 'update_preimage', o_totalprice FROM orders, p
             |    WHERE o_orderkey BETWEEN p.l2 AND p.h2
             |  UNION ALL SELECT 'update_postimage', o_totalprice * 2
             |    FROM orders, p WHERE o_orderkey BETWEEN p.l2 AND p.h2
             |),
             |agg AS (SELECT change_type, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total FROM ch GROUP BY change_type)
             |SELECT 'gen' AS leg, * FROM agg
             |UNION ALL SELECT 'ts' AS leg, * FROM agg
             |ORDER BY leg, change_type""".stripMargin),
      (s, d) => {
        import s.implicits._
        val root = cdfTable(s, d)
        graft.GraftFunctions.register(s) // graft_row_changes_ts TVF
        val times = TimeTravel.commitTimes(root).toMap
        val (t0, t1) = (times(0), times(3))
        s.sql(
          s"""WITH g AS (SELECT _change_type, o_totalprice
             |           FROM graft_row_changes('$root', 0, 3)),
             |ts AS (SELECT _change_type, o_totalprice
             |       FROM graft_row_changes_ts('$root', $t0, $t1))
             |SELECT 'gen' AS leg, _change_type AS change_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM g GROUP BY _change_type
             |UNION ALL
             |SELECT 'ts' AS leg, _change_type AS change_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM ts GROUP BY _change_type
             |ORDER BY leg, change_type""".stripMargin)
      }),

    // Q231 MERGE-ON-READ UPDATE (Delta's deletion-vector-backed UPDATE):
    // the band's live rows are MASKED in place (position sidecars, zero
    // data files rewritten — spec pins the untouched file set) and only
    // the updated rows append, with exact band stats so key pruning
    // keeps serving them. At 100 TB a point update costs ~bytes-per-
    // updated-row instead of the touched files' bytes — the other half
    // of the q229 merge-on-read story. CDF pre/post images land in the
    // same commit and replay through graft_row_changes. Oracle: the
    // CASE'd aggregate + both image legs replayed over orders.
    Q("q231_dv_update",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT 'cur' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(CASE WHEN o_orderkey BETWEEN p.lo AND p.hi
             |    THEN o_totalprice * 2 ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'pre' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders, p WHERE o_orderkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'post' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(18,2)))
             |    AS DOUBLE) AS total
             |FROM orders, p WHERE o_orderkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val root = WorkDirs.cached("graft_ttvu_", s"q231:$d")
        graft.GraftFunctions.register(s) // graft_row_changes TVF
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        if (TimeTravel.currentVersion(root) < 1)
          TimeTravel.setProperty(s, root, "graft.enableChangeDataFeed",
            "true")
        if (TimeTravel.currentVersion(root) < 2) {
          val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
          val before = TimeTravel.snapshotFiles(root, 1).toSet
          TimeTravel.updateVectorWhere(s, root, "o_orderkey",
            mx / 4, mx / 2, "o_totalprice", col("o_totalprice") * 2)
          // merge-on-read: every pre-update file survives untouched;
          // the commit only ADDS the updated rows' files
          require(before.subsetOf(TimeTravel.snapshotFiles(root,
              TimeTravel.currentVersion(root)).toSet),
            "q231: DV update rewrote or retired data files")
        }
        val rows = s.sql(
          s"""SELECT 'cur' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_asof('$root', 2) GROUP BY o_orderpriority
             |UNION ALL
             |SELECT CASE WHEN _change_type = 'update_preimage'
             |            THEN 'pre' ELSE 'post' END AS leg,
             |  o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_row_changes('$root', 1, 2)
             |GROUP BY 1, o_orderpriority
             |ORDER BY leg, o_orderpriority""".stripMargin)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDouble(3))).toSeq
        rows.toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q232 MERGE-ON-READ SQL MERGE (Spark's delta-based SupportsDelta,
    // the API Iceberg's position deletes ride): with
    // graft.enableDeletionVectors set, the q207 MERGE runs as masks +
    // appends — matched rows' positions land in sidecars, only
    // updated/inserted rows write parquet, NOT ONE existing file is
    // rewritten or retired (required inline + spec-pinned). Same
    // statement, same oracle as q207's copy-on-write sibling — the
    // engine picks the write STRATEGY from the table property, exactly
    // Delta's DML-integrated DV split. At 100 TB: the q207 MERGE costs
    // the touched files' bytes; this one costs the changed rows'.
    Q("q232_mor_sql_merge",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
             |     upd AS (SELECT o_orderkey, o_orderpriority,
             |               CASE WHEN o_orderkey BETWEEN mx//4 AND mx//2
             |                    THEN o_totalprice + 1000
             |                    ELSE o_totalprice END AS o_totalprice
             |             FROM orders, p),
             |     ins AS (SELECT o_orderkey + mx + 1 AS o_orderkey,
             |               o_orderpriority, o_totalprice + 1000
             |                 AS o_totalprice
             |             FROM orders, p WHERE o_orderkey <= mx//16),
             |     allr AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM allr GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat232_", s"q232:$d")
        val root = s"$wh/mr"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat232" -> CatalogClass,
          "spark.sql.catalog.gcat232.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("ALTER TABLE gcat232.mr SET TBLPROPERTIES (" +
              "'graft.enableDeletionVectors' = 'true')")
          if (TimeTravel.currentVersion(root) < 2) {
            val o = orders3(s, d)
            o.filter(col("o_orderkey") >= mx / 4 &&
                col("o_orderkey") <= mx / 2)
              .select(col("o_orderkey").as("k"),
                col("o_orderpriority").as("p"),
                (col("o_totalprice") + 1000).as("price"))
              .unionAll(o.filter(col("o_orderkey") <= mx / 16)
                .select((col("o_orderkey") + mx + 1).as("k"),
                  col("o_orderpriority").as("p"),
                  (col("o_totalprice") + 1000).as("price")))
              .createOrReplaceTempView("q232_src")
            val before = TimeTravel.snapshotFiles(root, 1).toSet
            s.sql(
              """MERGE INTO gcat232.mr t USING q232_src s
                |ON t.o_orderkey = s.k
                |WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
                |WHEN NOT MATCHED THEN INSERT
                |  (o_orderkey, o_orderpriority, o_totalprice)
                |  VALUES (s.k, s.p, s.price)""".stripMargin)
            // merge-on-read: the MERGE may only ADD files, never
            // rewrite or retire one
            require(before.subsetOf(TimeTravel.snapshotFiles(root,
                TimeTravel.currentVersion(root)).toSet),
              "q232: merge-on-read MERGE rewrote data files")
          }
          s.sql(
            """SELECT o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat232.mr GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSeq
        }
        rows.toDF("o_orderpriority", "n", "total").orderBy("o_orderpriority")
      }),

    // Q233 REORG … APPLY (PURGE) (Delta's surgical DV materialization,
    // as the graft_reorg TVF): after a band DV-delete saturates the low
    // key cells, `graft_reorg(root, 50)` rewrites ONLY the files whose
    // mask covers ≥50% of their rows — the read-side anti-join debt
    // drops for exactly the worst files while lightly-masked files keep
    // their (cheap) masks; rows are unchanged, the commit is `nodata`
    // so change feeds skip it, and a re-run purges nothing (the
    // declared statement executes every invocation to prove it).
    // Oracle: the band-excluded aggregate.
    Q("q233_sql_reorg_purge",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders, p WHERE o_orderkey > p.hi
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttrg_", s"q233:$d")
        graft.GraftFunctions.register(s) // graft_reorg TVF
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        if (TimeTravel.currentVersion(root) < 1) {
          val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
          TimeTravel.deleteVectorWhere(s, root, "o_orderkey", 0L, mx / 4)
        }
        // every invocation drives the purge from SQL: the FIRST rewrites
        // the saturated cells, re-runs purge nothing and land no commit
        val rep = s.sql(s"SELECT * FROM graft_reorg('$root', 50)").head()
        require(rep.getLong(0) >= 1L, s"q233: reorg report $rep")
        prioAgg(TimeTravel.readAsOf(s, root,
          TimeTravel.currentVersion(root)))
          .orderBy("o_orderpriority")
      }),

    // Q234 CDF × MERGE-ON-READ DML (r16 verdict #2, Delta's CDC from
    // DV-backed DML): a MERGE on a table with BOTH
    // graft.enableChangeDataFeed and graft.enableDeletionVectors runs
    // as masks + appends — zero files rewritten (required inline) — and
    // the SAME commit lands the diff-form change files, recovered by
    // reading the masked positions back from the touched files. The
    // declared statement runs the identical MERGE on a copy-on-write
    // CDF sibling and requires the two feeds ROW-IDENTICAL before
    // returning the merge-on-read feed's aggregate: a CDC consumer
    // cannot tell which write strategy the table picked. Oracle: DuckDB
    // replays the diff feed (delete of each updated row's pre-image,
    // insert of its post-image, insert per new key). At 100 TB this is
    // the CDC-to-warehouse shape the reference's Glue contract implies,
    // at changed-rows cost instead of touched-files cost.
    Q("q234_mor_cdf_merge",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
             |     upd AS (SELECT o_orderkey, o_orderpriority,
             |               o_totalprice
             |             FROM orders, p
             |             WHERE o_orderkey BETWEEN mx//4 AND mx//2),
             |     feed AS (
             |       SELECT 'delete' AS _change_type, o_orderkey,
             |              o_orderpriority, o_totalprice FROM upd
             |       UNION ALL
             |       SELECT 'insert', o_orderkey, o_orderpriority,
             |              o_totalprice + 1000 FROM upd
             |       UNION ALL
             |       SELECT 'insert', o_orderkey + mx + 1,
             |              o_orderpriority, o_totalprice + 1000
             |       FROM orders, p WHERE o_orderkey <= mx//16)
             |SELECT _change_type, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM feed GROUP BY _change_type
             |ORDER BY _change_type""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat234_", s"q234:$d")
        for (t <- Seq("mor", "cow"))
          if (TimeTravel.currentVersion(s"$wh/$t") < 0)
            TimeTravel.commitClustered(s, s"$wh/$t", orders3(s, d),
              "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        withConfs(s,
          "spark.sql.catalog.gcat234" -> CatalogClass,
          "spark.sql.catalog.gcat234.warehouse" -> wh) {
          for (tn <- Seq("mor", "cow"))
            if (TimeTravel.currentVersion(s"$wh/$tn") < 1)
              s.sql(s"ALTER TABLE gcat234.$tn SET TBLPROPERTIES (" +
                "'graft.enableChangeDataFeed' = 'true')")
          if (TimeTravel.currentVersion(s"$wh/mor") < 2)
            s.sql("ALTER TABLE gcat234.mor SET TBLPROPERTIES (" +
              "'graft.enableDeletionVectors' = 'true')")
          val o = orders3(s, d)
          o.filter(col("o_orderkey").between(mx / 4, mx / 2))
            .select(col("o_orderkey").as("k"),
              col("o_orderpriority").as("p"),
              (col("o_totalprice") + 1000).as("price"))
            .unionAll(o.filter(col("o_orderkey") <= mx / 16)
              .select((col("o_orderkey") + mx + 1).as("k"),
                col("o_orderpriority").as("p"),
                (col("o_totalprice") + 1000).as("price")))
            .createOrReplaceTempView("q234_src")
          def merge(tn: String, preGen: Int): Unit =
            if (TimeTravel.currentVersion(s"$wh/$tn") < preGen + 1) {
              val before = TimeTravel.snapshotFiles(s"$wh/$tn", preGen).toSet
              s.sql(
                s"""MERGE INTO gcat234.$tn t USING q234_src s
                   |ON t.o_orderkey = s.k
                   |WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
                   |WHEN NOT MATCHED THEN INSERT
                   |  (o_orderkey, o_orderpriority, o_totalprice)
                   |  VALUES (s.k, s.p, s.price)""".stripMargin)
              if (tn == "mor")
                require(before.subsetOf(TimeTravel.snapshotFiles(s"$wh/$tn",
                    TimeTravel.currentVersion(s"$wh/$tn")).toSet),
                  "q234: CDF-enabled merge-on-read MERGE rewrote files")
            }
          merge("mor", 2)
          merge("cow", 1)
        }
        def feed(tn: String, from: Int): DataFrame =
          TimeTravel.readRowChanges(s, s"$wh/$tn", from, from + 1)
            .select(col("_change_type"), col("o_orderkey"),
              col("o_orderpriority"), col("o_totalprice"))
        // feed identity via a DISTRIBUTED multiset signature (count +
        // order-independent row-hash sum) — the driver sees one row per
        // feed, never the feed itself (at 100 TB the feeds are data)
        def sig(df: DataFrame)
            : (Long, java.math.BigDecimal, java.math.BigDecimal) = {
          val r = df.agg(count(lit(1)),
            sum(xxhash64(col("_change_type"), col("o_orderkey"),
              col("o_orderpriority"),
              col("o_totalprice").cast("decimal(18,2)"))
              .cast("decimal(38,0)")), // exact — a LONG sum could overflow
            sum(col("o_totalprice").cast("decimal(18,2)"))).head()
          (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
        }
        require(sig(feed("mor", 2)) == sig(feed("cow", 1)),
          "q234: merge-on-read change feed diverges from the " +
            "copy-on-write sibling's")
        feed("mor", 2)
          .groupBy("_change_type")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("_change_type")
      }),

    // Q235 MERGE … WITH SCHEMA EVOLUTION (Delta's autoMerge, through
    // Spark's AUTOMATIC_SCHEMA_EVOLUTION capability): the source
    // carries a column the target lacks (`o_note`) — with the explicit
    // keyword, the analyzer diffs the schemas and routes the ADD
    // through this catalog's alterTable (the q221 addColumnMapped
    // machinery: metadata-only, existing rows null-backfill) in the
    // same statement, then the MERGE lands with the evolved schema.
    // Without the keyword the same statement still refuses
    // (spec-pinned). At 100 TB: an upstream producer adding a field
    // stops being a pipeline outage — zero data bytes rewritten for
    // the evolution itself. Oracle: DuckDB replays evolution + merge.
    Q("q235_merge_evolve",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
             |     fin AS (
             |       SELECT o_orderkey, o_orderpriority,
             |         CASE WHEN o_orderkey BETWEEN mx//4 AND mx//2
             |              THEN o_totalprice + 1000
             |              ELSE o_totalprice END AS o_totalprice,
             |         CASE WHEN o_orderkey BETWEEN mx//4 AND mx//2
             |              THEN 'evolved' END AS o_note
             |       FROM orders, p
             |       UNION ALL
             |       SELECT o_orderkey + mx + 1, o_orderpriority,
             |              o_totalprice + 1000, 'evolved'
             |       FROM orders, p WHERE o_orderkey <= mx//16)
             |SELECT coalesce(o_note, '-') AS note, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM fin GROUP BY note, o_orderpriority
             |ORDER BY note, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat235_", s"q235:$d")
        val root = s"$wh/ev"
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        val rows = withConfs(s,
          "spark.sql.catalog.gcat235" -> CatalogClass,
          "spark.sql.catalog.gcat235.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1) {
            val o = orders3(s, d)
            o.filter(col("o_orderkey").between(mx / 4, mx / 2))
              .withColumn("o_totalprice", col("o_totalprice") + 1000)
              .unionByName(o.filter(col("o_orderkey") <= mx / 16)
                .select((col("o_orderkey") + mx + 1).as("o_orderkey"),
                  col("o_orderpriority"),
                  (col("o_totalprice") + 1000).as("o_totalprice")))
              .withColumn("o_note", lit("evolved"))
              .createOrReplaceTempView("q235_src")
            s.sql(
              """MERGE WITH SCHEMA EVOLUTION INTO gcat235.ev t
                |USING q235_src s ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            require(TimeTravel.schemaAsOf(root,
                TimeTravel.currentVersion(root))
                .exists(_.fieldNames.contains("o_note")),
              "q235: MERGE WITH SCHEMA EVOLUTION did not add o_note")
          }
          s.sql(
            """SELECT coalesce(o_note, '-') AS note, o_orderpriority,
              |  count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat235.ev GROUP BY note, o_orderpriority""".stripMargin)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        rows.toDF("note", "o_orderpriority", "n", "total")
          .orderBy("note", "o_orderpriority")
      }),

    // Q236 AUTO-COMPACTION (Delta's autoOptimize.autoCompact as the
    // `graft.autoCompact` TBLPROPERTY): twenty one-slice INSERTs land
    // on a table whose property triggers compactSmall after each sink
    // commit — small files converge to a bounded count (required
    // inline: ≤ 8 files after 20 inserts, ≥ 1 compaction commit)
    // without anyone scheduling OPTIMIZE, and history stays readable
    // through the `nodata` compaction commits. Cost ∝ the small files
    // only — the reason it is safe per-commit at 100 TB, where full
    // OPTIMIZE is a scheduled job. Oracle: the slices reassemble the
    // whole table.
    Q("q236_auto_compact",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val wh = WorkDirs.cached("graft_cat236_", s"q236:$d")
        val root = s"$wh/ac"
        withConfs(s,
          "spark.sql.catalog.gcat236" -> CatalogClass,
          "spark.sql.catalog.gcat236.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 0) {
            orders3(s, d).createOrReplaceTempView("q236_src")
            s.sql("CREATE TABLE gcat236.ac TBLPROPERTIES (" +
              "'graft.autoCompact' = 'true', " +
              "'graft.autoCompact.minFiles' = '6', " +
              "'graft.autoCompact.smallRows' = '100000') " +
              "AS SELECT * FROM q236_src WHERE 1 = 0")
            val v0 = TimeTravel.currentVersion(root)
            for (i <- 0 until 20)
              s.sql("INSERT INTO gcat236.ac " +
                s"SELECT * FROM q236_src WHERE o_orderkey % 20 = $i")
            val v1 = TimeTravel.currentVersion(root)
            val files = TimeTravel.snapshotFiles(root, v1)
            require(files.size <= 8,
              s"q236: auto-compaction left ${files.size} files after " +
                "20 small appends")
            require(v1 - v0 > 20,
              "q236: no auto-compaction commit landed")
            // history through the nodata compactions stays readable
            require(TimeTravel.readAsOf(s, root, v0 + 3).count() > 0,
              "q236: an early generation became unreadable")
          }
          prioAgg(s.sql("SELECT * FROM gcat236.ac"))
            .orderBy("o_orderpriority")
        }
      }),

    // Q237 CDF × COLUMN MAPPING (Delta's CDC under columnMapping —
    // r15's write-time refusal LIFTED in r17): change files land under
    // PHYSICAL names exactly like data files, and the feed's one
    // read-time projection surfaces the logical schema at toGen — so a
    // table that renamed a column keeps its change feed through
    // row-level DML. The statement renames o_totalprice → price, runs
    // a copy-on-write band UPDATE through the NEW name, and reads the
    // diff-form feed back under it. Oracle: DuckDB replays the
    // update's delete/insert pairs. At 100 TB: schema evolution stops
    // costing the CDC consumers downstream.
    Q("q237_cdf_mapped",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
             |     upd AS (SELECT o_totalprice FROM orders, p
             |             WHERE o_orderkey BETWEEN mx//4 AND mx//2),
             |     feed AS (
             |       SELECT 'delete' AS _change_type,
             |              o_totalprice AS price FROM upd
             |       UNION ALL
             |       SELECT 'insert', o_totalprice * 2 FROM upd)
             |SELECT _change_type, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM feed GROUP BY _change_type
             |ORDER BY _change_type""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat237_", s"q237:$d")
        val root = s"$wh/cf"
        graft.GraftFunctions.register(s) // graft_row_changes TVF
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d), "o_orderkey", 8)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        withConfs(s,
          "spark.sql.catalog.gcat237" -> CatalogClass,
          "spark.sql.catalog.gcat237.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("ALTER TABLE gcat237.cf SET TBLPROPERTIES (" +
              "'graft.enableChangeDataFeed' = 'true')")
          if (TimeTravel.currentVersion(root) < 2)
            s.sql("ALTER TABLE gcat237.cf " +
              "RENAME COLUMN o_totalprice TO price")
          if (TimeTravel.currentVersion(root) < 3)
            s.sql("UPDATE gcat237.cf SET price = price * 2 " +
              s"WHERE o_orderkey BETWEEN ${mx / 4} AND ${mx / 2}")
        }
        val rows = s.sql(
          s"""SELECT _change_type, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_row_changes('$root', 2, 3)
             |GROUP BY _change_type""".stripMargin)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
        rows.toDF("_change_type", "n", "total").orderBy("_change_type")
      }),

    // Q238 SNAPSHOT TAGS (Iceberg's named refs): `graft_tag` pins a
    // human name to a generation as one KB-sized metadata commit — the
    // "snapshot we trained v3 on" anchor without cloning a byte. The
    // name then resolves EVERYWHERE a version does: SQL
    // `VERSION AS OF 'v1'` through the catalog and
    // `graft_asof(root, 'v1')` in FROM position (both legs returned,
    // same oracle); `graft_tags` lists live refs; and the tag PINS its
    // generation against retention — `graft_expire` below it refuses by
    // name until `graft_tag_drop` (required inline). All-digit names
    // refuse (ambiguous with generation numbers).
    Q("q238_snapshot_tags",
      Some("""WITH sub AS (SELECT o_orderpriority, o_totalprice
             |            FROM orders WHERE o_orderkey % 3 <> 0),
             |     a AS (SELECT o_orderpriority, count(*) AS n,
             |             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |               AS DOUBLE) AS total
             |           FROM sub GROUP BY o_orderpriority)
             |SELECT 'sql' AS leg, o_orderpriority, n, total FROM a
             |UNION ALL
             |SELECT 'tvf' AS leg, o_orderpriority, n, total FROM a
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_cat238_", s"q238:$d")
        val root = s"$wh/tg"
        graft.GraftFunctions.register(s)
        val o = orders3(s, d)
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 =!= 0))
        if (TimeTravel.currentVersion(root) < 1)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 0))
        if (TimeTravel.currentVersion(root) < 2) {
          val rep = s.sql(s"SELECT * FROM graft_tag('$root', 'v1', 0)")
            .head()
          require(rep.getLong(1) == 0L, s"q238: tag report $rep")
        }
        require(s.sql(s"SELECT * FROM graft_tags('$root')").collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("v1", 0L)),
          "q238: graft_tags does not list the ref")
        // the tag PINS generation 0 against retention
        val refused =
          try { TimeTravel.expireHistory(root, 1); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("v1@0") }
        require(refused, "q238: expire below a tagged generation did " +
          "not refuse by name")
        val rows = withConfs(s,
          "spark.sql.catalog.gcat238" -> CatalogClass,
          "spark.sql.catalog.gcat238.warehouse" -> wh) {
          s.sql(
            """SELECT 'sql' AS leg, o_orderpriority, count(*) AS n,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM gcat238.tg VERSION AS OF 'v1'
              |GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getString(1),
              r.getLong(2), r.getDouble(3))).toSeq
        }
        val tvf = s.sql(
          s"""SELECT 'tvf' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM graft_asof('$root', 'v1')
             |GROUP BY o_orderpriority""".stripMargin)
          .collect().map(r => (r.getString(0), r.getString(1),
            r.getLong(2), r.getDouble(3))).toSeq
        (rows ++ tvf).toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q239 ZORDER × COLUMN MAPPING (the r17 refusal LIFTED — Delta
    // Z-orders mapped tables): RENAME COLUMN used to permanently freeze
    // a table's clustered maintenance; now `graft_zorder` reads the
    // snapshot PHYSICALLY (renamed columns keep their bytes), translates
    // the key columns logical→physical for the Z-expression and the
    // per-file stats lines (the q210 stat-key discipline), and a range
    // read on the RENAMED secondary dimension still prunes from log
    // metadata alone (required inline: a 1/4-width band of a 16-cell
    // 4×4 tiling opens at most 12 of 16 files). Oracle: the same
    // custkey-range aggregate over the source table.
    Q("q239_zorder_mapped",
      Some("""WITH p AS (SELECT max(o_custkey)//4 AS lo,
             |                  max(o_custkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_custkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val wh = WorkDirs.cached("graft_cat239_", s"q239:$d")
        val root = s"$wh/zm"
        graft.GraftFunctions.register(s)
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commit(s, root, t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority",
              "o_totalprice"))
        withConfs(s,
          "spark.sql.catalog.gcat239" -> CatalogClass,
          "spark.sql.catalog.gcat239.warehouse" -> wh) {
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("ALTER TABLE gcat239.zm RENAME COLUMN o_custkey TO cust")
          if (TimeTravel.currentVersion(root) < 2) {
            val rep = s.sql(
              s"SELECT * FROM graft_zorder('$root', 'o_orderkey', " +
                "'cust', 16)").head()
            require(rep.getLong(1) == 16L, s"q239: zorder report $rep")
          }
        }
        val gen = TimeTravel.currentVersion(root)
        // the logical schema kept the renamed name through the rewrite
        require(TimeTravel.readAsOfMapped(s, root, gen).columns
            .contains("cust"), "q239: rename lost through zorder")
        val mx = t(s, d, "orders").agg(max("o_custkey")).head().getLong(0)
        val (lo, hi) = (mx / 4, mx / 2)
        // both-dimension stats landed PHYSICAL-keyed; the secondary-dim
        // band prunes from log metadata (no footer opens)
        val files = TimeTravel.snapshotFiles(root, gen)
        val st = TimeTravel.statsFor(root, gen)
        val kept = files.count(f => st.get((f, "o_custkey"))
          .forall { case (fLo, fHi) => fHi >= lo && fLo <= hi })
        require(files.size == 16 && kept <= 12,
          s"q239: secondary-dim pruning kept $kept of ${files.size}")
        // the pruned read itself: band filter on the renamed key (the
        // frame carries physical names — o_custkey — like every
        // stats-keyed band read); output columns are unmapped
        prioAgg(TimeTravel.readAsOfWhere(s, root, gen, "o_custkey",
          lo, hi)).orderBy("o_orderpriority")
      }),

    // Q240 LIBRARY DML × COLUMN MAPPING (the r17 refusals LIFTED):
    // deleteWhere/updateWhere/mergeInto refused renamed/defaulted
    // tables toward the SQL routes; now the library half of the DML
    // surface reads the touched files PHYSICALLY (renamed columns keep
    // their bytes, defaults fill — never NULL), applies the caller's
    // LOGICAL-name expressions on the logical projection, and stages
    // back through the mapping — stats stay physical-keyed, the
    // logical schema stays logged, CDC change files land physical-
    // named (q237). The declared statement renames the value column,
    // adds a defaulted column, library-UPDATEs one key band and
    // library-DELETEs a disjoint one; the read proves values, the
    // default, and the rename all survived. Oracle replays the
    // update+delete over the source table.
    Q("q240_library_dml_mapped",
      Some("""WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
             |upd AS (
             |  SELECT o_orderkey, o_orderpriority,
             |    CASE WHEN o_orderkey BETWEEN mx//4 AND mx//2
             |         THEN o_totalprice + 1000 ELSE o_totalprice END AS price
             |  FROM orders, p),
             |kept AS (SELECT u.* FROM upd u, p WHERE o_orderkey > mx//8)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(count(*) * 7 AS BIGINT) AS flags
             |FROM kept GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttldm_", s"q240:$d")
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, orders3(s, d),
            "o_orderkey", 8)
        if (TimeTravel.currentVersion(root) < 1)
          TimeTravel.renameColumn(s, root, "o_totalprice", "price")
        if (TimeTravel.currentVersion(root) < 2)
          TimeTravel.addColumnMapped(s, root, "flag", "BIGINT", Some("7"))
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        if (TimeTravel.currentVersion(root) < 3)
          TimeTravel.updateWhere(s, root, "o_orderkey", mx / 4, mx / 2,
            "price", col("price") + 1000)
        if (TimeTravel.currentVersion(root) < 4)
          TimeTravel.deleteWhere(s, root, "o_orderkey", 0L, mx / 8)
        val gen = TimeTravel.currentVersion(root)
        val after = TimeTravel.readAsOfMapped(s, root, gen)
        require(after.columns.toSeq ==
          Seq("o_orderkey", "o_orderpriority", "price", "flag"),
          s"q240: logical schema drifted: ${after.columns.toSeq}")
        after.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("price").cast("decimal(18,2)"))
              .cast("double").as("total"),
            sum(col("flag")).as("flags"))
          .orderBy("o_orderpriority")
      }),

    // Q241 BRANCHES (Iceberg's writable refs — q238's read-write
    // sibling): `graft_branch` forks a base generation; commits to the
    // branch land in the SAME log under names main readers never see
    // (required inline: main's generation counter and row count are
    // untouched while the branch fills); `graft_branch_read` serves the
    // branch head in FROM position; `graft_ff` publishes the whole
    // delta as ONE atomic version-pinned commit and clears the ref —
    // the staging-then-publish workflow over one table's history, no
    // copy. The base generation pins retention like a tag's. Oracle:
    // the published table is exactly the full orders slice-union.
    Q("q241_branches",
      Some("""WITH a AS (SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY o_orderpriority),
             |b AS (SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT 'branch' AS leg, * FROM b
             |UNION ALL SELECT 'main' AS leg, * FROM a
             |UNION ALL SELECT 'published' AS leg, * FROM b
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val root = WorkDirs.cached("graft_ttbr_", s"q241:$d")
        graft.GraftFunctions.register(s)
        val o = orders3(s, d)
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 =!= 0))
        if (TimeTravel.currentVersion(root) < 1) {
          val rep = s.sql(s"SELECT * FROM graft_branch('$root', 'cand', 0)")
            .head()
          require(rep.getLong(1) == 0L, s"q241: branch report $rep")
          TimeTravel.commitToBranch(s, root, "cand",
            o.filter(col("o_orderkey") % 3 === 0))
          // staged rows are INVISIBLE to main until the publish
          require(TimeTravel.readAsOf(s, root, 1).count() ==
            o.filter(col("o_orderkey") % 3 =!= 0).count(),
            "q241: branch rows leaked into main")
          require(s.sql(s"SELECT * FROM graft_branches('$root')").collect()
              .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
              .toSeq == Seq(("cand", 0L, 1L)),
            "q241: graft_branches does not list the ref")
        }
        def legAgg(from: String, leg: String) = s.sql(
          s"""SELECT '$leg' AS leg, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM $from GROUP BY o_orderpriority""".stripMargin)
          .collect().map(r => (r.getString(0), r.getString(1),
            r.getLong(2), r.getDouble(3))).toSeq
        val gen = TimeTravel.currentVersion(root)
        val (branchLeg, mainLeg) =
          if (TimeTravel.branchesFor(root, gen).contains("cand")) {
            // first run: capture both heads, then PUBLISH
            val b = legAgg(s"graft_branch_read('$root', 'cand')", "branch")
            val m = legAgg(s"graft_asof('$root', 1)", "main")
            val rep = s.sql(s"SELECT * FROM graft_ff('$root', 'cand')")
              .head()
            require(rep.getLong(2) == 0L, s"q241: ff removed files: $rep")
            (b, m)
          } else {
            // replay: the branch is published; both legs reconstruct
            // from history (branch head ≡ published snapshot; main-
            // before-publish ≡ generation 1)
            (legAgg(s"graft_asof('$root', " +
              s"${TimeTravel.currentVersion(root)})", "branch"),
              legAgg(s"graft_asof('$root', 1)", "main"))
          }
        val pub = legAgg(
          s"graft_asof('$root', ${TimeTravel.currentVersion(root)})",
          "published")
        (branchLeg ++ mainLeg ++ pub)
          .toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q242 DEEP CLONE (Delta's non-shallow CLONE — the r17 "what's
    // missing" #5): `graft_clone_deep` copies the snapshot's data files
    // AND deletion-vector sidecars in a DISTRIBUTED job (one task per
    // file) and re-keys every log-borne metadatum — stats keep pruning,
    // DV masks keep masking, schema/constraints/mapping carry. The
    // declared statement makes retention-independence literal: after
    // the clone, the SOURCE TABLE IS DESTROYED outright (rm -rf), and
    // the clone still serves the masked snapshot — the escape hatch
    // from the shallow clone's vacuum caveat (q179/q226). Oracle:
    // orders minus the DV-deleted key band.
    Q("q242_deep_clone",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_orderkey NOT BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val wh = WorkDirs.cached("graft_ttdc_", s"q242:$d")
        val srcRoot = s"$wh/src"
        val dstRoot = s"$wh/dc"
        graft.GraftFunctions.register(s)
        if (TimeTravel.currentVersion(dstRoot) < 0) {
          if (TimeTravel.currentVersion(srcRoot) < 0) {
            TimeTravel.commitClustered(s, srcRoot, orders3(s, d),
              "o_orderkey", 8)
            val mx = t(s, d, "orders").agg(max("o_orderkey")).head()
              .getLong(0)
            TimeTravel.deleteVectorWhere(s, srcRoot, "o_orderkey",
              mx / 4, mx / 2)
          }
          val rep = s.sql(
            s"SELECT * FROM graft_clone_deep('$srcRoot', '$dstRoot')")
            .head()
          require(rep.getLong(0) == 0L && rep.getLong(1) == 8L,
            s"q242: clone report $rep")
          // retention-independence, literally: the source is DESTROYED
          WorkDirs.deleteTree(java.nio.file.Paths.get(srcRoot))
        }
        require(!new java.io.File(srcRoot).exists(),
          "q242: the source should be gone")
        prioAgg(TimeTravel.readAsOf(s, dstRoot, 0))
          .orderBy("o_orderpriority")
      }),

    // Q244 PARTITION-SCOPED OPTIMIZE (Delta's `OPTIMIZE t WHERE part =
    // v`): at 100 TB the practical maintenance statement is "compact
    // yesterday's partition", never the table — `graft_optimize_where`
    // bin-packs ONLY the value groups matching the predicate, the
    // packed outputs CARRY their value lines (equality pruning survives
    // — required inline), untouched partitions keep their physical
    // files (required inline), and rows are untouched (`nodata`).
    // Oracle: the plain whole-table aggregate — maintenance must never
    // change an answer.
    Q("q244_optimize_where",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttow_", s"q244:$d")
        graft.GraftFunctions.register(s)
        val o = orders3(s, d)
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitPartitioned(s, root,
            o.filter(col("o_orderkey") % 3 =!= 0), "o_orderpriority")
        if (TimeTravel.currentVersion(root) < 1)
          TimeTravel.commitPartitioned(s, root,
            o.filter(col("o_orderkey") % 3 === 0), "o_orderpriority")
        if (TimeTravel.currentVersion(root) < 2) {
          val before = TimeTravel.snapshotFiles(root, 1)
          val rep = s.sql(s"SELECT * FROM graft_optimize_where('$root', " +
            "'o_orderpriority', '3-MEDIUM', 1)").head()
          val v = rep.getLong(0).toInt
          val after = TimeTravel.snapshotFiles(root, v)
          val tv = TimeTravel.tvalsFor(root, v)
          require(after.count(f =>
            tv((f, "o_orderpriority"))._2 == "3-MEDIUM") == 1,
            "q244: the scoped optimize did not pack the group")
          require((before.toSet intersect after.toSet).nonEmpty,
            "q244: the scoped optimize rewrote untouched partitions")
        }
        prioAgg(TimeTravel.readAsOfValue(s, root,
          TimeTravel.currentVersion(root), "o_orderpriority", "3-MEDIUM")
          .unionByName(TimeTravel.readAsOf(s, root,
            TimeTravel.currentVersion(root))
            .filter(col("o_orderpriority") =!= "3-MEDIUM")))
          .orderBy("o_orderpriority")
      }),

    // Q245 PARTITIONS METADATA TABLE (Iceberg's `partitions`): one row
    // per tagged value group with file count and logged LIVE row count,
    // resolved from commit-log metadata alone — zero file opens, so the
    // size report costs the same at 100 TB as at 100 MB (required
    // inline: one file per value after commitPartitioned). Oracle: the
    // per-value row counts replayed over the source table.
    Q("q245_partitions_meta",
      Some("""SELECT 'o_orderpriority|=|' || o_orderpriority AS part,
             |  count(*) AS n_rows
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY part""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttpm_", s"q245:$d")
        graft.GraftFunctions.register(s)
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitPartitioned(s, root, orders3(s, d),
            "o_orderpriority")
        val pm = s.sql(s"SELECT * FROM graft_partitions('$root')")
        require(pm.filter(col("n_files") =!= 1).isEmpty,
          "q245: commitPartitioned should land one file per value")
        pm.select(col("part"), col("rows").as("n_rows")).orderBy("part")
      }),

    // Q243 CHERRY-PICK (Iceberg's cherrypick_snapshot — q241's partial
    // publish): when main has ADVANCED past the branch base,
    // fast-forward refuses (required inline) — but one APPEND-ONLY
    // branch commit still applies onto the current head via
    // `graft_cherrypick`: its staged files are RE-REFERENCED (zero
    // bytes move), its rows re-validate against the constraints in
    // force now, and double-picks refuse. Here the branch stages one
    // third of orders, main independently gains another third, and the
    // pick completes the table. Oracle: the plain whole-orders
    // aggregate.
    Q("q243_cherry_pick",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttcp_", s"q243:$d")
        graft.GraftFunctions.register(s)
        val o = orders3(s, d)
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 1))
        if (TimeTravel.currentVersion(root) < 1) {
          s.sql(s"SELECT * FROM graft_branch('$root', 'cand', 0)").collect()
          TimeTravel.commitToBranch(s, root, "cand",
            o.filter(col("o_orderkey") % 3 === 2))
        }
        if (TimeTravel.currentVersion(root) < 2)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 3 === 0))
        if (TimeTravel.currentVersion(root) < 3) {
          // main advanced: the atomic publish path refuses…
          val ffRefused =
            try { TimeTravel.fastForward(s, root, "cand"); false }
            catch { case _: IllegalArgumentException => true }
          require(ffRefused, "q243: FF on an advanced main did not refuse")
          // …the partial publish lands, re-referencing the staged files
          val rep = s.sql(
            s"SELECT * FROM graft_cherrypick('$root', 'cand', 0)").head()
          require(rep.getLong(1) > 0L, s"q243: pick report $rep")
        }
        if (TimeTravel.currentVersion(root) < 4)
          TimeTravel.dropBranch(s, root, "cand")
        prioAgg(TimeTravel.readAsOf(s, root,
          TimeTravel.currentVersion(root))).orderBy("o_orderpriority")
      }),

    // Q246 WAP IN PURE SQL (r18 verdict #2 — Iceberg's write-audit-
    // publish without one library call): `INSERT INTO cat.`t@audit``
    // resolves the BRANCH through the catalog and stages through the
    // ordinary distributed DSv2 writer, but the commit claims a branch
    // sequence number — main's generation counter is untouched
    // mid-flight (required inline, the q241 check); the audit reads
    // `graft_branch_read`, the publish is `graft_ff`. Oracle: the
    // three-leg slice algebra q241 pins, all built by SQL here.
    Q("q246_branch_wap_sql",
      Some("""WITH a AS (SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY o_orderpriority),
             |b AS (SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT 'audit' AS leg, * FROM b
             |UNION ALL SELECT 'main' AS leg, * FROM a
             |UNION ALL SELECT 'published' AS leg, * FROM b
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val wh = WorkDirs.cached("graft_wap_", s"q246:$d")
        val root = s"$wh/orders_t"
        graft.GraftFunctions.register(s)
        withConfs(s,
          "spark.sql.catalog.gcat246" -> CatalogClass,
          "spark.sql.catalog.gcat246.warehouse" -> wh) {
          orders3(s, d)
            .select(col("o_orderkey"), col("o_orderpriority"),
              col("o_totalprice").cast("double").as("o_totalprice"))
            .createOrReplaceTempView("q246_src")
          if (TimeTravel.currentVersion(root) < 0)
            s.sql("""CREATE TABLE gcat246.orders_t (
                    |  o_orderkey BIGINT, o_orderpriority STRING,
                    |  o_totalprice DOUBLE)""".stripMargin)
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("INSERT INTO gcat246.orders_t " +
              "SELECT * FROM q246_src WHERE o_orderkey % 3 <> 0")
          val gen1 = TimeTravel.currentVersion(root)
          if (gen1 == 1 &&
              !TimeTravel.branchesFor(root, gen1).contains("audit"))
            s.sql(s"SELECT * FROM graft_branch('$root', 'audit', 1)")
              .collect()
          if (TimeTravel.branchesFor(root,
                TimeTravel.currentVersion(root)).contains("audit") &&
              s.sql(s"SELECT * FROM graft_branches('$root')")
                .head().getLong(2) == 0L) {
            // the WAP write: pure SQL INSERT addressed at the branch.
            // The branch-create ref is generation 2 (a metadata
            // commit); the INSERT itself must not move the counter.
            val before = TimeTravel.currentVersion(root)
            s.sql("INSERT INTO gcat246.`orders_t@audit` " +
              "SELECT * FROM q246_src WHERE o_orderkey % 3 = 0")
            require(TimeTravel.currentVersion(root) == before,
              "q246: branch INSERT moved main's generation counter")
            require(s.sql("SELECT count(*) FROM gcat246.orders_t")
                .head().getLong(0) ==
              s.sql("SELECT count(*) FROM q246_src " +
                "WHERE o_orderkey % 3 <> 0").head().getLong(0),
              "q246: branch rows leaked into main")
          }
          def legAgg(from: String, leg: String) = s.sql(
            s"""SELECT '$leg' AS leg, o_orderpriority, count(*) AS n,
               |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               |    AS total
               |FROM $from GROUP BY o_orderpriority""".stripMargin)
            .collect().map(r => (r.getString(0), r.getString(1),
              r.getLong(2), r.getDouble(3))).toSeq
          val (auditLeg, mainLeg) =
            if (TimeTravel.branchesFor(root,
                TimeTravel.currentVersion(root)).contains("audit")) {
              val b = legAgg(s"graft_branch_read('$root', 'audit')", "audit")
              // the DSv2 branch scan answers the same audit in pure
              // SQL FROM position (r19 read surface)
              require(s.sql(
                  "SELECT count(*) FROM gcat246.`orders_t@audit`")
                  .head().getLong(0) == b.map(_._3).sum,
                "q246: the branch identifier read disagrees with " +
                  "graft_branch_read")
              val m = legAgg(s"graft_asof('$root', 1)", "main")
              s.sql(s"SELECT * FROM graft_ff('$root', 'audit')").collect()
              (b, m)
            } else (
              legAgg(s"graft_asof('$root', " +
                s"${TimeTravel.currentVersion(root)})", "audit"),
              legAgg(s"graft_asof('$root', 1)", "main"))
          val pub = legAgg(
            s"graft_asof('$root', ${TimeTravel.currentVersion(root)})",
            "published")
          (auditLeg ++ mainLeg ++ pub)
            .toDF("leg", "o_orderpriority", "n", "total")
            .orderBy("leg", "o_orderpriority")
        }
      }),

    // Q247 BRANCH DML (r18 verdict #3 — the most common WAP audit
    // outcome is FIXING the staged data): a fork takes row-level
    // DELETE (`graft_branch_delete`, stats-pruned copy-on-write) and
    // UPDATE (`updateBranchWhere`) on its own head — main is untouched
    // (required inline) until `graft_ff` publishes the adds+removes as
    // one atomic commit. Oracle: the delete/update bands replayed as
    // WHERE/CASE over the source table, three legs.
    Q("q247_branch_dml",
      Some("""WITH m AS (SELECT max(o_orderkey)//5 AS u FROM orders),
             |f AS (SELECT o_orderpriority,
             |        CASE WHEN o_orderkey >= 3*(SELECT u FROM m)
             |               AND o_orderkey <= 4*(SELECT u FROM m)
             |             THEN 0 ELSE o_totalprice END AS price
             |      FROM orders, m WHERE o_orderkey > m.u),
             |b AS (SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM f GROUP BY o_orderpriority),
             |a AS (SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT 'branch' AS leg, * FROM b
             |UNION ALL SELECT 'main' AS leg, * FROM a
             |UNION ALL SELECT 'published' AS leg, * FROM b
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val root = WorkDirs.cached("graft_ttbd_", s"q247:$d")
        graft.GraftFunctions.register(s)
        val o = orders3(s, d)
        val u = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0) / 5
        val full = o.count()
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commitClustered(s, root, o, "o_orderkey", 4)
        // published iff the head already lost the deleted band's rows;
        // the branch-create ref itself is a metadata commit (v moves,
        // data does not)
        def headCount: Long = TimeTravel.readAsOf(s, root,
          TimeTravel.currentVersion(root)).count()
        if (headCount == full && !TimeTravel.branchesFor(root,
            TimeTravel.currentVersion(root)).contains("fix"))
          s.sql(s"SELECT * FROM graft_branch('$root', 'fix', 0)").collect()
        def nCommits: Long =
          s.sql(s"SELECT * FROM graft_branches('$root')").collect()
            .collectFirst { case r if r.getString(0) == "fix" => r.getLong(2) }
            .getOrElse(-1L)
        if (nCommits == 0L) {
          // row-level DELETE on the branch head, from SQL
          val rep = s.sql(s"SELECT * FROM graft_branch_delete('$root', " +
            s"'fix', 'o_orderkey', 0, ${u}L)").head()
          require(rep.getLong(0) == 0L, s"q247: delete report $rep")
        }
        if (nCommits == 1L) {
          // row-level UPDATE on the branch head: zero the band's price
          val tp = o.schema("o_totalprice").dataType
          val before = TimeTravel.currentVersion(root)
          TimeTravel.updateBranchWhere(s, root, "fix", "o_orderkey",
            3 * u, 4 * u, "o_totalprice", lit(0).cast(tp))
          // main untouched by both DML legs: counter AND row count
          require(TimeTravel.currentVersion(root) == before &&
            headCount == full,
            "q247: branch DML leaked into main")
        }
        def legAgg(df: DataFrame, leg: String) =
          prioAgg(df).select(lit(leg).as("leg"), col("o_orderpriority"),
            col("n"), col("total"))
        val (branchLeg, mainLeg) =
          if (TimeTravel.branchesFor(root,
              TimeTravel.currentVersion(root)).contains("fix")) {
            val b = legAgg(TimeTravel.readBranch(s, root, "fix"), "branch")
              .collect()
            val m = legAgg(TimeTravel.readAsOf(s, root, 0), "main").collect()
            // publish: FF carries the branch's adds AND removes as one
            // atomic main commit
            s.sql(s"SELECT * FROM graft_ff('$root', 'fix')").collect()
            (b, m)
          } else (
            legAgg(TimeTravel.readAsOf(s, root,
              TimeTravel.currentVersion(root)), "branch").collect(),
            legAgg(TimeTravel.readAsOf(s, root, 0), "main").collect())
        val pub = legAgg(TimeTravel.readAsOf(s, root,
          TimeTravel.currentVersion(root)), "published").collect()
        (branchLeg ++ mainLeg ++ pub).toSeq
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDouble(3)))
          .toDF("leg", "o_orderpriority", "n", "total")
          .orderBy("leg", "o_orderpriority")
      }),

    // Q248 REBASE (r18 verdict #3 — the recovery loop when main
    // advanced past the base): fast-forward refuses (required inline),
    // and `graft_rebase` lands EVERY unpicked append-only branch
    // commit on the current head in order, exactly once — a re-run
    // picks nothing (required inline; cherry-pick's content-keyed txn
    // guard). Oracle: orders plus the duplicated main-advance slice.
    Q("q248_rebase",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM (SELECT * FROM orders
             |      UNION ALL SELECT * FROM orders WHERE o_orderkey % 4 = 1)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = WorkDirs.cached("graft_ttrb_", s"q248:$d")
        graft.GraftFunctions.register(s)
        val o = orders3(s, d)
        val nBase = o.filter(col("o_orderkey") % 4 =!= 0).count()
        val nAdv = o.filter(col("o_orderkey") % 4 === 1).count()
        // data-state probes, not version numbers: the branch-create
        // ref is itself a metadata commit, so the counter alone cannot
        // distinguish "advanced" from "ref landed"
        def headCount: Long = TimeTravel.readAsOf(s, root,
          TimeTravel.currentVersion(root)).count()
        if (TimeTravel.currentVersion(root) < 0)
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 4 =!= 0))
        if (!TimeTravel.branchesFor(root,
            TimeTravel.currentVersion(root)).contains("feed"))
          s.sql(s"SELECT * FROM graft_branch('$root', 'feed', 0)").collect()
        def nCommits: Long =
          s.sql(s"SELECT * FROM graft_branches('$root')").collect()
            .collectFirst { case r if r.getString(0) == "feed" => r.getLong(2) }
            .getOrElse(-1L)
        if (nCommits == 0L)
          TimeTravel.commitToBranch(s, root, "feed",
            o.filter(col("o_orderkey") % 8 === 0))
        if (nCommits == 1L)
          TimeTravel.commitToBranch(s, root, "feed",
            o.filter(col("o_orderkey") % 8 === 4))
        if (headCount == nBase)
          // main advances independently: FF is now impossible
          TimeTravel.commit(s, root, o.filter(col("o_orderkey") % 4 === 1))
        if (headCount == nBase + nAdv) {
          val ffRefused =
            try { TimeTravel.fastForward(s, root, "feed"); false }
            catch { case _: IllegalArgumentException => true }
          require(ffRefused, "q248: FF on an advanced main did not refuse")
          val rep = s.sql(s"SELECT * FROM graft_rebase('$root', 'feed')")
            .head()
          require(rep.getLong(1) == 2L, s"q248: rebase report $rep")
        }
        // exactly-once: a re-run (or a crashed-rebase retry) lands none
        val rep2 = s.sql(s"SELECT * FROM graft_rebase('$root', 'feed')")
          .head()
        require(rep2.getLong(1) == 0L, s"q248: rebase re-picked: $rep2")
        prioAgg(TimeTravel.readAsOf(s, root,
          TimeTravel.currentVersion(root))).orderBy("o_orderpriority")
      }),

    // Q249 IDENTITY COLUMNS (Delta's GENERATED ALWAYS AS IDENTITY —
    // r18 verdict #5, the warehouse-migration user's first dimension
    // table): `TBLPROPERTIES('graft.identityCol'='id')` makes the
    // engine assign gaps-tolerant monotone BIGINT ids at every INSERT
    // and streaming epoch, advancing a claim-protected high-water mark
    // in the same commit — a racing identity writer re-assigns instead
    // of colliding, and an explicit user-supplied id refuses loudly
    // (required inline, with uniqueness and cross-commit monotonicity).
    // Ids are engine-valued, so the HASH gate runs on the carried data;
    // the id properties are hard inline requires.
    Q("q249_identity_column",
      Some("""SELECT o_orderpriority, count(*) AS n, count(*) AS n_ids
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val wh = WorkDirs.cached("graft_idc_", s"q249:$d")
        val root = s"$wh/dim"
        withConfs(s,
          "spark.sql.catalog.gcat249" -> CatalogClass,
          "spark.sql.catalog.gcat249.warehouse" -> wh) {
          orders3(s, d)
            .select(lit(null).cast("long").as("id"), col("o_orderkey"),
              col("o_orderpriority"))
            .createOrReplaceTempView("q249_src")
          if (TimeTravel.currentVersion(root) < 0)
            s.sql("""CREATE TABLE gcat249.dim (
                    |  id BIGINT, o_orderkey BIGINT, o_orderpriority STRING)
                    |TBLPROPERTIES('graft.identityCol'='id')""".stripMargin)
          if (TimeTravel.currentVersion(root) < 1)
            s.sql("INSERT INTO gcat249.dim SELECT * FROM q249_src " +
              "WHERE o_orderkey % 3 = 0")
          if (TimeTravel.currentVersion(root) < 2) {
            // cross-commit monotonicity: every id of commit 2 must land
            // above commit 1's high-water mark
            val hw1 = s.sql("SELECT max(id) FROM gcat249.dim")
              .head().getLong(0)
            s.sql("INSERT INTO gcat249.dim SELECT * FROM q249_src " +
              "WHERE o_orderkey % 3 = 1")
            require(s.sql(s"SELECT count(*) FROM gcat249.dim " +
                s"WHERE id <= $hw1").head().getLong(0) ==
              s.sql("SELECT count(*) FROM q249_src WHERE o_orderkey % 3 = 0")
                .head().getLong(0),
              "q249: the second INSERT's ids dipped below the mark")
            // GENERATED ALWAYS: an explicit id refuses loudly
            val refused =
              try { s.sql("INSERT INTO gcat249.dim VALUES " +
                "(7, 7, 'X')"); false }
              catch { case e: Exception =>
                e.getMessage.contains("GENERATED ALWAYS") ||
                  Option(e.getCause).exists(
                    _.getMessage.contains("GENERATED ALWAYS")) }
            require(refused, "q249: an explicit id did not refuse")
          }
          if (TimeTravel.currentVersion(root) < 3) {
            // one STREAMING epoch assigns through the same discipline
            val stage = WorkDirs.freshSubdir("graft_idc_", s"q249s:$d", "in")
            orders3(s, d).filter(col("o_orderkey") % 3 === 2)
              .select(lit(null).cast("long").as("id"), col("o_orderkey"),
                col("o_orderpriority"))
              .write.mode("overwrite").parquet(stage)
            val ckpt = WorkDirs.freshSubdir("graft_idc_", s"q249s:$d", "ck")
            val q = s.readStream
              .schema("id BIGINT, o_orderkey BIGINT, o_orderpriority STRING")
              .parquet(stage)
              .writeStream.format("graft.sources.cdf.CdfDataSource")
              .option("checkpointLocation", ckpt)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start(root)
            q.awaitTermination()
          }
          // uniqueness across every batch AND stream commit
          val ids = s.sql(
            "SELECT count(*) AS n, count(DISTINCT id) AS d, " +
              "count(CASE WHEN id IS NULL THEN 1 END) AS nulls " +
              "FROM gcat249.dim").head()
          require(ids.getLong(0) == ids.getLong(1) && ids.getLong(2) == 0L,
            s"q249: ids not unique/non-null: $ids")
          s.sql("""SELECT o_orderpriority, count(*) AS n,
                  |  count(DISTINCT id) AS n_ids
                  |FROM gcat249.dim
                  |GROUP BY o_orderpriority
                  |ORDER BY o_orderpriority""".stripMargin)
        }
      }),

    // Q251 PARQUET MULTI-PART CHECKPOINTS (r18 verdict #1 — the one
    // `weak`): the checkpoint's O(files) payload lands as columnar
    // sidecar parts written by a DISTRIBUTED job (blooms/sketches as
    // binary) behind a `ckpt-parquet` reader-feature gate; resolution
    // reads ONE manifest + the key-filtered parts and caches the
    // parsed head. Required inline: the sidecar DIRECTORY exists, the
    // manifest carries the format + feature and NO inline file list,
    // resolution parses ZERO tail commits, and after history expiry
    // the checkpoint alone serves DV masks and stats pruning (the scan
    // opens fewer files than the snapshot). Oracle: the mask + band
    // algebra replayed over the source table.
    Q("q251_ckpt_parquet",
      Some("""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
             |b AS (SELECT 'band' AS leg, o_orderpriority, count(*) AS n
             |      FROM orders, m
             |      WHERE o_orderkey BETWEEN mx//4 AND mx//2
             |      GROUP BY o_orderpriority),
             |l AS (SELECT 'live' AS leg, 'ALL' AS o_orderpriority,
             |        count(*) AS n
             |      FROM orders, m WHERE o_orderkey > mx//10)
             |SELECT * FROM b UNION ALL SELECT * FROM l
             |ORDER BY leg, o_orderpriority""".stripMargin),
      (s, d) => {
        import s.implicits._
        val root = WorkDirs.cached("graft_ckpq_", s"q251:$d")
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        if (TimeTravel.currentVersion(root) < 0) {
          val old = TimeTravel.CkptParquetMinLines
          TimeTravel.CkptParquetMinLines = 0 // force the parquet format
          try {
            TimeTravel.commitClustered(s, root, orders3(s, d),
              "o_orderkey", 8)
            TimeTravel.deleteVectorWhere(s, root, "o_orderkey", 0L, mx / 10)
            val v = TimeTravel.currentVersion(root)
            TimeTravel.checkpoint(root, v)
            require(new java.io.File(s"$root/_graft_log/$v.ckpt.parquet")
              .isDirectory, "q251: no parquet sidecar directory")
            val manifest = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"$root/_graft_log/$v.ckpt.json")),
              "UTF-8")
            require(manifest.contains(""""format":["parquet"]""") &&
              manifest.contains("ckpt-parquet") &&
              !manifest.contains(""""files":"""),
              "q251: the manifest still inlines the O(files) payload")
            TimeTravel.expireHistory(root, v)
          } finally TimeTravel.CkptParquetMinLines = old
        }
        val v = TimeTravel.currentVersion(root)
        require(TimeTravel.resolveSnapshot(root, v)._2 == 0,
          "q251: resolution parsed tail commits past the checkpoint")
        val band = TimeTravel.readAsOfWhere(s, root, v, "o_orderkey",
          mx / 4, mx / 2)
        require(band.inputFiles.length < 8,
          "q251: stats pruning lost through the parquet checkpoint")
        val bandLeg = prioAgg(band)
          .select(lit("band").as("leg"), col("o_orderpriority"), col("n"))
        val liveLeg = Seq(("live", "ALL",
          TimeTravel.readAsOf(s, root, v).count()))
          .toDF("leg", "o_orderpriority", "n")
        bandLeg.unionByName(liveLeg).orderBy("leg", "o_orderpriority")
      }),

    // Q250 ANALYZE → CBO JOIN REORDER (r18 verdict stretch — ANALYZE
    // TABLE … FOR COLUMNS over the commit log): `graft_analyze` records
    // ONE per-file HLL sketch per column in the log (distributed
    // single-pass agg, cost ∝ the snapshot once; checkpoint-folded like
    // every per-file metadatum), the DSv2 scan unions exactly the
    // PRUNED files' sketches into `columnStats`, and with CBO on
    // Catalyst's cost-based join reorder moves the SELECTIVE dimension
    // under the fact first — required inline: the optimized plan joins
    // the unique-key dim BEFORE the syntactically-earlier fan-out dim,
    // the same query with CBO off keeps the (bad) syntactic order, and
    // the fan-out key's distinctCount reaches catalyst attributeStats.
    // Oracle: the join algebra replayed as a closed-form aggregate.
    Q("q250_ndv_cbo_reorder",
      Some("""SELECT o_orderpriority, 40 * count(*) AS n
             |FROM orders WHERE o_custkey % 97 = 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val wh = WorkDirs.cached("graft_ndv_", s"q250:$d")
        val fact = s"$wh/fact"
        val dup = s"$wh/fan"
        val uniq = s"$wh/sel"
        graft.GraftFunctions.register(s)
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        if (TimeTravel.currentVersion(fact) < 0) {
          TimeTravel.commit(s, fact, o)
          // SAME row count either dim — only NDV tells the joins apart:
          // fan: 40 rows per priority (join fans out ×40); sel: one row
          // per eligible custkey (join selects)
          TimeTravel.commit(s, dup,
            o.select(col("o_orderpriority").as("p_key")).distinct()
              .crossJoin(s.range(40).toDF("p_seq"))
              .select(col("p_key"), col("p_seq")))
          TimeTravel.commit(s, uniq,
            o.select(col("o_custkey").as("c_key"))
              // % 97: a handful of rows at every SF (1 / 15 / 154) —
              // always fewer than the fan dim's 200, which is where the
              // DP search stops preferring the syntactic order
              .filter(col("c_key") % 97 === 0).distinct()
              .withColumn("c_tag", col("c_key") % 7))
          Seq(fact -> "o_custkey,o_orderpriority", dup -> "p_key",
            uniq -> "c_key").foreach { case (r, cs) =>
            s.sql(s"SELECT * FROM graft_analyze('$r', '$cs')").collect()
          }
        }
        withConfs(s,
          "spark.sql.catalog.gcat250" -> CatalogClass,
          "spark.sql.catalog.gcat250.warehouse" -> wh,
          "spark.sql.cbo.enabled" -> "true",
          "spark.sql.cbo.joinReorder.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          // the NDV surface: the fan-out key's distinct count reaches
          // catalyst attributeStats off the scan's column stats
          val fstats = s.sql("SELECT * FROM gcat250.fact")
            .queryExecution.optimizedPlan.stats
          val prioNdv = fstats.attributeStats.toSeq.collectFirst {
            case (a, cs) if a.name == "o_orderpriority" => cs.distinctCount
          }.flatten
          require(prioNdv.exists(n => n >= 4 && n <= 6),
            s"q250: NDV did not reach attributeStats: $prioNdv")
          val sql =
            """SELECT f.o_orderpriority, count(*) AS n
              |FROM gcat250.fact f
              |JOIN gcat250.fan b ON f.o_orderpriority = b.p_key
              |JOIN gcat250.sel u ON f.o_custkey = u.c_key
              |GROUP BY f.o_orderpriority""".stripMargin
          def leafOrder(df: DataFrame): Seq[String] =
            df.queryExecution.optimizedPlan.collectLeaves()
              .map(_.toString)
              .collect {
                case l if l.contains("gcat250.fan") => "fan"
                case l if l.contains("gcat250.sel") => "sel"
              }
          val q = s.sql(sql)
          require(leafOrder(q) == Seq("sel", "fan"),
            s"q250: CBO did not reorder the selective dim first: " +
              s"${leafOrder(q)}")
          // control: CBO off keeps the syntactic (fan-out-first) order
          val off = withConfs(s, "spark.sql.cbo.enabled" -> "false",
            "spark.sql.cbo.joinReorder.enabled" -> "false") {
            leafOrder(s.sql(sql))
          }
          require(off == Seq("fan", "sel"),
            s"q250: the CBO-off control already reordered: $off")
          q.orderBy("o_orderpriority")
        }
      })
  )
}
