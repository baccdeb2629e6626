package graft

import org.apache.spark.sql.functions._

import graft.operators.TimeTravel

/** The q172–q175 lakehouse write-path ops: stats-pruned DELETE, nodata
  * compaction the change feed skips, metadata-only RESTORE, and bloom
  * point-lookup skipping. */
class LakehouseOpsSpec extends SparkSpec {

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_lh_spec_").toString + "/t"

  private def orders = Tables.table(spark, sf, "orders")
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  private def filesOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSet

  test("q172 delete: only stats-overlapping files rewrite; survivors and history intact") {
    val root = newRoot()
    val base = orders.limit(400)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 8)
    val before = filesOf(TimeTravel.readAsOf(spark, root, 0))
    assert(before.size === 8)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val lo = keys(keys.length / 2)
    val hi = keys(keys.length / 2 + keys.length / 8 - 1)
    val v = TimeTravel.deleteWhere(spark, root, "o_orderkey", lo, hi)
    assert(v === 1)
    val after = TimeTravel.readAsOf(spark, root, 1)
    val expect = base.filter(!col("o_orderkey").between(lo, hi))
    assert(after.count() === expect.count())
    assert(after.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
      === expect.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
    assert(after.filter(col("o_orderkey").between(lo, hi)).count() === 0)
    // file-level pruning: a middle-eighth range overlaps ≤3 of 8 clusters,
    // so ≥5 files keep their physical names in the new snapshot
    val kept = before.intersect(filesOf(after))
    assert(before.size - kept.size <= 3,
      s"delete rewrote ${before.size - kept.size} of 8 clustered files")
    // the pre-delete snapshot still reads every row
    assert(TimeTravel.readAsOf(spark, root, 0).count() === 400)
    // a delete touching nothing is a metadata no-op
    assert(TimeTravel.deleteWhere(spark, root, "o_orderkey",
      -100L, -50L) === 1)
    // the rewrite recorded fresh stats: a range read over the deleted
    // span scans at most the boundary files
    val scanned = filesOf(
      TimeTravel.readAsOfWhere(spark, root, 1, "o_orderkey", lo, hi))
    assert(scanned.size <= 3, s"post-delete stats lost: scanned $scanned")
  }

  test("q173 compact: rows unchanged, file count shrinks, change feed skips the nodata commit") {
    val root = newRoot()
    val a = orders.filter(col("o_orderkey") % 3 === 1)
    val b = orders.filter(col("o_orderkey") % 3 === 2)
    TimeTravel.commit(spark, root, a.repartition(3))
    TimeTravel.commit(spark, root, b.repartition(3))
    assert(filesOf(TimeTravel.readAsOf(spark, root, 1)).size === 6)
    val v = TimeTravel.compact(spark, root, 1)
    assert(v === 2)
    val compacted = TimeTravel.readAsOf(spark, root, 2)
    assert(filesOf(compacted).size === 1)
    assert(compacted.count() === a.count() + b.count())
    // compacting an already-compact table is a no-op
    assert(TimeTravel.compact(spark, root, 1) === 2)
    // history still reads the retired files
    assert(TimeTravel.readAsOf(spark, root, 0).count() === a.count())
    // a post-compaction append, then the change feed across EVERYTHING:
    // the nodata commit is skipped, the delta is the three real appends
    val c = orders.filter(col("o_orderkey") % 3 === 0)
    TimeTravel.commit(spark, root, c)
    val delta = TimeTravel.readChangesSince(spark, root, 0, 3)
    assert(delta.count() === b.count() + c.count())
    // and the skipped compaction's files are NOT in the delta's scan
    val compactedFiles = filesOf(compacted).diff(
      filesOf(TimeTravel.readAsOf(spark, root, 1)))
    assert(filesOf(delta).intersect(compactedFiles).isEmpty,
      "change feed read the compaction's rewritten files")
  }

  test("q174 restore: metadata-only rollback; history and schema roll back together") {
    val root = newRoot()
    val even = orders.filter(col("o_orderkey") % 2 === 0)
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
    TimeTravel.commit(spark, root, even)
    // gen 1 appends under an EVOLVED schema (added column)
    TimeTravel.commit(spark, root, odd.withColumn("o_flag", lit(1L)))
    val dataFiles0 = new java.io.File(s"$root/data").listFiles().length
    val v = TimeTravel.restore(spark, root, 0)
    assert(v === 2)
    // metadata-only: not a single data file was written
    assert(new java.io.File(s"$root/data").listFiles().length === dataFiles0)
    val post = TimeTravel.readAsOf(spark, root, 2)
    assert(post.count() === even.count())
    assert(post.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
      === even.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
    // the restored snapshot presents gen 0's schema (o_flag rolled back)
    assert(!post.columns.contains("o_flag"),
      "restore kept the superseded generation's schema")
    // the in-between generation is still readable
    assert(TimeTravel.readAsOf(spark, root, 1).count() ===
      even.count() + odd.count())
    // vacuum keeps every committed file — restore re-references them
    assert(TimeTravel.vacuum(root).isEmpty)
    // the change feed refuses a range crossing the restore (its removes
    // are rewritten history, not a row delta)
    val e = intercept[IllegalArgumentException] {
      TimeTravel.readChangesSince(spark, root, 0, 2)
    }
    assert(e.getMessage.contains("remove-commits"))
  }

  test("q175 bloom lookup: present keys open their file only; absent keys open none") {
    val root = newRoot()
    val base = orders.limit(400)
    TimeTravel.commitBloomed(spark, root, base, "o_orderkey", 8)
    assert(filesOf(TimeTravel.readAsOf(spark, root, 0)).size === 8)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    // a single present key: exact row back, ≤2 files opened (1 + ~1% fp)
    val k0 = keys(keys.length / 3)
    val hit = TimeTravel.readAsOfKeys(spark, root, 0, "o_orderkey", Seq(k0))
    assert(hit.count() === 1)
    assert(hit.head().getLong(0) === k0)
    assert(filesOf(hit).size <= 2,
      s"bloom pruning opened ${filesOf(hit).size} of 8 files for one key")
    // an absent key: zero rows, and (allowing one false positive) ≤1 file
    val ghost = keys.last + 987654321L
    val miss = TimeTravel.readAsOfKeys(spark, root, 0, "o_orderkey", Seq(ghost))
    assert(miss.count() === 0)
    assert(filesOf(miss).size <= 1,
      "an absent key opened multiple files — bloom index not consulted")
    // a multi-key lookup matches the unpruned filter exactly
    val some = Seq(keys(5), keys(100), keys(333), ghost)
    val got = TimeTravel.readAsOfKeys(spark, root, 0, "o_orderkey", some)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(keys(5), keys(100), keys(333)).sorted)
    // an appended commit WITHOUT blooms stays conservatively scannable
    TimeTravel.commit(spark, root,
      base.filter(col("o_orderkey") === k0)
        .withColumn("o_orderkey", col("o_orderkey") + 777000000L))
    val afterAppend = TimeTravel.readAsOfKeys(spark, root, 1, "o_orderkey",
      Seq(k0 + 777000000L))
    assert(afterAppend.count() === 1,
      "a bloom-less appended file was skipped — pruning must be conservative")
  }

  test("q178 txn commits: a replayed version is skipped; a newer one lands") {
    val root = newRoot()
    val a = orders.filter(col("o_orderkey") % 2 === 0)
    assert(TimeTravel.commitTxn(spark, root, a, "app1", 0L) === 0)
    assert(TimeTravel.lastTxnVersion(root, "app1") === Some(0L))
    // the replay: same appId, same version — nothing lands
    assert(TimeTravel.commitTxn(spark, root, a, "app1", 0L) === 0)
    assert(TimeTravel.currentVersion(root) === 0)
    assert(TimeTravel.readAsOf(spark, root, 0).count() === a.count(),
      "a replayed txn duplicated rows")
    // an OLDER version is also a skip (out-of-order replay)
    assert(TimeTravel.commitTxn(spark, root, a, "app1", -5L) === 0)
    // a newer version commits; a different appId tracks independently
    val b = orders.filter(col("o_orderkey") % 2 === 1)
    assert(TimeTravel.commitTxn(spark, root, b, "app1", 1L) === 1)
    assert(TimeTravel.commitTxn(spark, root, b.limit(3), "app2", 0L) === 2)
    assert(TimeTravel.lastTxnVersion(root, "app1") === Some(1L))
    assert(TimeTravel.lastTxnVersion(root, "app2") === Some(0L))
    assert(TimeTravel.lastTxnVersion(root, "app3") === None)
  }

  test("q178 streaming replication: restart with a forced replay stays exactly-once") {
    val src = newRoot()
    val dst = newRoot()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_lh_txn_ckpt_").toString
    TimeTravel.commit(spark, src, orders.filter(col("o_orderkey") % 2 === 0))
    def replicate(): Unit = {
      val q = spark.readStream
        .format("graft.sources.cdf.CdfDataSource")
        .option("startingGen", -1).option("maxGensPerTrigger", 1)
        .load(src)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, epoch: Long) =>
          TimeTravel.commitTxn(spark, dst, df, "repl", epoch)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    replicate()
    val afterFirst = TimeTravel.readAsOf(spark, dst,
      TimeTravel.currentVersion(dst)).count()
    assert(afterFirst === orders.filter(col("o_orderkey") % 2 === 0).count())
    // source grows; restarted stream replicates ONLY the delta — and a
    // manually replayed old epoch between the runs must be a no-op
    TimeTravel.commit(spark, src, orders.filter(col("o_orderkey") % 2 === 1))
    TimeTravel.commitTxn(spark, dst, orders.limit(7), "repl", 0L) // replay
    replicate()
    val finalCount = TimeTravel.readAsOf(spark, dst,
      TimeTravel.currentVersion(dst)).count()
    assert(finalCount === orders.count(),
      s"replication drifted: $finalCount vs ${orders.count()}")
  }

  test("q179 shallow clone: metadata only, pruning carried, logs fully independent") {
    val src = newRoot()
    val dst = newRoot()
    val base = orders.limit(400)
    TimeTravel.commitClustered(spark, src, base, "o_orderkey", 8)
    TimeTravel.shallowClone(spark, src, dst)
    // not one data file copied
    assert(!new java.io.File(s"$dst/data").exists() ||
      new java.io.File(s"$dst/data").listFiles().isEmpty)
    // the clone reads the source snapshot exactly
    assert(TimeTravel.readAsOf(spark, dst, 0).count() === 400)
    // carried stats keep pruning on the CLONE
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val lo = keys(keys.length / 2)
    val hi = keys(keys.length / 2 + keys.length / 8 - 1)
    val pruned = TimeTravel.readAsOfWhere(spark, dst, 0, "o_orderkey", lo, hi)
    assert(pruned.count() ===
      base.filter(col("o_orderkey").between(lo, hi)).count())
    assert(filesOf(pruned).size <= 3,
      s"clone lost the source's stats: scanned ${filesOf(pruned).size} of 8")
    // independence, clone → source: an append to the clone
    TimeTravel.commit(spark, dst,
      base.limit(50).withColumn("o_orderkey", col("o_orderkey") + 700000000L))
    assert(TimeTravel.readAsOf(spark, dst, 1).count() === 450)
    assert(TimeTravel.currentVersion(src) === 0,
      "cloning or appending to the clone mutated the source's log")
    assert(TimeTravel.readAsOf(spark, src, 0).count() === 400)
    // independence, source → clone: an append to the source
    TimeTravel.commit(spark, src,
      base.limit(30).withColumn("o_orderkey", col("o_orderkey") + 600000000L))
    assert(TimeTravel.readAsOf(spark, dst,
      TimeTravel.currentVersion(dst)).count() === 450,
      "a source append leaked into the clone's snapshot")
    // vacuum on the clone deletes nothing it references
    assert(TimeTravel.vacuum(dst).isEmpty)
    assert(TimeTravel.readAsOf(spark, dst, 1).count() === 450)
    // cloning onto an existing table is an explicit error
    val e = intercept[IllegalArgumentException] {
      TimeTravel.shallowClone(spark, src, dst)
    }
    assert(e.getMessage.contains("already has a commit log"))
  }

  test("q180 history: versions, row counts, and flags read back exactly") {
    val root = newRoot()
    val a = orders.filter(col("o_orderkey") % 3 === 1)
    val b = orders.filter(col("o_orderkey") % 3 === 2)
    TimeTravel.commit(spark, root, a)
    TimeTravel.commit(spark, root, b)
    TimeTravel.compact(spark, root, 1)
    val h = TimeTravel.history(spark, root).orderBy("version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq === Seq(0L, 1L, 2L))
    assert(h(0).getAs[Long]("n_rows") === a.count())
    assert(h(1).getAs[Long]("n_rows") === b.count())
    assert(h(2).getAs[Long]("n_rows") === a.count() + b.count())
    assert(h(2).getAs[String]("flags") === "nodata")
    assert(h(0).getAs[String]("flags") === "")
    // the in-commit timestamp column: strictly increasing, real epochs
    assert(h.map(_.getAs[Long]("ts")).sliding(2).forall(p => p(0) < p(1)))
    assert(h(0).getAs[Long]("ts") > 1500000000000L)
    // n_added/n_removed are file counts: the compaction added 1, removed
    // what the two appends wrote
    assert(h(2).getAs[Long]("n_added") === 1L)
    assert(h(2).getAs[Long]("n_removed") ===
      h(0).getAs[Long]("n_added") + h(1).getAs[Long]("n_added"))
    // and the TVF surface returns the same rows
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT version, n_rows, flags FROM graft_history('$root') ORDER BY version")
      .collect()
    assert(viaSql.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(viaSql.map(_.getLong(1)).toSeq ===
      Seq(a.count(), b.count(), a.count() + b.count()))
  }

  test("q181 partition pruning: an equality read opens only the value's files") {
    val root = newRoot()
    TimeTravel.commitPartitioned(spark, root, orders, "o_orderpriority")
    val all = TimeTravel.readAsOf(spark, root, 0)
    assert(all.count() === orders.count())
    val nFiles = filesOf(all).size
    assert(nFiles >= 5, s"expected ≥5 partition files, got $nFiles")
    val value = "3-MEDIUM"
    val hit = TimeTravel.readAsOfValue(spark, root, 0, "o_orderpriority", value)
    val expect = orders.filter(col("o_orderpriority") === value)
    assert(hit.count() === expect.count())
    assert(hit.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
      === expect.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
    // pruning: only the value's own files are opened
    assert(filesOf(hit).size < nFiles,
      "equality read scanned every partition file")
    assert(filesOf(hit).size <= 2,
      s"one value mapped to ${filesOf(hit).size} files")
    // an unknown value reads nothing
    assert(TimeTravel.readAsOfValue(spark, root, 0, "o_orderpriority",
      "9-NOPE").count() === 0)
    // an appended UNPARTITIONED commit stays conservatively scannable
    TimeTravel.commit(spark, root, orders.limit(10))
    val after = TimeTravel.readAsOfValue(spark, root, 1, "o_orderpriority", value)
    assert(after.count() >= expect.count(),
      "a value-less appended file was skipped — pruning must be conservative")
  }

  test("q185 z-order: BOTH dimensions prune; single-column clustering serves only its own") {
    val ordersWide = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    val zRoot = newRoot()
    TimeTravel.commitZOrderedN(spark, zRoot, ordersWide,
      Seq("o_orderkey", "o_custkey"), 16)
    val nFiles = filesOf(TimeTravel.readAsOf(spark, zRoot, 0)).size
    assert(nFiles >= 12, s"z-order staged only $nFiles files")
    val mxK = ordersWide.agg(max("o_orderkey")).head().getLong(0)
    val mxC = ordersWide.agg(max("o_custkey")).head().getLong(0)
    // a middle-band range on EACH dimension prunes
    val byKey = TimeTravel.readAsOfWhere(spark, zRoot, 0, "o_orderkey",
      mxK / 4, mxK / 2)
    val byCust = TimeTravel.readAsOfWhere(spark, zRoot, 0, "o_custkey",
      mxC / 4, mxC / 2)
    assert(byKey.count() === ordersWide
      .filter(col("o_orderkey").between(mxK / 4, mxK / 2)).count())
    assert(byCust.count() === ordersWide
      .filter(col("o_custkey").between(mxC / 4, mxC / 2)).count())
    val scanKey = filesOf(byKey).size
    val scanCust = filesOf(byCust).size
    assert(scanKey < nFiles && scanKey <= 9,
      s"z-order did not prune on dim 1: $scanKey of $nFiles")
    assert(scanCust < nFiles && scanCust <= 9,
      s"z-order did not prune on dim 2: $scanCust of $nFiles")
    // contrast: clustering on o_orderkey ALONE cannot prune a custkey range
    val linRoot = newRoot()
    TimeTravel.commitClustered(spark, linRoot, ordersWide, "o_orderkey", 16)
    val linCust = filesOf(TimeTravel.readAsOfWhere(spark, linRoot, 0,
      "o_custkey", mxC / 4, mxC / 2)).size
    assert(linCust > scanCust,
      s"single-column clustering pruned a foreign range ($linCust vs $scanCust)")
    // OPTIMIZE … ZORDER BY re-clusters that table in a nodata commit:
    // rows unchanged, the custkey range now prunes, change feeds skip it
    val zv = TimeTravel.compactZOrderedN(spark, linRoot,
      Seq("o_orderkey", "o_custkey"), 16)
    assert(TimeTravel.readAsOf(spark, linRoot, zv).count()
      === ordersWide.count())
    val zCust = filesOf(TimeTravel.readAsOfWhere(spark, linRoot, zv,
      "o_custkey", mxC / 4, mxC / 2)).size
    assert(zCust <= 9, s"zorder compaction did not restore pruning: $zCust")
    assert(TimeTravel.readChangesSince(spark, linRoot, 0, zv).count() === 0,
      "the zorder compaction leaked into the change feed")
  }

  test("q231 merge-on-read UPDATE: masks + appends only, composes with DV deletes, compact materializes") {
    val o = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, o, "o_orderkey", 8)
    val mx = o.agg(max("o_orderkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    // a PRIOR DV delete inside the band: those rows are dead and must
    // neither update nor resurrect
    val (dlo, dhi) = (lo, lo + (hi - lo) / 4)
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", dlo, dhi)
    val v1Files = TimeTravel.resolveSnapshot(root, 1)._1.toSet
    val v = TimeTravel.updateVectorWhere(spark, root, "o_orderkey",
      lo, hi, "o_totalprice", col("o_totalprice") * 2)
    assert(v === 2)
    // merge-on-read: every pre-update file survives; the commit only ADDS
    val v2Files = TimeTravel.resolveSnapshot(root, 2)._1.toSet
    assert(v1Files.subsetOf(v2Files), "the DV update retired files")
    assert((v2Files -- v1Files).nonEmpty, "no updated rows were appended")
    // values: survivors of the delete get doubled inside the band,
    // deleted rows stay gone, everything else untouched
    val live = o.filter(!col("o_orderkey").between(dlo, dhi))
    val expect = live.withColumn("o_totalprice",
      when(col("o_orderkey").between(lo, hi), col("o_totalprice") * 2)
        .otherwise(col("o_totalprice")))
    val got = TimeTravel.readAsOf(spark, root, 2)
    assert(got.count() === expect.count())
    assert(got.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .head().get(0) ===
      expect.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
        .head().get(0))
    // the appended files carry exact band stats: a band read still
    // prunes AND sees the updated values
    val band = TimeTravel.readAsOfWhere(spark, root, 2, "o_orderkey",
      lo, hi)
    assert(band.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .head().get(0) ===
      expect.filter(col("o_orderkey").between(lo, hi))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
    // pre-update snapshots read their own state
    assert(TimeTravel.readAsOf(spark, root, 0).count() === o.count())
    // updating the band column itself refuses (the appended stats would
    // lie); copy-on-write updateWhere is the documented route
    val e = intercept[IllegalArgumentException] {
      TimeTravel.updateVectorWhere(spark, root, "o_orderkey", lo, hi,
        "o_orderkey", col("o_orderkey") + 1L)
    }
    assert(e.getMessage.contains("copy-on-write"))
    // OPTIMIZE materializes the masks away; rows and values survive
    val cv = TimeTravel.compact(spark, root, 2)
    val after = TimeTravel.readAsOf(spark, root, cv)
    assert(after.count() === expect.count())
    assert(after.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .head().get(0) ===
      expect.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
        .head().get(0))
  }

  test("q233 graft_reorg: purges only mask-heavy files, rows unchanged, change feeds skip, re-run no-op") {
    GraftFunctions.register(spark)
    val o = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .limit(800)
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, o, "o_orderkey", 8)
    val keys = o.select("o_orderkey").collect().map(_.getLong(0)).sorted
    // saturate the first cell (~100% masked), graze the second (~20%)
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey",
      keys(0), keys(99))
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey",
      keys(100), keys(119))
    val before = TimeTravel.snapshotFiles(root, 2).toSet
    // EXPLAIN purges nothing (lazy maintenance verb)
    spark.sql(s"EXPLAIN SELECT * FROM graft_reorg('$root', 50)").collect()
    assert(TimeTravel.currentVersion(root) === 2)
    val rep = spark.sql(s"SELECT * FROM graft_reorg('$root', 50)").head()
    assert(rep.getLong(0) === 3L, s"reorg version: $rep")
    assert(rep.getLong(1) >= 1L && rep.getLong(1) <= 2L,
      s"purged-file count out of range: $rep")
    val after = TimeTravel.snapshotFiles(root, 3).toSet
    // only the saturated file(s) were rewritten; the grazed cell keeps
    // its physical file AND its (cheap) mask
    assert((before -- after).size === rep.getLong(1))
    val liveDvs = TimeTravel.dvsFor(root, 3).keySet.intersect(after)
    assert(liveDvs.nonEmpty, "the lightly-masked file lost its mask")
    assert(liveDvs.forall(before), "a purged file kept a mask")
    // rows unchanged through the purge
    val expect = o.filter(!col("o_orderkey").between(keys(0), keys(99)) &&
      !col("o_orderkey").between(keys(100), keys(119)))
    assert(TimeTravel.readAsOf(spark, root, 3).count() === expect.count())
    assert(TimeTravel.readAsOf(spark, root, 3)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
      === expect.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
        .head().get(0))
    // the nodata purge commit is invisible to change feeds
    assert(TimeTravel.readChangesSince(spark, root, 2, 3).count() === 0L)
    // idempotent: nothing left above the threshold
    val rep2 = spark.sql(s"SELECT * FROM graft_reorg('$root', 50)").head()
    assert(rep2.getLong(0) === 3L && rep2.getLong(1) === 0L,
      s"re-run was not a no-op: $rep2")
  }

  test("q188 deletion vectors: no file rewrites, deletes union, compact materializes, restore rolls back") {
    val o = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, o, "o_orderkey", 8)
    val v0 = TimeTravel.resolveSnapshot(root, 0)._1
    val mx = o.agg(max("o_orderkey")).head().getLong(0)
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", mx / 4, mx / 2)
    // NOT ONE data file rewritten: the new snapshot lists the same names
    assert(TimeTravel.resolveSnapshot(root, 1)._1 === v0)
    val expect1 = o.filter(!col("o_orderkey").between(mx / 4, mx / 2)).count()
    assert(TimeTravel.readAsOf(spark, root, 1).count() === expect1)
    // the pre-delete snapshot still reads unmasked
    assert(TimeTravel.readAsOf(spark, root, 0).count() === o.count())
    // a second, overlapping delete UNIONS into fresh immutable sidecars
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey",
      mx / 3, mx * 2 / 3)
    val expect2 = o
      .filter(!col("o_orderkey").between(mx / 4, mx / 2) &&
        !col("o_orderkey").between(mx / 3, mx * 2 / 3)).count()
    assert(TimeTravel.readAsOf(spark, root, 2).count() === expect2)
    // the stats-pruned range read applies the mask too
    assert(TimeTravel.readAsOfWhere(spark, root, 2, "o_orderkey", 0L, mx)
      .count() === expect2)
    // change feeds refuse a range crossing a DV commit (rewritten history)
    val e = intercept[Exception] {
      TimeTravel.readChangesSince(spark, root, 0, 2).count()
    }
    assert(e.getMessage.contains("deletion-vector"))
    // OPTIMIZE reads THROUGH the vectors: the compacted snapshot has the
    // masked rows materialized away and no live file carries a vector
    val v3 = TimeTravel.compact(spark, root, 2)
    assert(TimeTravel.readAsOf(spark, root, v3).count() === expect2)
    val live = TimeTravel.resolveSnapshot(root, v3)._1.toSet
    assert(TimeTravel.dvsFor(root, v3).keySet.intersect(live).isEmpty,
      "compaction left live files masked")
    // RESTORE to the unmasked generation brings every row back
    val v4 = TimeTravel.restore(spark, root, 0)
    assert(TimeTravel.readAsOf(spark, root, v4).count() === o.count())
  }

  test("q191 CDF: DML writes change files; the feed replays exactly; off-mode refuses") {
    val o = orders.limit(400)
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, o, "o_orderkey", 4) // v0
    val mx = o.agg(max("o_orderkey")).head().getLong(0)
    // CDF OFF: a rewrite commit is not row-reconstructible — loud refusal
    TimeTravel.deleteWhere(spark, root, "o_orderkey", 0L, mx / 8) // v1
    val eOff = intercept[IllegalArgumentException] {
      TimeTravel.readRowChanges(spark, root, -1,
        TimeTravel.currentVersion(root)).count()
    }
    assert(eOff.getMessage.contains("CDF"))
    // enable (v2), then DELETE (v3) and UPDATE (v4) under the feed
    TimeTravel.setProperty(spark, root, "graft.enableChangeDataFeed", "true")
    val nDel = TimeTravel.readAsOf(spark, root, 2)
      .filter(col("o_orderkey").between(mx / 4, mx / 2)).count()
    TimeTravel.deleteWhere(spark, root, "o_orderkey", mx / 4, mx / 2)
    val nUpd = TimeTravel.readAsOf(spark, root, 3)
      .filter(col("o_orderkey").between(mx / 2 + 1, 3 * mx / 4)).count()
    TimeTravel.updateWhere(spark, root, "o_orderkey", mx / 2 + 1, 3 * mx / 4,
      "o_totalprice", col("o_totalprice") * 2)
    val feed = TimeTravel.readRowChanges(spark, root, 2, 4)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("delete" -> nDel,
      "update_preimage" -> nUpd, "update_postimage" -> nUpd))
    // versions tag correctly and post-images carry the new values
    assert(feed.filter(col("_change_type") === "delete")
      .select("_commit_version").distinct().collect().map(_.getInt(0)).toSeq
      === Seq(3))
    val preSum = feed.filter(col("_change_type") === "update_preimage")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
    val postSum = feed.filter(col("_change_type") === "update_postimage")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
    assert(postSum === preSum.add(preSum))
    // props fold: last write wins, earlier generations see earlier values
    TimeTravel.setProperty(spark, root, "graft.enableChangeDataFeed", "false")
    assert(!TimeTravel.cdfEnabled(root, TimeTravel.currentVersion(root)))
    assert(TimeTravel.cdfEnabled(root, 4))
    // live change files are never vacuumable
    assert(TimeTravel.vacuum(root).isEmpty)
  }

  test("q191 CDF: merge emits pre/post/insert; DV deletes emit only newly-masked rows") {
    val o = orders.limit(300)
    // merge leg
    val mroot = newRoot()
    TimeTravel.commitBucketed(spark, mroot, o, "o_orderkey", 4)
    TimeTravel.setProperty(spark, mroot, "graft.enableChangeDataFeed", "true")
    val keys = o.select("o_orderkey").orderBy("o_orderkey").limit(10)
      .collect().map(_.getLong(0)).toSeq
    val mx = o.agg(max("o_orderkey")).head().getLong(0)
    val source = o.filter(col("o_orderkey").isin(keys: _*))
      .withColumn("o_totalprice", col("o_totalprice") * 3)
      .unionByName(o.limit(5)
        .withColumn("o_orderkey", col("o_orderkey") + lit(mx + 1000)))
    val mv = TimeTravel.mergeInto(spark, mroot, source, "o_orderkey", 4)
    val mFeed = TimeTravel.readRowChanges(spark, mroot, mv - 1, mv)
    val mTypes = mFeed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mTypes === Map("update_preimage" -> 10L,
      "update_postimage" -> 10L, "insert" -> 5L))
    // DV leg: a second overlapping vector delete emits ONLY the newly
    // masked rows, never the already-deleted ones
    val droot = newRoot()
    TimeTravel.commitClustered(spark, droot, o, "o_orderkey", 4)
    TimeTravel.setProperty(spark, droot, "graft.enableChangeDataFeed", "true")
    val v1 = TimeTravel.deleteVectorWhere(spark, droot, "o_orderkey",
      mx / 4, mx / 2)
    val v2 = TimeTravel.deleteVectorWhere(spark, droot, "o_orderkey",
      mx / 4, 3 * mx / 4)
    val del1 = TimeTravel.readRowChanges(spark, droot, v1 - 1, v1)
      .filter(col("_change_type") === "delete").count()
    val del2 = TimeTravel.readRowChanges(spark, droot, v2 - 1, v2)
      .filter(col("_change_type") === "delete").count()
    assert(del1 === o.filter(col("o_orderkey").between(mx / 4, mx / 2)).count())
    assert(del2 ===
      o.filter(col("o_orderkey").between(mx / 2 + 1, 3 * mx / 4)).count(),
      "the second vector delete re-emitted already-masked rows")
  }

  test("q194 column mapping: rename/drop move no bytes; a re-added column never resurrects") {
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice")
      .limit(400)
    assert(TimeTravel.commit(spark, root, base) === 0)
    val physBefore = filesOf(TimeTravel.readAsOf(spark, root, 0))
    assert(TimeTravel.renameColumn(spark, root, "o_totalprice", "total_usd") === 1)
    // metadata-only: the snapshot's physical files are IDENTICAL
    assert(filesOf(TimeTravel.readAsOfMapped(spark, root, 1)) === physBefore)
    // the raw parquet still stores the OLD physical name
    val rawCols = spark.read
      .parquet(s"$root/data/${physBefore.head}").columns.toSet
    assert(rawCols.contains("o_totalprice") && !rawCols.contains("total_usd"))
    // the mapped snapshot presents the new logical name, values intact
    val m1 = TimeTravel.readAsOfMapped(spark, root, 1)
    assert(m1.columns.toSeq ===
      Seq("o_orderkey", "o_orderpriority", "o_custkey", "total_usd"))
    assert(m1.agg(sum(col("total_usd").cast("decimal(18,2)"))).head().get(0)
      === base.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
    // the OLD snapshot keeps the old name forever
    assert(TimeTravel.readAsOf(spark, root, 0).columns.contains("o_totalprice"))
    // appends go THROUGH the mapping: stored physical, read logical
    val extra = base.limit(50)
      .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
      .withColumnRenamed("o_totalprice", "total_usd")
    assert(TimeTravel.commit(spark, root, extra) === 2)
    val newFiles =
      filesOf(TimeTravel.readAsOfMapped(spark, root, 2)) -- physBefore
    assert(newFiles.nonEmpty)
    val newRaw = spark.read.parquet(s"$root/data/${newFiles.head}").columns.toSet
    assert(newRaw.contains("o_totalprice") && !newRaw.contains("total_usd"))
    assert(TimeTravel.readAsOfMapped(spark, root, 2).count() === 450)
    // DROP is metadata-only too; the re-ADD must read NULL everywhere
    assert(TimeTravel.dropColumnMapped(spark, root, "o_custkey") === 3)
    assert(!TimeTravel.readAsOfMapped(spark, root, 3).columns.contains("o_custkey"))
    assert(filesOf(TimeTravel.readAsOfMapped(spark, root, 3))
      === physBefore ++ newFiles)
    assert(TimeTravel.addColumnMapped(spark, root, "o_custkey", "BIGINT") === 4)
    val m4 = TimeTravel.readAsOfMapped(spark, root, 4)
    assert(m4.agg(count(col("o_custkey"))).head().getLong(0) === 0L,
      "re-added column resurrected dropped bytes")
    // new appends CAN carry the re-added column; only they show values
    assert(TimeTravel.commit(spark, root,
      extra.limit(20).withColumn("o_orderkey", col("o_orderkey") + 1000L)
        .withColumn("o_custkey", lit(7L))
        .select("o_orderkey", "o_orderpriority", "total_usd", "o_custkey")) === 5)
    assert(TimeTravel.readAsOfMapped(spark, root, 5)
      .agg(count(col("o_custkey"))).head().getLong(0) === 20L)
    // checkpoint folds the mapping: resolution from the ckpt base matches
    val cmBefore = TimeTravel.colmapAsOf(root, 5)
    assert(cmBefore.nonEmpty)
    TimeTravel.checkpoint(root)
    assert(TimeTravel.colmapAsOf(root, 5) === cmBefore)
    assert(TimeTravel.readAsOfMapped(spark, root, 5).count() === 470)
    // guards: duplicate target and missing source refuse loudly
    intercept[IllegalArgumentException](
      TimeTravel.renameColumn(spark, root, "total_usd", "o_orderkey"))
    intercept[IllegalArgumentException](
      TimeTravel.renameColumn(spark, root, "nope", "x"))
  }

  test("q195 generated partitions: a date-range filter prunes to its months from metadata") {
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_date"))
      .limit(2000)
    TimeTravel.commitPartitionedGeneratedMonth(spark, root, base, "o_date")
    val months = base.select(date_format(col("o_date"), "yyyy-MM"))
      .distinct().count()
    val allFiles = filesOf(TimeTravel.readAsOf(spark, root, 0))
    assert(allFiles.size === months, "expected one file per month")
    val mn = base.agg(min("o_date")).head().getDate(0).toLocalDate
    val (lo, hi) = (mn.plusDays(40).toString, mn.plusDays(99).toString)
    val pruned = TimeTravel.readAsOfBetweenDates(spark, root, 0, "o_date", lo, hi)
    // a ≤60-day window touches at most 3 calendar months
    assert(filesOf(pruned).size <= 3,
      s"generated-partition pruning opened ${filesOf(pruned).size} files")
    val expect = base.filter(col("o_date").between(lo, hi))
    assert(pruned.count() === expect.count())
    assert(pruned.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
      === expect.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
  }

  test("q196 incremental clustering: only the landed-in cells rewrite; pruning and rows survive") {
    val root = newRoot()
    val base = orders.limit(800)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val evens = base.filter(col("o_orderkey") % 2 === 0)
    TimeTravel.commitClustered(spark, root, evens, "o_orderkey", 8)
    val before = filesOf(TimeTravel.readAsOf(spark, root, 0))
    assert(before.size === 8)
    // the append lands in the LOW quarter of the key range only
    val cap = keys(keys.length / 4)
    val slice = base.filter(col("o_orderkey") % 2 === 1 &&
      col("o_orderkey") <= cap)
    assert(slice.count() > 0)
    TimeTravel.commit(spark, root, slice)
    val v = TimeTravel.compactClusteredIncremental(spark, root, "o_orderkey")
    assert(v === 2)
    val after = TimeTravel.readAsOf(spark, root, v)
    val expect = evens.unionByName(slice)
    assert(after.count() === expect.count())
    assert(after.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
      === expect.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
    // untouched cells keep their physical files: a low-quarter append
    // overlaps ≤3 of 8 cells (boundary slack)
    val kept = before.intersect(filesOf(after))
    assert(before.size - kept.size <= 3,
      s"incremental pass rewrote ${before.size - kept.size} of 8 cells")
    // the fold recorded fresh stats: a HIGH range read scans few files
    // and sees no folded row (they are all low keys)
    val hiRange = TimeTravel.readAsOfWhere(spark, root, v, "o_orderkey",
      keys(keys.length / 2), keys(keys.length - 1))
    assert(filesOf(hiRange).size <= 6)
    // nothing fresh: a second pass is a metadata no-op
    assert(TimeTravel.compactClusteredIncremental(spark, root, "o_orderkey") === v)
    // passes COMPOSE: a second narrow append (high range) folds in too
    val cap2 = keys(3 * keys.length / 4)
    val slice2 = base.filter(col("o_orderkey") % 2 === 1 &&
      col("o_orderkey") > cap2)
    TimeTravel.commit(spark, root, slice2)
    val v2 = TimeTravel.compactClusteredIncremental(spark, root, "o_orderkey")
    val all2 = TimeTravel.readAsOf(spark, root, v2)
    assert(all2.count() === expect.count() + slice2.count())
    // the nodata fold is invisible to the change feed: the delta of
    // (v, v2] is exactly the appended slice
    assert(TimeTravel.readChangesSince(spark, root, v, v2).count()
      === slice2.count())
  }

  test("q172–q196 declared queries run green at the spec's scale factor") {
    Seq("q172_log_delete", "q173_log_compaction", "q174_log_restore",
      "q175_log_bloom_lookup", "q178_log_txn_stream", "q179_shallow_clone",
      "q180_log_history", "q181_log_partition_pruning",
      "q185_log_zorder", "q186_batch_changes", "q187_time_travel_ts",
      "q188_deletion_vectors", "q189_check_constraints",
      "q190_log_update", "q191_row_change_feed",
      "q192_stream_row_changes", "q193_log_stream_sink",
      "q194_column_mapping", "q195_generated_partitions",
      "q196_incremental_clustering").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
