package graft

import org.apache.spark.sql.functions._

import graft.operators.TimeTravel

/** The commit-log snapshot protocol (q157, r11 verdict #4): AS-OF reads
  * resolve files from the log only, generations are immutable, committers
  * race safely, vacuum removes only unreferenced files. */
class TimeTravelSpec extends SparkSpec {

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_ttl_spec_").toString + "/t"

  private def orders = Tables.table(spark, sf, "orders")
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  test("AS-OF reads ignore later generations' files and planted orphans") {
    val root = newRoot()
    val gen0 = orders.filter(col("o_orderkey") % 3 =!= 0)
    assert(TimeTravel.commit(spark, root, gen0) === 0)
    val asOf0Before = TimeTravel.readAsOf(spark, root, 0).count()
    assert(asOf0Before === gen0.count())
    // later generation + an orphan no commit references
    assert(TimeTravel.commit(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0)) === 1)
    orders.limit(10).write.mode("overwrite").parquet(s"$root/tmp_orphan")
    new java.io.File(s"$root/tmp_orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).take(1).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$root/data/orphan-${f.getName}"))
      }
    // gen 0's snapshot is unchanged by both arrivals; current sees all
    assert(TimeTravel.readAsOf(spark, root, 0).count() === asOf0Before)
    assert(TimeTravel.readAsOf(spark, root, 1).count() === orders.count())
    // a generation that never existed is an explicit error, not a guess
    val e = intercept[IllegalArgumentException] {
      TimeTravel.readAsOf(spark, root, 7)
    }
    assert(e.getMessage.contains("generation 7"))
  }

  test("a remove-commit retires files from later snapshots only") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(100))
    val v0Files = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSeq
    // compaction: rewrite generation 0's content into one commit that
    // both adds the compacted file and removes the originals
    TimeTravel.commit(spark, root,
      TimeTravel.readAsOf(spark, root, 0).coalesce(1), removed = v0Files)
    // the old snapshot still reads the old files; the new one only the new
    assert(TimeTravel.readAsOf(spark, root, 0).count() === 100)
    assert(TimeTravel.readAsOf(spark, root, 1).count() === 100)
    val v1Files = TimeTravel.readAsOf(spark, root, 1)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSeq
    assert(v1Files.intersect(v0Files).isEmpty,
      "the compacted snapshot still reads retired files")
  }

  test("racing committers claim distinct versions; both commits land") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(10))
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 3).map { i =>
      new Thread(() => {
        versions.add(TimeTravel.commit(spark, root,
          orders.filter(col("o_orderkey") % 3 === i % 3).limit(20)))
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.toSet === Set(1, 2, 3),
      s"optimistic commit retry failed: ${versions.asScala.toSeq.sorted}")
    assert(TimeTravel.currentVersion(root) === 3)
    // every commit's rows are present in the final snapshot
    assert(TimeTravel.readAsOf(spark, root, 3).count() === 10 + 3 * 20)
  }

  test("racing remove-commits: one wins, the other reports a conflict — never a double remove") {
    // r12 verdict #4: two compactions race to retire the SAME files. The
    // loser must not blind-land a commit whose removes were already
    // applied by the winner — that is a logical conflict, not a version
    // collision a retry can absorb.
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(100))
    val v0Files = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSeq
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        try {
          val v = TimeTravel.commit(spark, root,
            TimeTravel.readAsOf(spark, root, 0).coalesce(1),
            removed = v0Files)
          outcomes.add(s"committed:$v")
        } catch {
          case e: java.util.ConcurrentModificationException =>
            outcomes.add("conflict"); assert(e.getMessage.contains("conflict"))
        }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val res = outcomes.asScala.toSeq.sorted
    assert(res === Seq("committed:1", "conflict"),
      s"expected one winner and one explicit conflict, got $res")
    // the log records each retired file exactly once
    assert(TimeTravel.currentVersion(root) === 1)
    assert(TimeTravel.readAsOf(spark, root, 1).count() === 100)
  }

  test("a sequential double-remove is rejected with a conflict error") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(60))
    val v0Files = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSeq
    TimeTravel.commit(spark, root,
      TimeTravel.readAsOf(spark, root, 0).coalesce(1), removed = v0Files)
    val e = intercept[java.util.ConcurrentModificationException] {
      TimeTravel.commit(spark, root, orders.limit(5), removed = v0Files)
    }
    assert(e.getMessage.contains("not in snapshot"), e.getMessage)
    assert(TimeTravel.currentVersion(root) === 1, "the conflicting commit landed")
  }

  test("the version claim refuses an existing destination on file:/ (no silent replace)") {
    // LocalFileSystem's rename delegates to POSIX rename(2), which
    // REPLACES an existing destination — the claim goes through a
    // primitive that refuses instead (a hard link on file:/).
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl_claim_")
    val fs = new org.apache.hadoop.fs.Path(dir.toString)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    def put(name: String, content: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(dir.toString, name)
      val out = fs.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      p
    }
    val winner = put("5.json", "winner")
    val tmp = put(".c-loser", "loser")
    assert(!TimeTravel.claimVersion(fs, tmp, winner),
      "claim over an existing commit file reported success")
    val back = new Array[Byte](6)
    val in = fs.open(winner)
    try in.readFully(back) finally in.close()
    assert(new String(back, "UTF-8") === "winner",
      "the losing claim silently replaced the winner's commit")
    // and a claim of a FREE destination succeeds
    assert(TimeTravel.claimVersion(fs, tmp,
      new org.apache.hadoop.fs.Path(dir.toString, "6.json")))
  }

  test("commit metadata with brackets, escapes, or richer fields parses exactly") {
    // r12 verdict #8: the log parser must survive a file name containing
    // ']' or an escaped quote, and ignore richer sibling fields — the
    // regex + first-']' version derailed on both.
    val root = newRoot()
    val log = java.nio.file.Paths.get(s"$root/_graft_log")
    java.nio.file.Files.createDirectories(log)
    java.nio.file.Files.write(log.resolve("0.json"),
      ("""{"version":0,"note":"stats ] with bracket","stats":{"rows":5},""" +
        """"added":["a-1.parquet","b]x.parquet","c\"q.parquet"],""" +
        """"removed":[]}""").getBytes("UTF-8"))
    val (files, parsed) = TimeTravel.resolveSnapshot(root, 0)
    assert(parsed === 1)
    assert(files === Seq("a-1.parquet", "b]x.parquet", "c\"q.parquet"),
      s"parser derailed: $files")
  }

  test("vacuum deletes only unreferenced files; history stays readable") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(50))
    TimeTravel.commit(spark, root, orders.limit(30))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/data/orphan-x.parquet"),
      "junk".getBytes("UTF-8"))
    val removed = TimeTravel.vacuum(root)
    assert(removed === Seq("orphan-x.parquet"))
    assert(TimeTravel.readAsOf(spark, root, 0).count() === 50)
    assert(TimeTravel.readAsOf(spark, root, 1).count() === 80)
  }

  test("q160: change reads scan only the delta's files; remove ranges refuse") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 3 =!= 0))
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    val changes = TimeTravel.readChangesSince(spark, root, 0, 1)
    assert(changes.count() === orders.filter(col("o_orderkey") % 3 === 0).count())
    // the scan's file set is exactly generation 1's added files
    val scanned = changes.select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    val gen1Files = TimeTravel.readAsOf(spark, root, 1)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSet
    val gen0Files = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSet
    assert(scanned === gen1Files.diff(gen0Files),
      "change read scanned more than the delta files")
    // an empty range answers empty, same schema
    assert(TimeTravel.readChangesSince(spark, root, 1, 1).count() === 0)
    // a remove-commit inside the range is a loud error, not a wrong answer
    val rm = TimeTravel.readAsOf(spark, root, 1)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSeq.take(1)
    TimeTravel.commit(spark, root, orders.limit(5), removed = rm)
    val e = intercept[IllegalArgumentException] {
      TimeTravel.readChangesSince(spark, root, 0, 2)
    }
    assert(e.getMessage.contains("remove-commits"))
  }

  test("q163: a checkpoint bounds resolution to the tail commits; below it replays fully") {
    val root = newRoot()
    (0 until 8).foreach { g =>
      TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 8 === g))
    }
    // pre-checkpoint resolution of the latest generation parses all 8 commits
    val (filesBefore, parsedBefore) = TimeTravel.resolveSnapshot(root, 7)
    assert(parsedBefore === 8)
    assert(TimeTravel.checkpoint(root) === 7)
    // checkpointed resolution: same file set, ZERO commit parses
    val (filesAfter, parsedAfter) = TimeTravel.resolveSnapshot(root, 7)
    assert(parsedAfter === 0, s"checkpoint did not bound the log read: $parsedAfter")
    assert(filesAfter.sorted === filesBefore.sorted,
      "checkpointed resolution changed the snapshot")
    // two more commits: resolution = checkpoint + 2 tail parses
    TimeTravel.commit(spark, root, orders.limit(10))
    TimeTravel.commit(spark, root, orders.limit(20))
    val (_, parsedTail) = TimeTravel.resolveSnapshot(root, 9)
    assert(parsedTail === 2, s"expected 2 tail parses, got $parsedTail")
    assert(TimeTravel.readAsOf(spark, root, 9).count() === orders.count() + 30)
    // a generation BELOW the checkpoint still resolves by full replay
    val (_, parsedBelow) = TimeTravel.resolveSnapshot(root, 3)
    assert(parsedBelow === 4)
    assert(TimeTravel.readAsOf(spark, root, 3).count() ===
      orders.filter(col("o_orderkey") % 8 <= 3).count())
  }

  test("q169 merge: only touched buckets rewrite; updates, inserts, carry-overs all land") {
    val root = newRoot()
    val base = orders.limit(200)
    TimeTravel.commitBucketed(spark, root, base, "o_orderkey", 8)
    val filesBefore = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSet
    assert(filesBefore.size === 8, s"expected 8 bucket files, got $filesBefore")
    // a source touching ONE key: update its price, plus one brand-new key
    val k0 = base.orderBy("o_orderkey").head().getLong(0)
    import spark.implicits._
    val src = base.filter(col("o_orderkey") === k0)
      .withColumn("o_totalprice", lit(9999.5d))
      .unionByName(Seq((99000001L, "9-NEW", 1.25d))
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    TimeTravel.mergeInto(spark, root, src, "o_orderkey", 8)
    val after = TimeTravel.readAsOf(spark, root, 1)
    // row-level semantics: update applied, insert present, others intact
    assert(after.count() === 201)
    assert(after.filter(col("o_orderkey") === k0)
      .head().getDouble(2) === 9999.5d)
    assert(after.filter(col("o_orderkey") === 99000001L).count() === 1)
    // file-level pruning: at most 2 buckets rewrote, the rest kept their
    // PHYSICAL files (names unchanged in the new snapshot)
    val filesAfter = after.select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    val kept = filesBefore.intersect(filesAfter)
    assert(filesBefore.size - kept.size <= 2,
      s"merge rewrote ${filesBefore.size - kept.size} buckets for 2 keys")
    assert(filesAfter.diff(filesBefore).size <= 2,
      "merge added more files than the touched buckets")
    // old snapshot still reads the pre-merge state
    assert(TimeTravel.readAsOf(spark, root, 0)
      .filter(col("o_orderkey") === k0).head().getDouble(2) !== 9999.5d)
    // merge is idempotent: re-merging the same source changes nothing
    TimeTravel.mergeInto(spark, root, src, "o_orderkey", 8)
    val sum1 = after.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .head().getDecimal(0)
    val sum2 = TimeTravel.readAsOf(spark, root, 2)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
    assert(sum1 === sum2, "re-merging the same source drifted the table")
  }

  test("q170 stats skipping: a range read scans only overlapping files, exactly") {
    val root = newRoot()
    val base = orders.limit(400)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 8)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    // a range covering ~the middle eighth of the key space
    val lo = keys(keys.length / 2)
    val hi = keys(keys.length / 2 + keys.length / 8 - 1)
    val pruned = TimeTravel.readAsOfWhere(spark, root, 0, "o_orderkey", lo, hi)
    val expect = base.filter(col("o_orderkey").between(lo, hi))
    assert(pruned.count() === expect.count())
    assert(pruned.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
      === expect.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0))
    // the scan touched only range-overlapping files — a narrow range over
    // 8 non-overlapping clusters hits at most 3
    val scanned = pruned.select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    assert(scanned.size <= 3,
      s"stats pruning scanned ${scanned.size} of 8 clustered files")
    // an APPENDED clustered commit contributes its own stats: both
    // generations prune together
    TimeTravel.commitClustered(spark, root,
      base.withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)),
      "o_orderkey", 8)
    val pruned2 = TimeTravel.readAsOfWhere(spark, root, 1, "o_orderkey", lo, hi)
    assert(pruned2.count() === expect.count(),
      "appended out-of-range generation leaked into the pruned read")
    val scanned2 = pruned2.select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    assert(scanned2.size <= 3, "append defeated the stats pruning")
    // an empty range reads nothing but keeps the schema
    assert(TimeTravel.readAsOfWhere(spark, root, 1, "o_orderkey",
      -50L, -10L).count() === 0)
  }

  test("q171 schema evolution: each snapshot presents its own logged schema") {
    val root = newRoot()
    val base = orders.limit(100)
    TimeTravel.commit(spark, root, base)
    // gen 1 ADDS a column
    TimeTravel.commit(spark, root,
      base.limit(40).withColumn("o_flag", lit(7L))
        .withColumn("o_orderkey", col("o_orderkey") + 500000000L))
    // gen 2 DROPS it again (commits without the column)
    TimeTravel.commit(spark, root,
      base.limit(10).withColumn("o_orderkey", col("o_orderkey") + 900000000L))
    // AS-OF 0: original schema, no flag column at all
    assert(!TimeTravel.readAsOf(spark, root, 0).columns.contains("o_flag"))
    // AS-OF 1: evolved schema; gen-0 rows null-fill the added column
    val snap1 = TimeTravel.readAsOf(spark, root, 1)
    assert(snap1.columns.contains("o_flag"))
    assert(snap1.count() === 140)
    assert(snap1.filter(col("o_flag").isNull).count() === 100)
    assert(snap1.filter(col("o_flag") === 7L).count() === 40)
    // AS-OF 2: the drop hides the column even though gen-1 files store it
    val snap2 = TimeTravel.readAsOf(spark, root, 2)
    assert(!snap2.columns.contains("o_flag"),
      "a dropped column leaked back into a later snapshot")
    assert(snap2.count() === 150)
    // and the data beneath is intact across all three schemas
    assert(snap2.filter(col("o_orderkey") >= 900000000L).count() === 10)
  }

  test("graft_asof / graft_changes TVFs: pure-SQL snapshot reads match the library calls") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 3 =!= 0))
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    // plant an orphan: the SQL path must resolve files from the log too
    orders.limit(10).write.mode("overwrite").parquet(s"$root/tmp_orphan")
    new java.io.File(s"$root/tmp_orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).take(1).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$root/data/orphan-${f.getName}"))
      }
    GraftFunctions.register(spark)
    val asof0 = spark.sql(s"SELECT count(*) FROM graft_asof('$root', 0)")
      .head().getLong(0)
    assert(asof0 === TimeTravel.readAsOf(spark, root, 0).count())
    val asof1 = spark.sql(s"SELECT count(*) FROM graft_asof('$root', 1)")
      .head().getLong(0)
    assert(asof1 === orders.count(), "SQL snapshot saw the planted orphan")
    val delta = spark.sql(s"SELECT count(*) FROM graft_changes('$root', 0, 1)")
      .head().getLong(0)
    assert(delta === orders.filter(col("o_orderkey") % 3 === 0).count())
    // joins/filters compose around the TVF like any relation
    val top = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n FROM graft_asof('$root', 1)
         |WHERE o_totalprice > 0 GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority
         |LIMIT 1""".stripMargin).collect()
    assert(top.length === 1)
    // a non-literal argument is an explicit error, not a silent guess
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_asof('$root', CAST(rand() * 2 AS INT))").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
    // TIMESTAMP AS OF from SQL: the first commit's own timestamp sees
    // exactly generation 0
    val ts0 = TimeTravel.commitTimes(root).head._2
    val byTs = spark.sql(
      s"SELECT count(*) FROM graft_asof_ts('$root', ${ts0}L)")
      .head().getLong(0)
    assert(byTs === asof0)
    // the row-level feed from SQL: appends replay as tagged inserts
    val rows = spark.sql(
      s"""SELECT _change_type, _commit_version, count(*) AS n
         |FROM graft_row_changes('$root', -1, 1)
         |GROUP BY 1, 2 ORDER BY 2""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      === Seq(("insert", 0, asof0), ("insert", 1, asof1 - asof0)))
  }

  test("q157 plan reads exactly the snapshot's files — no directory listing") {
    val df = SparkEntry.queries("q157_time_travel")(spark, sf)
    assert(df.count() === 10) // 5 priorities × 2 generations
    // the orphan planted by ordersTable never appears in any scan
    val root = TimeTravel.ordersTable(spark, sf)
    val orphans = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.startsWith("orphan-"))
    assert(orphans.nonEmpty, "fixture lost its planted orphan")
    val plans = df.queryExecution.executedPlan.toString
    assert(!plans.contains("orphan-"),
      "a scan picked up the uncommitted orphan file")
  }

  test("q187 TIMESTAMP AS OF: commit times strictly increase and resolve exactly") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(50))
    TimeTravel.commit(spark, root, orders.limit(80))
    TimeTravel.commit(spark, root, orders.limit(20))
    val times = TimeTravel.commitTimes(root)
    assert(times.map(_._1) === Seq(0, 1, 2))
    assert(times.sliding(2).forall(p => p(0)._2 < p(1)._2),
      s"commit times are not strictly increasing: $times")
    // each commit's own timestamp resolves to that generation (boundary
    // inclusive), a time between commits to the earlier one, and a time
    // past the newest to the current version
    times.foreach { case (v, ts) =>
      assert(TimeTravel.versionAtTime(root, ts) === v)
    }
    assert(TimeTravel.versionAtTime(root, times(1)._2 - 1) === 0)
    assert(TimeTravel.versionAtTime(root, times(2)._2 + 3600000L) === 2)
    assert(TimeTravel.readAsOfTimestamp(spark, root, times(1)._2).count()
      === 130)
    // a timestamp before the table existed is an error, never a guess
    val e = intercept[IllegalArgumentException] {
      TimeTravel.versionAtTime(root, times(0)._2 - 1)
    }
    assert(e.getMessage.contains("predates"))
  }

  test("in-commit timestamps: TIMESTAMP AS OF survives mtime-scrambled log files (r15 verdict #6)") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(50))
    TimeTravel.commit(spark, root, orders.limit(80))
    TimeTravel.commit(spark, root, orders.limit(20))
    val times = TimeTravel.commitTimes(root)
    // scramble every commit file's mtime to one ancient instant (what a
    // backup/restore, rsync, or a stray `touch` of the log dir does):
    // the in-commit ts fields are the resolution source, so commit
    // times — and TIMESTAMP AS OF — are bit-identical to before
    val dir = new java.io.File(s"$root/_graft_log")
    dir.listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => assert(f.setLastModified(1000000000000L))) // 2001
    assert(TimeTravel.commitTimes(root) === times,
      "commit times changed under an mtime scramble")
    times.foreach { case (v, ts) =>
      assert(TimeTravel.versionAtTime(root, ts) === v)
    }
    assert(TimeTravel.readAsOfTimestamp(spark, root, times(1)._2).count()
      === 130)
    // DESCRIBE HISTORY's ts column is the same effective timestamp —
    // the two surfaces can never disagree about when a commit happened
    assert(TimeTravel.history(spark, root)
      .select("version", "ts").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1))).toSeq === times)
    // PRE-TS logs (commits without the field) fall back to mtime and
    // the fold monotonizes a mixed log: strictly increasing always
    val c0 = new java.io.File(dir, "0.json")
    val txt = new String(
      java.nio.file.Files.readAllBytes(c0.toPath), "UTF-8")
    val stripped = txt.replaceFirst("\"ts\":\\[\"\\d+\"\\],", "")
    assert(stripped != txt, "test lost the ts field it meant to strip")
    java.nio.file.Files.write(c0.toPath, stripped.getBytes("UTF-8"))
    // the NIO rewrite bypassed Hadoop's LocalFileSystem checksum — drop
    // the stale sidecar or the next Hadoop read fails its CRC
    java.nio.file.Files.deleteIfExists(
      new java.io.File(dir, ".0.json.crc").toPath)
    assert(c0.setLastModified(times(1)._2 + 5000)) // mtime PAST commit 1
    val mixed = TimeTravel.commitTimes(root)
    assert(mixed.map(_._1) === Seq(0, 1, 2))
    assert(mixed.sliding(2).forall(p => p(0)._2 < p(1)._2),
      s"mixed pre-ts/ts log lost strict monotonicity: $mixed")
  }

  test("graft_restore: lazy, metadata-only, idempotent, reports the rollback (r15 verdict #3)") {
    GraftFunctions.register(spark)
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(100).repartition(2))
    TimeTravel.commit(spark, root, orders.limit(160)) // the "bad load"
    val dataBefore = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).toSet
    // EXPLAIN (and schema probes) restore NOTHING — lazy MaintenanceNode
    spark.sql(s"EXPLAIN SELECT * FROM graft_restore('$root', 0)").collect()
    assert(TimeTravel.currentVersion(root) === 1,
      "EXPLAIN landed a restore commit")
    val rep = spark.sql(s"SELECT * FROM graft_restore('$root', 0)").head()
    assert(rep.getLong(0) === 2L, s"restore version: $rep")
    assert(rep.getLong(1) === 0L, s"restored_gen: $rep")
    assert(rep.getLong(2) === 0L, // rolling back a pure append re-adds 0
      s"files_readded: $rep")
    assert(rep.getLong(3) > 0L, s"files_retired: $rep")
    assert(TimeTravel.readAsOf(spark, root, 2).count() === 100)
    // metadata-only: zero data files copied, moved, or deleted
    assert(new java.io.File(s"$root/data").listFiles()
      .map(_.getName).toSet === dataBefore, "restore touched data files")
    // the rolled-back load stays readable AS OF
    assert(TimeTravel.readAsOf(spark, root, 1).count() === 260)
    // idempotent: a re-run lands NO commit (the log must not grow under
    // a re-executed maintenance statement)
    val rep2 = spark.sql(s"SELECT * FROM graft_restore('$root', 0)").head()
    assert(rep2.getLong(0) === 2L && rep2.getLong(3) === 0L,
      s"re-run was not a no-op: $rep2")
    assert(TimeTravel.currentVersion(root) === 2)
  }

  test("vacuum grace window protects young unreferenced files; graft_expire_ts drops history by wall-clock") {
    GraftFunctions.register(spark)
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(100))
    // plant a FRESH orphan — a concurrent writer's staged-but-unclaimed
    // output looks exactly like this in the race window between the
    // data-dir rename and the log claim
    orders.limit(5).write.mode("overwrite").parquet(s"$root/tmp_o")
    val orphan = new java.io.File(s"$root/tmp_o").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val planted = java.nio.file.Paths.get(s"$root/data/orphan-young.parquet")
    java.nio.file.Files.move(orphan.toPath, planted)
    // a graceful vacuum (SQL surface, minutes) keeps the young file
    assert(spark.sql(s"SELECT * FROM graft_vacuum('$root', 60)")
      .head().getLong(0) === 0L,
      "a graceful vacuum deleted a file inside the grace window")
    assert(java.nio.file.Files.exists(planted))
    // aged past the window, the same vacuum reclaims it
    assert(planted.toFile.setLastModified(
      System.currentTimeMillis() - 2L * 3600 * 1000))
    assert(TimeTravel.vacuum(root, 3600000L) === Seq("orphan-young.parquet"))
    // and the committed table is untouched throughout
    assert(TimeTravel.readAsOf(spark, root, 0).count() === 100)

    // retention by TIME: everything readable at-or-after ts(gen 2) stays
    val root2 = newRoot()
    TimeTravel.commit(spark, root2, orders.limit(10))
    TimeTravel.commit(spark, root2, orders.limit(20))
    TimeTravel.commit(spark, root2, orders.limit(30))
    TimeTravel.checkpoint(root2, 2)
    val t2 = TimeTravel.commitTimes(root2).toMap.apply(2)
    // EXPLAIN drops nothing (lazy maintenance verb)
    spark.sql(s"EXPLAIN SELECT * FROM graft_expire_ts('$root2', $t2)")
      .collect()
    assert(TimeTravel.readAsOf(spark, root2, 0).count() === 10)
    val rep = spark.sql(
      s"SELECT * FROM graft_expire_ts('$root2', $t2)").head()
    assert(rep.getLong(0) === 2L, s"keep_from: $rep")
    assert(rep.getLong(1) === 2L, s"n_dropped: $rep")
    assert(TimeTravel.readAsOf(spark, root2, 2).count() === 60)
    intercept[Exception] { TimeTravel.readAsOf(spark, root2, 0).count() }
    // idempotent: a re-run drops nothing more
    assert(spark.sql(s"SELECT * FROM graft_expire_ts('$root2', $t2)")
      .head().getLong(1) === 0L)
  }

  test("clone markers only self-clean on a verifiably ABSENT clone root (r15 ADVICE)") {
    val src = newRoot()
    val dst = newRoot()
    TimeTravel.commit(spark, src, orders.limit(200).repartition(2))
    TimeTravel.shallowClone(spark, src, dst)
    TimeTravel.compact(spark, src, 1)
    TimeTravel.checkpoint(src, 1)
    TimeTravel.expireHistory(src, 1) // gen-0 files now pinned ONLY by dst
    // the clone's LOG becomes unreadable while its directory still
    // exists (an unmounted path or listing hiccup looks exactly like
    // this): vacuum must fail loudly, never unpin and delete
    val logDir = java.nio.file.Paths.get(s"$dst/_graft_log")
    val saved = java.nio.file.Paths.get(s"$dst/_graft_log_saved")
    java.nio.file.Files.move(logDir, saved)
    val e = intercept[IllegalStateException] { TimeTravel.vacuum(src) }
    assert(e.getMessage.contains("no readable commit log"), e.getMessage)
    // the marker survived: restoring the log restores the pins
    java.nio.file.Files.move(saved, logDir)
    TimeTravel.vacuum(src)
    assert(TimeTravel.readAsOf(spark, dst, 0).count() === 200,
      "vacuum deleted files the recovered clone still references")
    // a verifiably absent clone root self-cleans and releases the pins
    WorkDirs.deleteTree(java.nio.file.Paths.get(dst))
    assert(TimeTravel.vacuum(src).nonEmpty,
      "vacuum reclaimed nothing after the clone was truly deleted")
  }

  test("q189 CHECK constraints: violating commits refuse, the log is unchanged") {
    val root = newRoot()
    TimeTravel.addConstraint(spark, root, "pos_price", "o_totalprice > 0")
    TimeTravel.commit(spark, root, orders.limit(100)) // satisfies
    val before = TimeTravel.currentVersion(root)
    val bad = orders.limit(10).withColumn("o_totalprice", lit(-1.0))
    val e = intercept[IllegalArgumentException] {
      TimeTravel.commit(spark, root, bad)
    }
    assert(e.getMessage.contains("pos_price"))
    assert(TimeTravel.currentVersion(root) === before,
      "a constraint-violating commit landed")
    assert(TimeTravel.readAsOf(spark, root, before).count() === 100)
    // specialized commit paths enforce the same gate
    val e2 = intercept[IllegalArgumentException] {
      TimeTravel.commitClustered(spark, root, bad, "o_orderkey", 2)
    }
    assert(e2.getMessage.contains("pos_price"))
    // SQL CHECK semantics: a NULL predicate PASSES
    TimeTravel.commit(spark, root,
      orders.limit(5).withColumn("o_totalprice", lit(null).cast("double")))
    // adding a constraint the existing rows violate refuses too
    val e3 = intercept[IllegalArgumentException] {
      TimeTravel.addConstraint(spark, root, "price_cap", "o_totalprice < 0")
    }
    assert(e3.getMessage.contains("price_cap"))
    assert(TimeTravel.constraintsAsOf(root,
      TimeTravel.currentVersion(root)).map(_._1) === Seq("pos_price"))
  }

  test("schema enforcement: graft.enforceSchema refuses drift; evolution stays the default") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(50))
    // default: schema-on-read EVOLUTION (the q171 contract) — adding a
    // column is a normal commit
    TimeTravel.commit(spark, root,
      orders.limit(5).withColumn("o_flag", lit(1L)))
    TimeTravel.setProperty(spark, root, "graft.enforceSchema", "true")
    val before = TimeTravel.currentVersion(root)
    // a dropped column refuses, loudly and atomically
    val e = intercept[IllegalArgumentException] {
      TimeTravel.commit(spark, root, orders.limit(5).drop("o_totalprice"))
    }
    assert(e.getMessage.contains("enforced"))
    // a type change refuses too
    val e2 = intercept[IllegalArgumentException] {
      TimeTravel.commit(spark, root,
        orders.limit(5).withColumn("o_flag", lit("x")))
    }
    assert(e2.getMessage.contains("enforced"))
    assert(TimeTravel.currentVersion(root) === before,
      "a schema-drifted commit landed under enforcement")
    // an exactly-matching commit still lands
    TimeTravel.commit(spark, root,
      orders.limit(5).withColumn("o_flag", lit(2L)))
    assert(TimeTravel.currentVersion(root) === before + 1)
  }

  test("checkpoints fold txn/schema/stats — retention keeps exactly-once and pruning") {
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, orders, "o_orderkey", 4) // gen 0
    TimeTravel.commitTxn(spark, root, orders.limit(10), "ckpt-app", 7L) // gen 1
    TimeTravel.checkpoint(root, 1)
    // gen 2 is METADATA-ONLY (no schemav, no stats): after expiry the
    // checkpoint is the only carrier of the resolved state
    TimeTravel.setProperty(spark, root, "graft.retention", "test")
    val dropped = TimeTravel.expireHistory(root, 2)
    assert(dropped.contains("0.json") && dropped.contains("1.json"))
    // txn records survive retention: a replayed epoch is still a skip
    assert(TimeTravel.lastTxnVersion(root, "ckpt-app") === Some(7L))
    val before = TimeTravel.currentVersion(root)
    TimeTravel.commitTxn(spark, root, orders.limit(5), "ckpt-app", 7L)
    assert(TimeTravel.currentVersion(root) === before,
      "a replayed txn epoch landed after history retention")
    // the logged schema survives retention — no parquet-inference fallback
    assert(TimeTravel.schemaAsOf(root, before).map(_.fieldNames.toSeq)
      === Some(Seq("o_orderkey", "o_orderpriority", "o_totalprice")))
    // per-file stats and row counts survive: range reads keep pruning
    assert(TimeTravel.statsFor(root, before).nonEmpty,
      "clustered stats lost by retention")
    assert(TimeTravel.nrowsFor(root, before).nonEmpty,
      "recorded row counts lost by retention")
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val expect = orders.unionAll(orders.limit(10))
      .filter(col("o_orderkey").between(mx / 4, mx / 2)).count()
    assert(TimeTravel.readAsOfWhere(spark, root, before, "o_orderkey",
      mx / 4, mx / 2).count() === expect)
  }

  test("blooms and generated-month values ride checkpoints through retention") {
    val root = newRoot()
    TimeTravel.commitBloomed(spark, root, orders, "o_orderkey", 4)
    TimeTravel.checkpoint(root, 0)
    TimeTravel.setProperty(spark, root, "graft.retention", "test")
    TimeTravel.expireHistory(root, 1)
    val key = orders.agg(min("o_orderkey")).head().getLong(0)
    val hit = TimeTravel.readAsOfKeys(spark, root, 1, "o_orderkey", Seq(key))
    assert(hit.count() === orders.filter(col("o_orderkey") === key).count())
    // the lookup still PRUNES from the checkpoint's blooms: the key lives
    // in 1 of 4 files (≤2 with a ~1% false positive allowance)
    assert(hit.inputFiles.length <= 2,
      s"bloom pruning lost by retention: scanned ${hit.inputFiles.length} of 4")
    // an absent key still answers empty
    assert(TimeTravel.readAsOfKeys(spark, root, 1, "o_orderkey",
      Seq(-12345L)).count() === 0)
  }

  test("merge takes source values unconditionally and refuses duplicate keys") {
    val root = newRoot()
    TimeTravel.commitBucketed(spark, root, orders.limit(100), "o_orderkey", 4)
    val k = orders.limit(1).head().getLong(0)
    // matched row carrying NULL in a data column → the table updates to
    // NULL (MERGE UPDATE semantics), never silently keeps the old value
    val src = orders.filter(col("o_orderkey") === k)
      .withColumn("o_totalprice", lit(null).cast("double"))
    TimeTravel.mergeInto(spark, root, src, "o_orderkey", 4)
    val got = TimeTravel.readAsOf(spark, root,
      TimeTravel.currentVersion(root))
      .filter(col("o_orderkey") === k).collect()
    assert(got.length === 1 && got(0).isNullAt(got(0).fieldIndex("o_totalprice")),
      s"matched NULL update kept the old value: ${got.toSeq}")
    // duplicate source keys are an ambiguous upsert: loud error, no commit
    val before = TimeTravel.currentVersion(root)
    val dup = orders.limit(1).unionAll(orders.limit(1))
    val e = intercept[IllegalArgumentException] {
      TimeTravel.mergeInto(spark, root, dup, "o_orderkey", 4)
    }
    assert(e.getMessage.contains("duplicate"))
    assert(TimeTravel.currentVersion(root) === before)
  }

  test("SQL maintenance verbs: graft_zorder lands the Z layout, graft_vacuum reclaims orphans") {
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      .limit(1024)
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 2 === 0))
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 2 === 1))
    GraftFunctions.register(spark)
    val r = spark.sql(
      s"SELECT * FROM graft_zorder('$root', 'o_orderkey', 'o_custkey', 8)")
      .head()
    assert(r.getLong(0) === 2L, "SQL ZORDER did not land as generation 2")
    // the compaction is nodata: the change feed across it still reads
    // ONLY the real append (commit 1), never the rewritten files
    assert(TimeTravel.readChangesSince(spark, root, 0, 2).count()
      === base.filter(col("o_orderkey") % 2 === 1).count())
    // both dimensions carry per-file stats now: a secondary-dim range
    // read prunes from log metadata
    val cs = base.select("o_custkey").collect().map(_.getLong(0)).sorted
    val pruned = TimeTravel.readAsOfWhere(spark, root, 2, "o_custkey",
      cs(cs.length / 4), cs(cs.length / 2))
    assert(pruned.count() === base
      .filter(col("o_custkey").between(cs(cs.length / 4), cs(cs.length / 2)))
      .count())
    assert(pruned.inputFiles.length < TimeTravel.snapshotFiles(root, 2).size,
      "SQL ZORDER recorded no secondary-dimension stats")
    // plant an orphan; SQL VACUUM deletes exactly it
    val orphan = java.nio.file.Paths.get(s"$root/data/orphan-x.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    assert(spark.sql(s"SELECT * FROM graft_vacuum('$root')")
      .head().getLong(0) === 1L)
    assert(!java.nio.file.Files.exists(orphan))
    // every committed snapshot still reads
    assert(TimeTravel.readAsOf(spark, root, 2).count() === base.count())
    assert(TimeTravel.readAsOf(spark, root, 0).count()
      === base.filter(col("o_orderkey") % 2 === 0).count())
    // retention from SQL: needs its anchor checkpoint, drops the expired
    // commits, and is idempotent; the surviving head keeps reading
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_expire('$root', 2)").collect()
    } // no checkpoint at 1 or 2 yet — loud refusal
    TimeTravel.checkpoint(root, 2)
    // destructive verbs are gated on EXECUTION (r14 ADVICE): EXPLAIN
    // resolves and plans the statement but must delete nothing
    spark.sql(s"EXPLAIN SELECT * FROM graft_expire('$root', 2)").collect()
    spark.sql(s"EXPLAIN SELECT * FROM graft_vacuum('$root')").collect()
    assert(TimeTravel.readAsOf(spark, root, 0).count()
      === base.filter(col("o_orderkey") % 2 === 0).count(),
      "EXPLAIN of graft_expire dropped history")
    assert(spark.sql(s"SELECT * FROM graft_expire('$root', 2)")
      .head().getLong(0) === 2L)
    assert(spark.sql(s"SELECT * FROM graft_expire('$root', 2)")
      .head().getLong(0) === 0L) // idempotent
    assert(TimeTravel.readAsOf(spark, root, 2).count() === base.count())
    intercept[IllegalArgumentException] {
      TimeTravel.readAsOf(spark, root, 0).count() // expired: loud
    }
  }

  test("pre-array checkpoints back-fill from the commits below (r14 ADVICE)") {
    val root = newRoot()
    val base = orders.limit(300)
    // commit 0 carries a txn record; commit 1 is a plain append
    TimeTravel.commitTxn(spark, root, base.filter(col("o_orderkey") % 2 === 0),
      "writer-a", 7L)
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 2 === 1))
    val v = TimeTravel.checkpoint(root)
    // simulate a checkpoint written BEFORE the txn/stats/nrows arrays
    // existed: strip those arrays from the file (keep files + schema)
    val p = java.nio.file.Paths.get(s"$root/_graft_log/$v.ckpt.json")
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val stripped = txt
      .replaceAll(""","(txn|stats|nrows)":\[[^\]]*\]""", "")
    assert(stripped != txt, "checkpoint carried no arrays to strip")
    java.nio.file.Files.write(p, stripped.getBytes("UTF-8"))
    // drop the checksum sidecar the original write left (the local
    // Hadoop fs would flag the hand-edited file otherwise)
    java.nio.file.Files.deleteIfExists(
      p.resolveSibling(s".${p.getFileName}.crc"))
    // the old checkpoint must NOT shadow the txn record below it: a
    // restarted writer replaying epoch 7 must land NOTHING
    assert(TimeTravel.lastTxnVersion(root, "writer-a") === Some(7L))
    val before = TimeTravel.currentVersion(root)
    TimeTravel.commitTxn(spark, root, base.limit(10), "writer-a", 7L)
    assert(TimeTravel.currentVersion(root) === before,
      "pre-txn checkpoint let a replayed epoch land as a duplicate")
    // stats/nrows back-fill the same way: file skipping keeps pruning
    assert(TimeTravel.readAsOfWhere(spark, root, before, "o_orderkey",
      0L, 10L).count() === base.filter(col("o_orderkey").between(0, 10)).count())
  }

  test("z-order scale16 survives column ranges wider than 2^47 (r14 ADVICE)") {
    val root = newRoot()
    // spread o_orderkey over ~9e17 — the old long-arithmetic scaling
    // overflowed above ~1.4e14 and scrambled cell assignment
    val base = orders.limit(1024)
      .select((col("o_orderkey") * lit(450000000000000L)).as("wide"),
        (col("o_orderkey") % 97).as("k2"), col("o_totalprice"))
    TimeTravel.commitZOrderedN(spark, root,
      base, Seq("wide", "k2"), 8)
    val ks = base.select("wide").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ks(ks.length / 4), ks(ks.length / 2))
    val pruned = TimeTravel.readAsOfWhere(spark, root, 0, "wide", lo, hi)
    assert(pruned.count() === base.filter(col("wide").between(lo, hi)).count())
    assert(pruned.inputFiles.length < TimeTravel.snapshotFiles(root, 0).size,
      "wide-range z-order degraded to no pruning (scale16 overflow)")
  }

  test("partition values containing '|' refuse loudly at write (r14 ADVICE)") {
    val root = newRoot()
    val bad = orders.limit(20)
      .withColumn("seg", concat(col("o_orderpriority"), lit("|x")))
    val e = intercept[IllegalArgumentException] {
      TimeTravel.commitPartitioned(spark, root, bad, "seg")
    }
    assert(e.getMessage.contains("|"))
    assert(TimeTravel.currentVersion(root) === -1, "bad value still committed")
  }

  test("clone-aware vacuum: source retention never deletes files a live clone reads (r14 verdict #4)") {
    val src = newRoot()
    val dst = newRoot()
    val base = orders.limit(400)
    TimeTravel.commit(spark, src, base.repartition(4)) // gen 0: files A
    TimeTravel.shallowClone(spark, src, dst) // clone pins A absolutely
    TimeTravel.compact(spark, src, 1) // gen 1: retires A, adds B
    TimeTravel.checkpoint(src, 1)
    TimeTravel.expireHistory(src, 1) // commit 0 gone: A unreferenced by src
    val gone = TimeTravel.vacuum(src)
    // the clone's back-reference kept every A file alive
    assert(TimeTravel.readAsOf(spark, dst, 0).count() === base.count(),
      s"source vacuum broke the clone (deleted: $gone)")
    assert(TimeTravel.readAsOf(spark, src, 1).count() === base.count())
    // deleting the clone releases the pins: the marker self-cleans and
    // the next vacuum reclaims the A files
    WorkDirs.deleteTree(java.nio.file.Paths.get(dst))
    val gone2 = TimeTravel.vacuum(src)
    assert(gone2.nonEmpty,
      "vacuum reclaimed nothing after the clone was deleted")
    assert(TimeTravel.readAsOf(spark, src, 1).count() === base.count())
  }

  test("graft_files reports snapshot economics; graft_clone is lazy, clones zero-copy, and pins vacuum") {
    GraftFunctions.register(spark)
    val src = newRoot()
    val dst = newRoot()
    val base = orders.limit(400)
    TimeTravel.commit(spark, src, base.repartition(4))
    // graft_files: one row per snapshot file, rows/bytes from the log +
    // one listing — totals must reconcile with the table exactly
    val fm = spark.sql(s"SELECT * FROM graft_files('$src')").collect()
    assert(fm.length === TimeTravel.snapshotFiles(src, 0).size)
    assert(fm.map(_.getAs[Long]("rows")).sum === base.count())
    assert(fm.forall(_.getAs[Long]("bytes") > 0))
    assert(fm.forall(_.getAs[Any]("dv_rows") == null), "no DVs yet")
    // EXPLAIN of graft_clone creates NOTHING (lazy MaintenanceNode)
    spark.sql(s"EXPLAIN SELECT * FROM graft_clone('$src', '$dst')")
      .collect()
    assert(TimeTravel.currentVersion(dst) === -1,
      "EXPLAIN materialized a clone")
    // executed: the clone freezes gen 0, zero data bytes copied
    val rep = spark.sql(
      s"SELECT * FROM graft_clone('$src', '$dst')").head()
    assert(rep.getLong(0) === 0L && rep.getLong(1) === fm.length.toLong)
    assert(!new java.io.File(s"$dst/data").exists() ||
      new java.io.File(s"$dst/data").listFiles().forall(
        !_.getName.endsWith(".parquet")), "clone copied data bytes")
    TimeTravel.commit(spark, src, orders.limit(50)) // src moves on
    assert(TimeTravel.readAsOf(spark, dst,
      TimeTravel.currentVersion(dst)).count() === base.count())
    // the TVF route plants the same back-reference marker: a source
    // compact + retention + vacuum cannot strand the clone
    TimeTravel.compact(spark, src, 1)
    TimeTravel.checkpoint(src, 2)
    TimeTravel.expireHistory(src, 2)
    TimeTravel.vacuum(src)
    assert(TimeTravel.readAsOf(spark, dst,
      TimeTravel.currentVersion(dst)).count() === base.count(),
      "source vacuum broke the SQL-created clone")
  }

  test("graft_files reflects partition value lines and live DV masks") {
    GraftFunctions.register(spark)
    val root = newRoot()
    val base = orders.limit(300)
    TimeTravel.commitPartitioned(spark, root, base, "o_orderpriority")
    val fm0 = spark.sql(s"SELECT * FROM graft_files('$root')").collect()
    assert(fm0.nonEmpty && fm0.forall(
      _.getAs[String]("part").startsWith("o_orderpriority|=|")),
      "partition value lines missing from the files report")
    // DV-delete a key range: the report's dv_rows must account for
    // exactly the masked cardinality, file by file
    val ks = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ks(0), ks(ks.length / 4))
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", lo, hi)
    val fm1 = spark.sql(s"SELECT * FROM graft_files('$root')").collect()
    val masked = fm1.flatMap(r =>
      Option(r.getAs[java.lang.Long]("dv_rows")).map(_.toLong))
    assert(masked.sum ===
      base.filter(col("o_orderkey").between(lo, hi)).count(),
      "dv_rows does not reconcile with the vectors' cardinality")
  }

  test("q216 3-dim z-order: secondary AND tertiary range reads prune files") {
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice")).cast("long").as("pl"),
        col("o_totalprice"))
      .limit(2048)
    TimeTravel.commitZOrderedN(spark, root, base,
      Seq("o_orderkey", "o_custkey", "pl"), 16)
    val nFiles = TimeTravel.snapshotFiles(root, 0).size
    assert(nFiles >= 8, s"3-dim z-order produced only $nFiles files")
    // every clustered column carries stats on every file
    val stats = TimeTravel.statsFor(root, 0)
    Seq("o_orderkey", "o_custkey", "pl").foreach { c =>
      assert(TimeTravel.snapshotFiles(root, 0)
        .forall(f => stats.contains((f, c))), s"missing stats for $c")
    }
    def prunedCount(c: String): Int = {
      val vs = base.select(c).collect().map(_.getLong(0)).sorted
      val (lo, hi) = (vs(vs.length / 4), vs(vs.length / 2))
      val df = TimeTravel.readAsOfWhere(spark, root, 0, c, lo, hi)
      assert(df.count() === base.filter(col(c).between(lo, hi)).count())
      df.inputFiles.length
    }
    // a quarter-range box on EACH dimension must skip files — the
    // round-robin prefix gives every dimension cell locality
    Seq("o_orderkey", "o_custkey", "pl").foreach { c =>
      val opened = prunedCount(c)
      assert(opened < nFiles,
        s"$c range read opened all $nFiles files — no $c locality")
    }
  }

  test("auto-checkpoint: every 10th commit writes one; resolution stays O(tail)") {
    val root = newRoot()
    val slice = orders.limit(20)
    (0 until 25).foreach { i =>
      TimeTravel.commit(spark, root,
        slice.withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000L)))
    }
    val d = new java.io.File(s"$root/_graft_log")
    val ckpts = d.listFiles().map(_.getName).filter(_.endsWith(".ckpt.json"))
    assert(ckpts.toSet === Set("10.ckpt.json", "20.ckpt.json"),
      s"auto-checkpoints: ${ckpts.toSeq.sorted}")
    // resolution of the head reads the newest checkpoint + ≤5 commits
    val (files, parsed) = TimeTravel.resolveSnapshot(root, 24)
    assert(parsed <= 5, s"resolved 24 by parsing $parsed commits")
    assert(files.nonEmpty)
    assert(TimeTravel.readAsOf(spark, root, 24).count() === 25 * 20)
    // generations below the checkpoints still resolve exactly
    assert(TimeTravel.readAsOf(spark, root, 7).count() === 8 * 20)
  }

  test("q190 UPDATE: only stats-overlapping files rewrite; values land exactly") {
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, orders, "o_orderkey", 8)
    val v0 = TimeTravel.resolveSnapshot(root, 0)._1.toSet
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    TimeTravel.updateWhere(spark, root, "o_orderkey", mx / 4, mx / 2,
      "o_totalprice", col("o_totalprice") * 2)
    val v1 = TimeTravel.resolveSnapshot(root, 1)._1.toSet
    assert((v0 intersect v1).nonEmpty,
      "the update rewrote files outside the key range")
    assert(TimeTravel.readAsOf(spark, root, 1).count() === orders.count())
    val expected = orders
      .withColumn("o_totalprice",
        when(col("o_orderkey").between(mx / 4, mx / 2),
          col("o_totalprice") * 2).otherwise(col("o_totalprice")))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
    val got = TimeTravel.readAsOf(spark, root, 1)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
    assert(got === expected)
  }

  test("protocol gate: unknown required reader features refuse loudly; prior generations stay readable") {
    val root = newRoot()
    val base = orders.limit(200)
    assert(TimeTravel.commit(spark, root, base.limit(100)) === 0)
    assert(TimeTravel.commit(spark, root, base) === 1)
    // hand-forge a commit from a FUTURE writer that requires a feature
    // this build does not know (Delta's readerFeatures contract): every
    // read that folds the commit must refuse by NAME, never misread
    val forged =
      """{"version":2,"ts":["99999999999999"],"added":[],"removed":[],""" +
        """"features":["v9-quantum-masks"]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/2.json"), forged)
    // generations BELOW the feature commit resolve untouched
    assert(TimeTravel.readAsOf(spark, root, 1).count()
      === base.limit(100).count() + base.count())
    assert(TimeTravel.currentVersion(root) === 2) // name-only listing
    val e = intercept[UnsupportedOperationException] {
      TimeTravel.readAsOf(spark, root, 2)
    }
    assert(e.getMessage.contains("v9-quantum-masks"), e.getMessage)
    // the change-feed readers gate on the same protocol
    val e2 = intercept[UnsupportedOperationException] {
      TimeTravel.readRowChanges(spark, root, 1, 2)
    }
    assert(e2.getMessage.contains("v9-quantum-masks"), e2.getMessage)

    // a KNOWN feature passes, is recorded by the introducing commit,
    // and survives into checkpoints (retention must not drop the gate)
    val root2 = newRoot()
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    TimeTravel.commitClustered(spark, root2, base, "o_orderkey", 4)
    TimeTravel.deleteVectorWhere(spark, root2, "o_orderkey",
      keys(0), keys(49))
    assert(TimeTravel.featuresAsOf(root2,
      TimeTravel.currentVersion(root2)) === Set("deletion-vectors"))
    val ckptGen = TimeTravel.checkpoint(root2)
    val ckptTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root2/_graft_log/$ckptGen.ckpt.json")),
      "UTF-8")
    assert(ckptTxt.contains("\"features\":[\"deletion-vectors\"]"),
      "checkpoint dropped the recorded reader feature")
    assert(TimeTravel.readAsOf(spark, root2, ckptGen).count()
      === base.count() - 50)
    // a forged FUTURE-featured checkpoint refuses resolution through it
    val forgedCkpt = ckptTxt.replace("deletion-vectors", "v9-quantum-masks")
    // drop Hadoop's checksum sidecar before forging in place, or the
    // re-read fails on the crc instead of reaching the protocol gate
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      s"$root2/_graft_log/.$ckptGen.ckpt.json.crc"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$root2/_graft_log/$ckptGen.ckpt.json"), forgedCkpt)
    // the in-process handle cache trusts checkpoint immutability (the
    // forge above violates it on purpose) — clear it to become the
    // FRESH reader a future-featured table actually meets (r19)
    TimeTravel.invalidateCkptCache()
    val e3 = intercept[UnsupportedOperationException] {
      TimeTravel.readAsOf(spark, root2, ckptGen)
    }
    assert(e3.getMessage.contains("v9-quantum-masks"), e3.getMessage)
  }

  test("snapshot tags: named refs resolve, pin retention, survive checkpoints, drop cleanly") {
    val root = newRoot()
    val a = orders.filter(col("o_orderkey") % 3 =!= 0)
    val b = orders.filter(col("o_orderkey") % 3 === 0)
    TimeTravel.commit(spark, root, a) // gen 0
    TimeTravel.commit(spark, root, b) // gen 1
    TimeTravel.tagSnapshot(spark, root, "v1", 0) // gen 2
    // resolution: ref name ≡ the generation, everywhere a version goes
    assert(TimeTravel.resolveVersionRef(root, "v1") === 0)
    assert(TimeTravel.resolveVersionRef(root, "1") === 1)
    assert(TimeTravel.readAsOf(spark, root,
      TimeTravel.resolveVersionRef(root, "v1")).count() === a.count())
    // bad names and unknown refs fail loudly
    intercept[IllegalArgumentException] {
      TimeTravel.tagSnapshot(spark, root, "42", 0)
    }
    intercept[IllegalArgumentException] {
      TimeTravel.tagSnapshot(spark, root, "late", 99)
    }
    val e = intercept[IllegalArgumentException] {
      TimeTravel.resolveVersionRef(root, "nope")
    }
    assert(e.getMessage.contains("v1"), e.getMessage)
    // the tag PINS gen 0: expire below it refuses BY NAME even with an
    // anchor checkpoint in place
    TimeTravel.checkpoint(root, 1)
    val pin = intercept[IllegalArgumentException] {
      TimeTravel.expireHistory(root, 1)
    }
    assert(pin.getMessage.contains("v1@0"), pin.getMessage)
    // re-tag moves the name (visible immediately)
    TimeTravel.tagSnapshot(spark, root, "v1", 1) // gen 3
    assert(TimeTravel.resolveVersionRef(root, "v1") === 1)
    // tags survive retention through the checkpoint fold: expire below
    // the checkpoint, the moved tag still resolves
    TimeTravel.checkpoint(root)
    TimeTravel.expireHistory(root, 1)
    assert(TimeTravel.resolveVersionRef(root, "v1") === 1)
    assert(TimeTravel.readAsOf(spark, root, 1).count()
      === a.count() + b.count())
    // drop releases the pin; expire then proceeds and the ref is gone
    TimeTravel.dropTag(spark, root, "v1")
    assert(TimeTravel.tagsFor(root,
      TimeTravel.currentVersion(root)).isEmpty)
    intercept[IllegalArgumentException] {
      TimeTravel.resolveVersionRef(root, "v1")
    }
  }

  test("OPTIMIZE and REORG on a renamed table keep the column's bytes and the logical schema") {
    // compact used to read the LOGICAL schema over PHYSICAL files: on a
    // column-mapped table every renamed column null-filled into the
    // rewrite and the raw frame's schema overwrote the logged one —
    // silent data loss behind graft_optimize (r17 fix: physical-name
    // nodata rewrite + logical schema stays logged)
    val root = newRoot()
    val base = orders.limit(600)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    def decSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("price").cast("decimal(18,2)"))).head().get(0)
    for (i <- 0 until 3)
      TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 3 === i))
    TimeTravel.renameColumn(spark, root, "o_totalprice", "price")
    // the file-level change feed projects to logical names too (r17:
    // it used to leak the physical ones)
    val delta = TimeTravel.readChangesSince(spark, root, 0,
      TimeTravel.currentVersion(root))
    assert(delta.columns.toSeq === Seq("o_orderkey", "price"))
    assert(delta.filter(col("price").isNull).count() === 0L)
    val want = decSum(TimeTravel.readAsOfMapped(spark, root,
      TimeTravel.currentVersion(root)))
    val v = TimeTravel.compact(spark, root, 1)
    val after = TimeTravel.readAsOfMapped(spark, root, v)
    assert(after.columns.toSeq === Seq("o_orderkey", "price"))
    assert(after.filter(col("price").isNull).count() === 0L,
      "compaction nulled a renamed column's values")
    assert(decSum(after) === want)
    // the LOGICAL schema stayed logged (compaction must not demote it
    // to the physical frame's names)
    assert(TimeTravel.schemaAsOf(root, v)
      .exists(_.fieldNames.contains("price")))
    // REORG purge on the mapped table folds masks without losing bytes
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", 0L, keys(299))
    val v2 = TimeTravel.purgeMasks(spark, root, 40)
    val purged = TimeTravel.readAsOfMapped(spark, root, v2)
    assert(purged.count() === base.filter(col("o_orderkey") > keys(299))
      .count())
    assert(purged.filter(col("price").isNull).count() === 0L,
      "purge nulled a renamed column's values")

    // CHECK constraints evaluate the RENAMED column's real values —
    // both at ADD time and against staged DSv2 writes
    intercept[IllegalArgumentException] {
      TimeTravel.addConstraint(spark, root, "neg", "price < 0")
    } // would have passed vacuously on a null-filled raw read
    TimeTravel.addConstraint(spark, root, "pos", "price > 0")
    val wh = root.stripSuffix("/t")
    withSqlConf(
      "spark.sql.catalog.cmoc" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.cmoc.warehouse" -> wh) {
      val e = intercept[Exception] {
        spark.sql("INSERT INTO cmoc.t VALUES (999999, -5.0)")
      }
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("pos"))), s"wrong failure: $e")
      spark.sql("INSERT INTO cmoc.t VALUES (999999, 5.0)")
      assert(spark.sql(
        "SELECT count(*) FROM cmoc.t WHERE o_orderkey = 999999")
        .head().getLong(0) === 1L)
    }
  }

  test("nodata rewrites conflict with a racing DV commit instead of resurrecting rows (r17 ADVICE)") {
    // compact/compactSmall/purgeMasks read a snapshot's DV state, then
    // land a nodata commit removing the files they read: a merge-on-read
    // DELETE landing in between masks rows the staged rewrite still
    // carries — without dvExpect the removed-membership check passes and
    // the deleted rows silently resurrect. The fix: commitNoData expects
    // the read generation's exact DV state per removed file.
    val root = newRoot()
    val base = orders.limit(400)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val gen0 = TimeTravel.currentVersion(root)
    val files = TimeTravel.snapshotFiles(root, gen0)
    val staged = TimeTravel.readFilesFilledDvs(spark, root, gen0, files)
      .coalesce(1)
    // the racing merge-on-read DELETE lands AFTER the rewrite's read
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey",
      keys(0), keys(99))
    val e = intercept[java.util.ConcurrentModificationException] {
      TimeTravel.commitNoData(spark, root, gen0, staged, removed = files)
    }
    assert(e.getMessage.contains("deletion-vector conflict"), e.getMessage)
    // nothing resurrected: the table still reads the post-delete state
    assert(TimeTravel.readAsOf(spark, root,
      TimeTravel.currentVersion(root)).count() === base.count() - 100)
    // and the SAME rewrite re-planned at the current generation lands
    val v = TimeTravel.compact(spark, root, 1)
    assert(TimeTravel.readAsOf(spark, root, v).count() === base.count() - 100)
  }

  test("change feeds gate reader features CUMULATIVELY, not only per-commit in range (r17 ADVICE)") {
    // a future feature recorded BEFORE fromGen still governs the range's
    // data/change files — the feed must refuse like a snapshot read does
    val root = newRoot()
    val base = orders.limit(200)
    assert(TimeTravel.commit(spark, root, base.limit(100)) === 0)
    val forged =
      """{"version":1,"ts":["99999999999999"],"added":[],"removed":[],""" +
        """"features":["v9-quantum-masks"]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/1.json"), forged)
    // land a plain append ABOVE the feature commit by writing commit 2
    // the same way (a normal commit() would itself refuse the fold)
    val add = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.head
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/2.json"),
      s"""{"version":2,"ts":["99999999999999"],"added":["re-$add"],""" +
        """"removed":[]}""")
    // range (1, 2] carries no feature array of its own — the cumulative
    // gate must still refuse by name (it used to pass ungated)
    val e = intercept[UnsupportedOperationException] {
      TimeTravel.readRowChanges(spark, root, 1, 2)
    }
    assert(e.getMessage.contains("v9-quantum-masks"), e.getMessage)
    val e2 = intercept[UnsupportedOperationException] {
      TimeTravel.readChangesSince(spark, root, 1, 2)
    }
    assert(e2.getMessage.contains("v9-quantum-masks"), e2.getMessage)
  }

  test("zorder + incremental clustering maintain RENAMED tables; stats land physical-keyed (r18)") {
    // one ALTER TABLE RENAME COLUMN used to freeze clustered maintenance
    // (r17 refusal); now the key columns translate logical→physical for
    // the Z-expression and the stats lines — the q210 discipline
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders").limit(800)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commit(spark, root, base)
    TimeTravel.renameColumn(spark, root, "o_custkey", "cust")
    TimeTravel.renameColumn(spark, root, "o_totalprice", "price")
    def decSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("price").cast("decimal(18,2)"))).head().get(0)
    val want = decSum(TimeTravel.readAsOfMapped(spark, root,
      TimeTravel.currentVersion(root)))
    // Z-order on the RENAMED secondary key, through the SQL verb
    graft.GraftFunctions.register(spark)
    val rep = spark.sql(
      s"SELECT * FROM graft_zorder('$root', 'o_orderkey', 'cust', 16)")
      .head()
    val v = rep.getLong(0).toInt
    assert(rep.getLong(1) === 16L)
    val after = TimeTravel.readAsOfMapped(spark, root, v)
    assert(after.columns.toSeq === Seq("o_orderkey", "cust", "price"))
    assert(after.filter(col("price").isNull || col("cust").isNull)
      .count() === 0L, "zorder rewrite nulled a renamed column")
    assert(decSum(after) === want)
    // stats for BOTH dimensions landed under PHYSICAL keys, and the
    // renamed-dimension band read prunes files from log metadata
    val files = TimeTravel.snapshotFiles(root, v)
    val st = TimeTravel.statsFor(root, v)
    assert(files.forall(f => st.contains((f, "o_orderkey")) &&
      st.contains((f, "o_custkey"))), "missing physical-keyed stats")
    val ks = base.select("o_custkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ks(ks.length / 4), ks(ks.length / 2))
    val kept = files.count(f => st.get((f, "o_custkey"))
      .forall { case (fLo, fHi) => fHi >= lo && fLo <= hi })
    assert(kept < files.size, s"secondary-dim pruning kept all $kept")
    assert(TimeTravel.readAsOfWhere(spark, root, v, "o_custkey", lo, hi)
      .count() === base.filter(col("o_custkey").between(lo, hi)).count())
    // the logical schema stayed logged through the nodata rewrite
    assert(TimeTravel.schemaAsOf(root, v)
      .exists(_.fieldNames.toSeq == Seq("o_orderkey", "cust", "price")))

    // INCREMENTAL clustering on a renamed SORT key: fresh appends fold
    // into the existing range layout, untouched cells keep their files
    val root2 = newRoot()
    TimeTravel.commitClustered(spark, root2,
      base.select("o_orderkey", "o_totalprice"), "o_orderkey", 4)
    TimeTravel.renameColumn(spark, root2, "o_orderkey", "okey")
    val before2 = TimeTravel.snapshotFiles(root2,
      TimeTravel.currentVersion(root2)).toSet
    // a narrow-band append under the LOGICAL schema (top keys only)
    val keyMax = base.agg(max("o_orderkey")).head().getLong(0)
    TimeTravel.commit(spark, root2,
      base.filter(col("o_orderkey") > keyMax - 50)
        .select(col("o_orderkey").as("okey"),
          (col("o_totalprice") + 1).as("o_totalprice")))
    val v2 = TimeTravel.compactClusteredIncremental(spark, root2, "okey")
    val files2 = TimeTravel.snapshotFiles(root2, v2).toSet
    // only the top cell rewrote; the low cells kept their physical files
    assert((before2 intersect files2).nonEmpty,
      "incremental clustering rewrote untouched cells")
    val read2 = TimeTravel.readAsOfMapped(spark, root2, v2)
    assert(read2.columns.toSeq === Seq("okey", "o_totalprice"))
    assert(read2.count() === base.count() +
      base.filter(col("o_orderkey") > keyMax - 50).count())
    assert(read2.filter(col("okey").isNull).count() === 0L)
    // fresh files folded: every snapshot file carries physical-keyed stats
    val st2 = TimeTravel.statsFor(root2, v2)
    assert(files2.forall(f => st2.contains((f, "o_orderkey"))),
      "a fresh file stayed unclustered after the incremental pass")
  }

  test("library DELETE/UPDATE/MERGE work on renamed+defaulted tables; bytes stay physical (r18)") {
    // the r17 refusals lifted: library DML reads physically (renamed
    // columns keep their bytes, defaults fill), applies the caller's
    // logical-name expressions on the logical projection, and stages
    // back through the mapping — the q210 byte-compatibility assert
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders").limit(600)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    TimeTravel.renameColumn(spark, root, "o_totalprice", "price")
    TimeTravel.addColumnMapped(spark, root, "region", "BIGINT", Some("7"))
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    // UPDATE on the renamed column, expressed in LOGICAL names
    TimeTravel.updateWhere(spark, root, "o_orderkey", keys(100), keys(199),
      "price", col("price") + 10)
    // DELETE a disjoint band
    TimeTravel.deleteWhere(spark, root, "o_orderkey", keys(0), keys(49))
    val v = TimeTravel.currentVersion(root)
    val after = TimeTravel.readAsOfMapped(spark, root, v)
    assert(after.columns.toSeq === Seq("o_orderkey", "price", "region"))
    assert(after.count() === base.count() - 50)
    assert(after.filter(col("price").isNull).count() === 0L,
      "library DML nulled a renamed column")
    assert(after.filter(col("region").isNull || col("region") =!= 7)
      .count() === 0L, "library DML lost the column default")
    val expect = base.agg(sum(col("o_totalprice")
      .cast("decimal(18,2)"))).head().getDecimal(0)
      .subtract(base.filter(col("o_orderkey").between(keys(0), keys(49)))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")))
        .head().getDecimal(0))
      .add(new java.math.BigDecimal(10 * 100))
    assert(after.agg(sum(col("price").cast("decimal(18,2)"))).head()
      .getDecimal(0).compareTo(expect) === 0)
    // the q210 assert: rewritten files store the PHYSICAL names —
    // bytes stay compatible across the rename
    TimeTravel.snapshotFiles(root, v).foreach { f =>
      val raw = spark.read.parquet(s"$root/data/$f").schema.fieldNames
      assert(raw.contains("o_totalprice") && !raw.contains("price"),
        s"file $f staged logical names: ${raw.toSeq}")
    }

    // MERGE into a renamed BUCKETED table, with CDF on — change files
    // land physical-named, the feed projects them back (q237 contract)
    val root2 = newRoot()
    TimeTravel.commitBucketed(spark, root2, base, "o_orderkey", 8)
    TimeTravel.renameColumn(spark, root2, "o_totalprice", "price")
    TimeTravel.setProperty(spark, root2, "graft.enableChangeDataFeed",
      "true")
    val vPre = TimeTravel.currentVersion(root2)
    val filesPre = TimeTravel.snapshotFiles(root2, vPre).toSet
    // a NARROW source (3 updates + 1 insert): only their hash buckets
    // may rewrite — the pruning contract must hold through the mapping
    val upKeys = Seq(keys(5), keys(77), keys(301))
    val src = base.filter(col("o_orderkey").isin(upKeys: _*))
      .select(col("o_orderkey"), (col("o_totalprice") + 1000).as("price"))
      .unionByName(base.limit(1)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_totalprice").as("price")))
    val v2 = TimeTravel.mergeInto(spark, root2, src, "o_orderkey", 8)
    // untouched buckets keep their physical files
    assert((filesPre intersect
      TimeTravel.snapshotFiles(root2, v2).toSet).nonEmpty,
      "merge rewrote untouched buckets")
    val merged = TimeTravel.readAsOfMapped(spark, root2, v2)
    assert(merged.columns.toSeq === Seq("o_orderkey", "price"))
    assert(merged.count() === base.count() + 1)
    assert(merged.filter(col("price").isNull).count() === 0L)
    // the updated keys took the +1000 source values
    assert(merged.filter(col("o_orderkey").isin(upKeys: _*))
      .agg(sum(col("price").cast("decimal(18,2)"))).head().getDecimal(0)
      .compareTo(base.filter(col("o_orderkey").isin(upKeys: _*))
        .agg(sum((col("o_totalprice") + 1000).cast("decimal(18,2)")))
        .head().getDecimal(0)) === 0)
    // the row feed across the merge presents LOGICAL names, no nulls
    val feed = TimeTravel.readRowChanges(spark, root2, vPre, v2)
    assert(feed.columns.contains("price") &&
      !feed.columns.contains("o_totalprice"))
    assert(feed.filter(col("price").isNull).count() === 0L,
      "mapped merge CDC null-filled the renamed column")
    assert(feed.filter(col("_change_type") === "insert").count() === 1L)
  }

  test("writerFeatures protocol gate: unknown writer features refuse every write path, reads unaffected (r18)") {
    val root = newRoot()
    val base = orders.limit(200)
    assert(TimeTravel.commit(spark, root, base.limit(100)) === 0)
    assert(TimeTravel.commit(spark, root, base) === 1)
    // hand-forge a commit from a FUTURE writer requiring a writer
    // feature this build does not know — readers must stay untouched,
    // every write path must refuse by NAME with the log unchanged
    val forged =
      """{"version":2,"ts":["99999999999999"],"added":[],"removed":[],""" +
        """"wfeatures":["v9-vector-clocks"]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/2.json"), forged)
    // READS pass — wfeatures gates writers only (the protocol split)
    assert(TimeTravel.readAsOf(spark, root, 2).count()
      === base.limit(100).count() + base.count())
    val dataBefore = new java.io.File(s"$root/data").listFiles().length
    // library append refuses BEFORE staging
    val e1 = intercept[UnsupportedOperationException] {
      TimeTravel.commit(spark, root, base.limit(10))
    }
    assert(e1.getMessage.contains("v9-vector-clocks"), e1.getMessage)
    assert(new java.io.File(s"$root/data").listFiles().length === dataBefore,
      "a refused write staged files")
    // metadata writes refuse through the commitNames chokepoint
    val e2 = intercept[UnsupportedOperationException] {
      TimeTravel.setProperty(spark, root, "k", "v")
    }
    assert(e2.getMessage.contains("v9-vector-clocks"))
    // maintenance verbs refuse before heavy work
    val e3 = intercept[UnsupportedOperationException] {
      TimeTravel.compact(spark, root, 1)
    }
    assert(e3.getMessage.contains("v9-vector-clocks"))
    // the DSv2 catalog INSERT refuses too
    val wh = root.stripSuffix("/t")
    withSqlConf(
      "spark.sql.catalog.wfc" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.wfc.warehouse" -> wh) {
      val e = intercept[Exception] {
        spark.sql("INSERT INTO wfc.t SELECT * FROM wfc.t LIMIT 1")
      }
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("v9-vector-clocks"))), s"wrong failure: $e")
    }
    // the log is byte-unchanged: still exactly generations 0..2
    assert(TimeTravel.currentVersion(root) === 2)

    // KNOWN writer features record and checkpoint-fold: constraints
    // bind writers (check-constraints), DV deletes bind both arrays
    val root2 = newRoot()
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    TimeTravel.commitClustered(spark, root2, base, "o_orderkey", 4)
    TimeTravel.addConstraint(spark, root2, "pos", "o_totalprice > 0")
    TimeTravel.deleteVectorWhere(spark, root2, "o_orderkey",
      keys(0), keys(19))
    assert(TimeTravel.writerFeaturesAsOf(root2,
      TimeTravel.currentVersion(root2))
      === Set("check-constraints", "deletion-vectors"))
    val ck = TimeTravel.checkpoint(root2)
    val ckTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root2/_graft_log/$ck.ckpt.json")), "UTF-8")
    assert(ckTxt.contains(
      "\"wfeatures\":[\"check-constraints\",\"deletion-vectors\"]"),
      "checkpoint dropped the writer-feature fold")
    // writes still pass — these features are supported
    TimeTravel.commit(spark, root2, base.limit(5))
    assert(TimeTravel.readAsOf(spark, root2,
      TimeTravel.currentVersion(root2)).count() === base.count() - 20 + 5)
  }

  test("branches: staged commits invisible to main, FF publishes atomically, pins + vacuum hold (r18)") {
    val root = newRoot()
    val base = orders.limit(600)
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 3 =!= 0))
    TimeTravel.checkpoint(root) // anchor for the expire probe below
    val v0 = TimeTravel.currentVersion(root)
    TimeTravel.createBranch(spark, root, "cand", v0)
    val vRef = TimeTravel.currentVersion(root) // the ref metadata commit
    // two branch commits: main's generation counter never moves
    TimeTravel.commitToBranch(spark, root, "cand",
      base.filter(col("o_orderkey") % 3 === 0 and col("o_orderkey") % 2 === 0))
    TimeTravel.commitToBranch(spark, root, "cand",
      base.filter(col("o_orderkey") % 3 === 0 and col("o_orderkey") % 2 === 1))
    assert(TimeTravel.currentVersion(root) === vRef,
      "a branch commit moved main's generation counter")
    assert(TimeTravel.readAsOf(spark, root, vRef).count()
      === base.filter(col("o_orderkey") % 3 =!= 0).count(),
      "main read sees branch rows before publish")
    // the branch head = base + both appends
    assert(TimeTravel.readBranch(spark, root, "cand").count() === base.count())
    assert(TimeTravel.branchesFor(root, vRef) === Map("cand" -> v0))
    // vacuum keeps the branch's staged (main-unreferenced) files
    assert(TimeTravel.vacuum(root).isEmpty,
      "vacuum deleted an unpublished branch's files")
    assert(TimeTravel.readBranch(spark, root, "cand").count() === base.count())
    // the base generation is pinned against retention
    val eP = intercept[IllegalArgumentException] {
      TimeTravel.expireHistory(root, vRef)
    }
    assert(eP.getMessage.contains(s"cand@$v0"), eP.getMessage)
    // FAST-FORWARD: one atomic commit lands the delta and clears the ref
    val v2 = TimeTravel.fastForward(spark, root, "cand")
    assert(v2 === vRef + 1)
    assert(TimeTravel.readAsOf(spark, root, v2).count() === base.count())
    assert(TimeTravel.branchesFor(root, v2).isEmpty, "FF left the ref")
    assert(TimeTravel.branchesFor(root, vRef) === Map("cand" -> v0),
      "history lost the ref's lifetime")
    // nrows carried: history reports the published commit's row count
    val h = TimeTravel.history(spark, root)
      .filter(col("version") === v2).head()
    assert(h.getLong(4) === base.filter(col("o_orderkey") % 3 === 0).count())
    assert(h.getString(5).contains("branch-publish"))

    // a branch whose base main has MOVED PAST refuses to fast-forward
    TimeTravel.createBranch(spark, root, "late", v2)
    TimeTravel.commitToBranch(spark, root, "late", base.limit(10))
    TimeTravel.commit(spark, root, base.limit(5)) // main advances
    val eF = intercept[IllegalArgumentException] {
      TimeTravel.fastForward(spark, root, "late")
    }
    assert(eF.getMessage.contains("re-create the branch"), eF.getMessage)
    // ... and DROP releases everything; vacuum then eats the staged files
    val staged = new java.io.File(s"$root/data").listFiles().length
    TimeTravel.dropBranch(spark, root, "late")
    assert(TimeTravel.vacuum(root).nonEmpty,
      "dropping the branch did not release its staged files")
    assert(new java.io.File(s"$root/data").listFiles().length < staged)

    // MAPPED table: branch appends store physical bytes, read logically
    val root2 = newRoot()
    val b2 = Tables.table(spark, sf, "orders").limit(300)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commit(spark, root2, b2)
    TimeTravel.renameColumn(spark, root2, "o_totalprice", "price")
    TimeTravel.createBranch(spark, root2, "m", 1)
    TimeTravel.commitToBranch(spark, root2, "m",
      b2.limit(20).select((col("o_orderkey") + 5000000L).as("o_orderkey"),
        col("o_totalprice").as("price")))
    val br = TimeTravel.readBranch(spark, root2, "m")
    assert(br.columns.toSeq === Seq("o_orderkey", "price"))
    assert(br.count() === 320)
    assert(br.filter(col("price").isNull).count() === 0L,
      "branch append null-filled a renamed column")
    val vm = TimeTravel.fastForward(spark, root2, "m")
    val pub = TimeTravel.readAsOfMapped(spark, root2, vm)
    assert(pub.count() === 320)
    assert(pub.filter(col("price").isNull).count() === 0L)
  }

  test("branch sequences parse past 9 commits; dashed names never collide (r18)") {
    // with '-' as the name/seq separator, branch "x" commit 12 parsed
    // as branch "x-1" commit 2 — any ≥10-commit branch silently lost
    // commits and dashed names cross-contaminated ('@' separator now)
    val root = newRoot()
    val base = orders.limit(130)
    TimeTravel.commit(spark, root, base.limit(10))
    TimeTravel.createBranch(spark, root, "x", 0)
    TimeTravel.createBranch(spark, root, "x-1", 0)
    for (i <- 0 until 12)
      TimeTravel.commitToBranch(spark, root, "x",
        base.offset(10 + i * 10).limit(10))
    TimeTravel.commitToBranch(spark, root, "x-1", base.offset(10).limit(10))
    graft.GraftFunctions.register(spark)
    val listed = spark.sql(s"SELECT * FROM graft_branches('$root')")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(listed === Map("x" -> 12L, "x-1" -> 1L),
      s"branch commit listing mixed up sequences: $listed")
    assert(TimeTravel.readBranch(spark, root, "x").count() === 130L)
    assert(TimeTravel.readBranch(spark, root, "x-1").count() === 20L)
  }

  test("cherry-pick publishes one branch commit onto an ADVANCED main; double-picks and stale constraints refuse (r18)") {
    val root = newRoot()
    val base = orders.limit(600)
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 3 === 1))
    TimeTravel.createBranch(spark, root, "cand", 0)
    TimeTravel.commitToBranch(spark, root, "cand",
      base.filter(col("o_orderkey") % 3 === 2))     // branch commit 0
    TimeTravel.commitToBranch(spark, root, "cand",
      base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * -1)) // commit 1
    // main ADVANCES: fast-forward is off the table
    TimeTravel.commit(spark, root, base.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 9000000L))
    intercept[IllegalArgumentException] {
      TimeTravel.fastForward(spark, root, "cand")
    }
    // …but ONE branch commit cherry-picks onto the new head, no copy
    val dataBefore = new java.io.File(s"$root/data").listFiles().length
    val v = TimeTravel.cherryPick(spark, root, "cand", 0)
    assert(new java.io.File(s"$root/data").listFiles().length === dataBefore,
      "cherry-pick copied data bytes")
    assert(TimeTravel.readAsOf(spark, root, v).count()
      === base.filter(col("o_orderkey") % 3 === 1).count() + 5 +
        base.filter(col("o_orderkey") % 3 === 2).count())
    // a second pick of the same commit refuses (would duplicate rows)
    val eD = intercept[IllegalArgumentException] {
      TimeTravel.cherryPick(spark, root, "cand", 0)
    }
    assert(eD.getMessage.contains("already"), eD.getMessage)
    // a constraint added AFTER the branch commit gates the pick: branch
    // commit 1 carries negative prices and must refuse
    TimeTravel.addConstraint(spark, root, "pos", "o_totalprice > 0")
    val eC = intercept[IllegalArgumentException] {
      TimeTravel.cherryPick(spark, root, "cand", 1)
    }
    assert(eC.getMessage.contains("pos"), eC.getMessage)
    // the branch stays live throughout; dropping releases its files
    assert(TimeTravel.branchesFor(root,
      TimeTravel.currentVersion(root)).contains("cand"))
    TimeTravel.dropBranch(spark, root, "cand")
    assert(TimeTravel.vacuum(root).nonEmpty,
      "the unpicked branch commit's files were not released")
    // the PICKED files survived the vacuum (they are main-referenced)
    assert(TimeTravel.readAsOf(spark, root,
      TimeTravel.currentVersion(root)).count()
      === base.filter(col("o_orderkey") % 3 === 1).count() + 5 +
        base.filter(col("o_orderkey") % 3 === 2).count())
  }

  test("graft_zorder takes 2-4 columns; the N-dim maintenance rewrite prunes every dimension (r18)") {
    val root = newRoot()
    val src = Tables.table(spark, sf, "orders").limit(800)
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice")).cast("long").as("pl"))
    TimeTravel.commit(spark, root, src)
    graft.GraftFunctions.register(spark)
    val rep = spark.sql(s"SELECT * FROM graft_zorder('$root', " +
      "'o_orderkey', 'o_custkey', 'pl', 8)").head()
    val v = rep.getLong(0).toInt
    val files = TimeTravel.snapshotFiles(root, v)
    val st = TimeTravel.statsFor(root, v)
    assert(files.forall(f => Seq("o_orderkey", "o_custkey", "pl")
      .forall(c => st.contains((f, c)))), "missing per-dimension stats")
    // the TERTIARY dimension's band read prunes from log metadata —
    // a band inside the scaled LOWER HALF of pl (the 8-cell layout
    // gives each dimension one prefix bit, splitting at mid-RANGE)
    val ks = src.select("pl").collect().map(_.getLong(0)).sorted
    val mid = (ks.head + ks.last) / 2
    val (lo, hi) = (ks.head, math.min(ks(300), mid - 1))
    val kept = files.count(f => st.get((f, "pl"))
      .forall { case (l, h) => h >= lo && l <= hi })
    assert(kept < files.size, "tertiary-dim pruning kept everything")
    assert(TimeTravel.readAsOfWhere(spark, root, v, "pl", lo, hi).count()
      === src.filter(col("pl").between(lo, hi)).count())
  }

  test("cherry-pick keeps main's evolved schema; re-picks refuse even after compaction; branch reads fill defaults (r18 review)") {
    val root = newRoot()
    val base = orders.limit(300)
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 2 === 0))
    TimeTravel.createBranch(spark, root, "c", 0)
    TimeTravel.commitToBranch(spark, root, "c",
      base.filter(col("o_orderkey") % 2 === 1))
    // main EVOLVES after the branch commit: a defaulted column lands
    TimeTravel.addColumnMapped(spark, root, "flag", "BIGINT", Some("7"))
    // the pick must NOT regress the head schema to the branch-era one
    val v = TimeTravel.cherryPick(spark, root, "c", 0)
    assert(TimeTravel.schemaAsOf(root, v)
      .exists(_.fieldNames.contains("flag")),
      "cherry-pick erased main's schema evolution")
    val head = TimeTravel.readAsOfMapped(spark, root, v)
    assert(head.count() === base.count())
    assert(head.filter(col("flag").isNull || col("flag") =!= 7)
      .count() === 0L, "picked rows lost the column default")
    // post-fork branch commits store the ADDED column under its fresh
    // physical name (current-colmap staging): the values survive a pick
    TimeTravel.commitToBranch(spark, root, "c",
      base.limit(10)
        .select((col("o_orderkey") + 7000000L).as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
        .withColumn("flag", lit(9L)))
    val v2 = TimeTravel.cherryPick(spark, root, "c", 1)
    assert(TimeTravel.readAsOfMapped(spark, root, v2)
      .filter(col("flag") === 9).count() === 10L,
      "a post-fork added column's branch values were lost")
    // a COMPACTION retires the picked files; the re-pick must STILL
    // refuse — the rows live on in the packed outputs, and the old
    // live-set guard alone would have duplicated every one of them
    TimeTravel.compact(spark, root, 1)
    val e = intercept[IllegalArgumentException] {
      TimeTravel.cherryPick(spark, root, "c", 0)
    }
    assert(e.getMessage.contains("already cherry-picked"), e.getMessage)
    assert(TimeTravel.readAsOfMapped(spark, root,
      TimeTravel.currentVersion(root)).count() === base.count() + 10)

    // a branch over a DEFAULTED table reads the default, not NULL —
    // the same fill every other read path serves
    val root2 = newRoot()
    TimeTravel.commit(spark, root2, base.limit(50))
    TimeTravel.addColumnMapped(spark, root2, "region", "BIGINT", Some("3"))
    TimeTravel.createBranch(spark, root2, "b", 1)
    TimeTravel.commitToBranch(spark, root2, "b",
      base.offset(50).limit(10).withColumn("region", lit(5L)))
    val br = TimeTravel.readBranch(spark, root2, "b")
    assert(br.filter(col("region").isNull).count() === 0L,
      "branch read null-filled a defaulted column")
    assert(br.filter(col("region") === 3).count() === 50L)
    assert(br.filter(col("region") === 5).count() === 10L)

    // a main-side RENAME after the fork must not null the branch's
    // view (base-era logical names keep resolving through the merged
    // mapping), and a pick of the pre-rename commit lands real values
    // under the NEW name
    val root3 = newRoot()
    val b3 = base.limit(40).select(col("o_orderkey"),
      col("o_totalprice").cast("double").as("price"))
    TimeTravel.commit(spark, root3, b3)
    TimeTravel.createBranch(spark, root3, "r", 0)
    TimeTravel.commitToBranch(spark, root3, "r",
      b3.limit(5).select((col("o_orderkey") + 1000000L).as("o_orderkey"),
        col("price")))
    TimeTravel.renameColumn(spark, root3, "price", "cost")
    val br3 = TimeTravel.readBranch(spark, root3, "r")
    assert(br3.columns.toSeq === Seq("o_orderkey", "price"))
    assert(br3.filter(col("price").isNull).count() === 0L,
      "a rename after the fork nulled the branch view")
    assert(br3.count() === 45L)
    val vr = TimeTravel.cherryPick(spark, root3, "r", 0)
    val hr = TimeTravel.readAsOfMapped(spark, root3, vr)
    assert(hr.columns.toSeq === Seq("o_orderkey", "cost"))
    assert(hr.filter(col("cost").isNull).count() === 0L,
      "the pick nulled the renamed column")
    assert(hr.count() === 45L)
  }

  test("deep clone survives source destruction; DVs, stats, mapping, constraints carry (r18)") {
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders").limit(600)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    TimeTravel.renameColumn(spark, root, "o_totalprice", "price")
    TimeTravel.addConstraint(spark, root, "pos", "price > 0")
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey",
      keys(0), keys(99))
    def decSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("price").cast("decimal(18,2)"))).head().getDecimal(0)
    val want = decSum(TimeTravel.readAsOfMapped(spark, root,
      TimeTravel.currentVersion(root)))
    val dst = newRoot()
    assert(TimeTravel.deepClone(spark, root, dst) === 0)
    val got = TimeTravel.readAsOfMapped(spark, dst, 0)
    assert(got.columns.toSeq === Seq("o_orderkey", "price"))
    assert(got.count() === base.count() - 100,
      "the clone lost the source's deletion vectors")
    assert(decSum(got).compareTo(want) === 0)
    // stats carried re-keyed: pruned reads keep pruning on the clone
    val st = TimeTravel.statsFor(dst, 0)
    assert(TimeTravel.snapshotFiles(dst, 0)
      .forall(f => st.contains((f, "o_orderkey"))), "stats not carried")
    // constraints carried: a violating commit refuses on the CLONE
    intercept[IllegalArgumentException] {
      TimeTravel.commit(spark, dst,
        base.limit(1).select(col("o_orderkey"),
          lit(-5.0).as("price")))
    }
    // the whole point: DESTROY the source — the clone is unaffected
    WorkDirs.deleteTree(java.nio.file.Paths.get(root))
    assert(!new java.io.File(root).exists())
    assert(TimeTravel.readAsOfMapped(spark, dst, 0).count()
      === base.count() - 100)
    assert(decSum(TimeTravel.readAsOfMapped(spark, dst, 0))
      .compareTo(want) === 0)
    // every clone file is self-owned: vacuum reclaims nothing
    assert(TimeTravel.vacuum(dst).isEmpty)
  }

  test("ops surface: graft_partitions sizes groups, optimize_where packs one, vacuum_dry deletes nothing, restore_ts rolls back (r18)") {
    val root = newRoot()
    val base = orders.limit(600)
    TimeTravel.commitPartitioned(spark, root, base, "o_orderpriority")
    val ts0 = TimeTravel.commitTimes(root).head._2
    val med = base.filter(col("o_orderpriority") === "3-MEDIUM")
    for (i <- 0 until 3)
      TimeTravel.commitPartitioned(spark, root,
        med.offset(i * 10).limit(10), "o_orderpriority")
    graft.GraftFunctions.register(spark)
    // partitions metadata: per-group file counts and LIVE row counts
    // from commit-log metadata alone
    val pm = spark.sql(s"SELECT * FROM graft_partitions('$root')")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val medKey = "o_orderpriority|=|3-MEDIUM"
    assert(pm(medKey)._1 === 4L, s"group files: $pm")
    assert(pm(medKey)._2 === med.count() + 30)
    val otherKey = pm.keys.find(k => k != medKey).get
    assert(pm(otherKey)._1 === 1L)
    // partition-scoped OPTIMIZE: only the 3-MEDIUM group packs
    val before = TimeTravel.snapshotFiles(root,
      TimeTravel.currentVersion(root))
    val rep = spark.sql(s"SELECT * FROM graft_optimize_where('$root', " +
      "'o_orderpriority', '3-MEDIUM', 1)").head()
    val v = rep.getLong(0).toInt
    val after = TimeTravel.snapshotFiles(root, v)
    val tv = TimeTravel.tvalsFor(root, v)
    assert(after.count(f => tv((f, "o_orderpriority"))._2 == "3-MEDIUM")
      === 1, "the scoped optimize did not pack the group")
    assert((before.toSet intersect after.toSet).nonEmpty,
      "the scoped optimize rewrote untouched partitions")
    assert(TimeTravel.readAsOfValue(spark, root, v,
      "o_orderpriority", "3-MEDIUM").count() === med.count() + 30)
    // VACUUM DRY RUN: reports the orphan, deletes nothing
    base.limit(30).write.mode("overwrite").parquet(s"$root/orphan")
    val of = new java.io.File(s"$root/orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(of.toPath,
      java.nio.file.Paths.get(s"$root/data/orphan-${of.getName}"))
    val dry = spark.sql(s"SELECT * FROM graft_vacuum_dry('$root')")
      .collect().map(_.getString(0)).toSeq
    assert(dry === Seq(s"orphan-${of.getName}"), s"dry run: $dry")
    assert(new java.io.File(s"$root/data/orphan-${of.getName}").exists(),
      "DRY RUN deleted a file")
    assert(TimeTravel.vacuum(root) === dry, "vacuum disagreed with dry run")
    // RESTORE TIMESTAMP AS OF: back to the first commit's instant
    val rrep = spark.sql(
      s"SELECT * FROM graft_restore_ts('$root', ${ts0}L)").head()
    assert(rrep.getLong(1) === 0L)
    assert(TimeTravel.readAsOf(spark, root,
      TimeTravel.currentVersion(root)).count() === base.count())
  }

  test("parquet multi-part checkpoints: DVs, stats, nrows, txn ride retention; resolution stays O(tail) (r19)") {
    val root = newRoot()
    TimeTravel.CkptParquetMinLines = 0
    try {
      TimeTravel.commitClustered(spark, root, orders, "o_orderkey", 4)
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", 0L, mx / 10)
      // the idempotent append stays ABOVE the band and the mask range,
      // so live-row expectations stay closed-form
      TimeTravel.commitTxn(spark, root,
        orders.filter(col("o_orderkey") > mx / 2).limit(10), "pq-app", 3L)
      val v = TimeTravel.currentVersion(root)
      assert(TimeTravel.checkpoint(root, v) === v)
      // format: a sidecar parts DIRECTORY + a small manifest carrying
      // the reader-feature gate pre-r19 builds refuse on
      assert(new java.io.File(s"$root/_graft_log/$v.ckpt.parquet")
        .isDirectory, "no parquet parts directory")
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/_graft_log/$v.ckpt.json")), "UTF-8")
      assert(manifest.contains(""""format":["parquet"]"""))
      assert(manifest.contains("ckpt-parquet"))
      assert(!manifest.contains(""""files":"""),
        "the manifest still inlines the O(files) payload")
      // the format marker gates the checkpoint FILE, not the table
      assert(!TimeTravel.featuresAsOf(root, v).contains("ckpt-parquet"))
      // checkpointed resolution: zero tail commit parses
      val (filesAt, parsed) = TimeTravel.resolveSnapshot(root, v)
      assert(parsed === 0, s"parquet checkpoint did not bound the log: $parsed")
      // retention: the checkpoint is now the only carrier of state
      TimeTravel.expireHistory(root, v)
      val liveCount = orders.filter(col("o_orderkey") > mx / 10).count() + 10
      assert(TimeTravel.readAsOf(spark, root, v).count() === liveCount,
        "DV masks lost through a parquet checkpoint + retention")
      assert(TimeTravel.lastTxnVersion(root, "pq-app") === Some(3L),
        "txn records lost through a parquet checkpoint + retention")
      assert(TimeTravel.schemaAsOf(root, v).map(_.fieldNames.toSeq) ===
        Some(Seq("o_orderkey", "o_orderpriority", "o_totalprice")))
      assert(TimeTravel.statsFor(root, v).nonEmpty &&
        TimeTravel.nrowsFor(root, v).nonEmpty)
      // range pruning still runs off the checkpoint's stats rows
      val band = TimeTravel.readAsOfWhere(spark, root, v, "o_orderkey",
        mx / 4, mx / 2)
      assert(band.count() ===
        orders.filter(col("o_orderkey").between(mx / 4, mx / 2)).count())
      assert(band.inputFiles.length < filesAt.size,
        "stats pruning lost through the parquet checkpoint")
      // two more commits: resolution = checkpoint + 2 tail parses
      TimeTravel.commit(spark, root, orders.limit(5))
      TimeTravel.commit(spark, root, orders.limit(6))
      assert(TimeTravel.resolveSnapshot(root, v + 2)._2 === 2)
      assert(TimeTravel.readAsOf(spark, root, v + 2).count() ===
        liveCount + 11)
    } finally TimeTravel.CkptParquetMinLines = 4096
  }

  test("parquet checkpoints: blooms ride the binary column; key lookups keep pruning (r19)") {
    val root = newRoot()
    TimeTravel.CkptParquetMinLines = 0
    try {
      TimeTravel.commitBloomed(spark, root, orders, "o_orderkey", 4)
      TimeTravel.checkpoint(root, 0)
      assert(new java.io.File(s"$root/_graft_log/0.ckpt.parquet").isDirectory)
      TimeTravel.setProperty(spark, root, "graft.retention", "test")
      TimeTravel.expireHistory(root, 1)
      val key = orders.agg(min("o_orderkey")).head().getLong(0)
      val hit = TimeTravel.readAsOfKeys(spark, root, 1, "o_orderkey", Seq(key))
      assert(hit.count() === orders.filter(col("o_orderkey") === key).count())
      assert(hit.inputFiles.length <= 2,
        s"bloom pruning lost: scanned ${hit.inputFiles.length} of 4")
      assert(TimeTravel.readAsOfKeys(spark, root, 1, "o_orderkey",
        Seq(-12345L)).count() === 0)
    } finally TimeTravel.CkptParquetMinLines = 4096
  }

  test("parquet checkpoints split into size-targeted parts; legacy and parquet coexist in one log (r19)") {
    val root = newRoot()
    TimeTravel.CkptParquetMinLines = 0
    TimeTravel.CkptRowsPerPart = 50
    try {
      TimeTravel.commitClustered(spark, root, orders, "o_orderkey", 64)
      val (before, _) = TimeTravel.resolveSnapshot(root, 0)
      TimeTravel.checkpoint(root, 0)
      // 64 files + 64 stats + 64 nrows = 192 lines / 50 per part = 4
      val parts = new java.io.File(s"$root/_graft_log/0.ckpt.parquet")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === 4,
        s"expected 4 size-targeted parts, got ${parts.length}")
      val (after, parsed) = TimeTravel.resolveSnapshot(root, 0)
      assert(parsed === 0 && after.sorted === before.sorted,
        "multi-part resolution changed the snapshot")
      // a LEGACY checkpoint later in the same log takes over as base
      TimeTravel.CkptParquetMinLines = Int.MaxValue
      TimeTravel.commit(spark, root, orders.limit(5))
      TimeTravel.checkpoint(root, 1)
      assert(!new java.io.File(s"$root/_graft_log/1.ckpt.parquet").exists())
      assert(TimeTravel.resolveSnapshot(root, 1)._2 === 0)
      assert(TimeTravel.readAsOf(spark, root, 1).count() ===
        orders.count() + 5)
      // retention deletes the parquet parts with their manifest (the
      // legacy checkpoint at 1 anchors, so the parquet one at 0 drops)
      TimeTravel.commit(spark, root, orders.limit(3))
      TimeTravel.expireHistory(root, 2)
      assert(!new java.io.File(s"$root/_graft_log/0.ckpt.parquet").exists(),
        "expired parquet checkpoint left its parts directory behind")
      assert(!new java.io.File(s"$root/_graft_log/0.ckpt.json").exists())
      assert(TimeTravel.readAsOf(spark, root, 2).count() ===
        orders.count() + 8)
    } finally {
      TimeTravel.CkptParquetMinLines = 4096
      TimeTravel.CkptRowsPerPart = 100000
    }
  }

  test("branch DML: copy-on-write stays branch-local; FF publishes adds+removes; rebase refuses removes (r19)") {
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, orders, "o_orderkey", 4)
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    TimeTravel.createBranch(spark, root, "fix", 0)
    // DELETE the low band on the branch: stats-pruned copy-on-write
    assert(TimeTravel.deleteFromBranchWhere(spark, root, "fix",
      "o_orderkey", 0L, mx / 4) === 0)
    val br1 = TimeTravel.readBranch(spark, root, "fix")
    assert(br1.filter(col("o_orderkey") <= mx / 4).count() === 0L)
    assert(br1.count() ===
      orders.filter(col("o_orderkey") > mx / 4).count())
    // pruning: non-overlapping clustered files survive UNREWRITTEN
    val baseNames = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSet
    val headNames = br1.select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    assert((headNames intersect baseNames).nonEmpty,
      "branch delete rewrote files outside the band")
    // main sees none of it
    assert(TimeTravel.readAsOf(spark, root, 0).count() === orders.count())
    // UPDATE a high band on the branch: zero the price
    val tp = orders.schema("o_totalprice").dataType
    assert(TimeTravel.updateBranchWhere(spark, root, "fix", "o_orderkey",
      mx / 2, mx, "o_totalprice", lit(0).cast(tp)) === 1)
    val br2 = TimeTravel.readBranch(spark, root, "fix")
    assert(br2.filter(col("o_orderkey") >= mx / 2 &&
      col("o_totalprice") =!= 0).count() === 0L)
    // FF publishes the whole fixed state as ONE atomic main commit
    val v = TimeTravel.fastForward(spark, root, "fix")
    val head = TimeTravel.readAsOf(spark, root, v)
    assert(head.count() === orders.filter(col("o_orderkey") > mx / 4).count())
    assert(head.filter(col("o_orderkey") >= mx / 2 &&
      col("o_totalprice") =!= 0).count() === 0L)
    // gen 0 still serves the pre-fix truth
    assert(TimeTravel.readAsOf(spark, root, 0).count() === orders.count())
    // a remove-carrying branch cannot rebase (its removes name a moved
    // world) — loud refusal, nothing half-published
    TimeTravel.createBranch(spark, root, "fix2", v)
    TimeTravel.deleteFromBranchWhere(spark, root, "fix2", "o_orderkey",
      mx / 2, mx)
    TimeTravel.commit(spark, root, orders.limit(10)) // main advances
    val before = TimeTravel.currentVersion(root)
    val e = intercept[IllegalArgumentException] {
      TimeTravel.rebase(spark, root, "fix2")
    }
    assert(e.getMessage.contains("removes files"))
    assert(TimeTravel.currentVersion(root) === before,
      "a refused rebase landed commits")
    TimeTravel.dropBranch(spark, root, "fix2")
  }

  test("branch DML translates through the branch mapping on a renamed table (r19)") {
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, orders, "o_orderkey", 4)
    TimeTravel.renameColumn(spark, root, "o_orderkey", "okey")
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val gen = TimeTravel.currentVersion(root)
    TimeTravel.createBranch(spark, root, "m", gen)
    // the LOGICAL name drives the delete; stats stay physical-keyed
    TimeTravel.deleteFromBranchWhere(spark, root, "m", "okey", 0L, mx / 2)
    val br = TimeTravel.readBranch(spark, root, "m")
    assert(br.columns.contains("okey"))
    assert(br.filter(col("okey") <= mx / 2).count() === 0L)
    assert(br.count() === orders.filter(col("o_orderkey") > mx / 2).count())
    val v = TimeTravel.fastForward(spark, root, "m")
    assert(TimeTravel.readAsOfMapped(spark, root, v)
      .filter(col("okey") <= mx / 2).count() === 0L)
  }

  test("distributed vacuum reclaims the identical set the driver loop plans (r19)") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(100))
    // plant MANY orphans: enough to exercise the multi-task delete
    orders.limit(200).repartition(24).write.mode("overwrite")
      .parquet(s"$root/orphans")
    val moved = new java.io.File(s"$root/orphans").listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val dst = java.nio.file.Paths.get(s"$root/data/orph-${f.getName}")
        java.nio.file.Files.move(f.toPath, dst)
        dst.getFileName.toString
      }.toSeq.sorted
    assert(moved.size >= 20)
    val planned = TimeTravel.vacuumDryRun(root, 0L)
    assert(planned === moved, "dry run disagreed with the planted set")
    TimeTravel.VacuumDistributedMin = 1 // force the job path
    try {
      val reclaimed = TimeTravel.vacuum(root)
      assert(reclaimed === planned,
        "the distributed delete reclaimed a different set than planned")
      moved.foreach(n => assert(
        !new java.io.File(s"$root/data/$n").exists(), s"$n survived"))
      // committed files untouched; the table still reads
      assert(TimeTravel.readAsOf(spark, root, 0).count() === 100L)
    } finally TimeTravel.VacuumDistributedMin = 64
  }

  test("ANALYZE NDV: sketches ride checkpoints and retention; pruned scans union only survivors (r19)") {
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, orders, "o_orderkey", 4)
    val n = orders.count()
    TimeTravel.analyzeNdv(spark, root, Seq("o_orderkey", "o_orderpriority"))
    // the sketches resolve from the log, keyed (file, col)
    val gen = TimeTravel.currentVersion(root)
    assert(TimeTravel.ndvsFor(root, gen).size === 8) // 4 files × 2 cols
    // checkpoint + retention: the fold survives in BOTH formats
    TimeTravel.CkptParquetMinLines = 0
    try {
      TimeTravel.checkpoint(root, gen)
      TimeTravel.expireHistory(root, gen)
      assert(TimeTravel.ndvsFor(root, gen).size === 8,
        "NDV sketches lost through a parquet checkpoint + retention")
    } finally TimeTravel.CkptParquetMinLines = 4096
    // the DSv2 scan surfaces the union as column stats; a PRUNED scan
    // unions only its surviving files' sketches
    val wh = root.stripSuffix("/t")
    withSqlConf(
      "spark.sql.catalog.nvcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.nvcat.warehouse" -> wh,
      "spark.sql.cbo.enabled" -> "true") {
      def ndvOf(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.optimizedPlan.stats.attributeStats.toSeq
          .collectFirst { case (a, cs) if a.name == "o_orderkey" =>
            cs.distinctCount }.flatten.map(_.toLong).getOrElse(-1L)
      val full = ndvOf(spark.sql("SELECT * FROM nvcat.t"))
      assert(full > n * 9 / 10 && full < n * 11 / 10,
        s"full-scan NDV estimate off: $full vs $n rows")
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val pruned = ndvOf(spark.sql(
        s"SELECT * FROM nvcat.t WHERE o_orderkey <= ${mx / 4}"))
      // the quarter band keeps 1 of 4 range-clustered files — 2 when a
      // sampled range boundary spills past mx/4 — so the surviving
      // union must sit clearly below the full fold either way
      assert(pruned > 0 && pruned < full * 3 / 4,
        s"pruned-scan NDV did not track the surviving files: " +
          s"$pruned vs $full")
    }
  }

  test("dropBranch refuses a nonexistent branch without landing a commit") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(20))
    val before = TimeTravel.currentVersion(root)
    val e = intercept[IllegalArgumentException] {
      TimeTravel.dropBranch(spark, root, "ghost")
    }
    assert(e.getMessage.contains("no branch 'ghost'"))
    assert(TimeTravel.currentVersion(root) === before,
      "a refused drop still landed a metadata commit")
  }

  test("readBranch at an empty/truncated base answers an empty frame") {
    val root = newRoot()
    val df = orders.limit(40)
    TimeTravel.commit(spark, root, df)
    // truncate: remove-only commit (the catalog's TRUNCATE TABLE shape)
    val all = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSeq
    TimeTravel.commitStagedFiles(spark, root, Nil, df.schema.toDDL,
      removed = all)
    TimeTravel.createBranch(spark, root, "fresh",
      TimeTravel.currentVersion(root))
    val br = TimeTravel.readBranch(spark, root, "fresh")
    assert(br.count() === 0L)
    assert(br.columns.toSeq ===
      Seq("o_orderkey", "o_orderpriority", "o_totalprice"))
    // and a branch commit after the empty base reads back normally
    TimeTravel.commitToBranch(spark, root, "fresh", df.limit(7))
    assert(TimeTravel.readBranch(spark, root, "fresh").count() === 7L)
    TimeTravel.dropBranch(spark, root, "fresh")
  }

  test("createBranch refuses leftover commit files from a raced drop") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(30))
    TimeTravel.createBranch(spark, root, "w", 0)
    TimeTravel.commitToBranch(spark, root, "w", orders.limit(5))
    // simulate a racer whose staged branch commit survived the drop:
    // keep a copy of the commit file, drop the branch, plant it back
    val bf = new java.io.File(s"$root/_graft_log/b-w@0.json")
    val bytes = java.nio.file.Files.readAllBytes(bf.toPath)
    TimeTravel.dropBranch(spark, root, "w")
    java.nio.file.Files.write(bf.toPath, bytes)
    val e = intercept[IllegalArgumentException] {
      TimeTravel.createBranch(spark, root, "w", 0)
    }
    assert(e.getMessage.contains("leftover branch commit files"))
    // cleanup restores creatability
    bf.delete()
    TimeTravel.createBranch(spark, root, "w", 0)
    TimeTravel.dropBranch(spark, root, "w")
  }

  test("a rewrite planned under a stale DDL epoch conflicts loudly") {
    val root = newRoot()
    TimeTravel.commitClustered(spark, root, orders.limit(100),
      "o_orderkey", 2)
    val gen = TimeTravel.currentVersion(root)
    val stale = TimeTravel.ddlEpoch(root, gen)
    val kept = TimeTravel.readAsOf(spark, root, gen)
      .filter(col("o_orderkey") % 2 === 0)
    // an interleaved metadata-only RENAME between the read and the
    // commit: neither removed-live nor dvExpect fires, but the epoch
    // check must — the kept rows were staged under the old names
    TimeTravel.renameColumn(spark, root, "o_orderpriority", "prio")
    val e = intercept[java.util.ConcurrentModificationException] {
      TimeTravel.commitClustered(spark, root, kept, "o_orderkey", 2,
        ddlExpect = Some(stale))
    }
    assert(e.getMessage.contains("DDL conflict"))
    // re-planned against the current epoch, the rewrite lands and the
    // mapping survives: the renamed logical name still resolves
    val gen2 = TimeTravel.currentVersion(root)
    val kept2 = TimeTravel.readAsOfMapped(spark, root, gen2)
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("prio"), col("o_totalprice"))
    // logical frame under the CURRENT epoch commits cleanly
    TimeTravel.commitClustered(spark, root,
      kept2.withColumnRenamed("prio", "prio"), "o_orderkey", 2,
      removed = Nil, ddlExpect = Some(TimeTravel.ddlEpoch(root, gen2)))
    val head = TimeTravel.readAsOfMapped(spark, root,
      TimeTravel.currentVersion(root))
    assert(head.columns.contains("prio") &&
      !head.columns.contains("o_orderpriority"))
  }

  test("a failing auto-compact never fails the append that triggered it") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(50))
    // poison the thresholds: compactSmall's parse throws inside
    // autoCompactIfDue — best-effort means the trigger swallows (and
    // warns once), the table stays writable, the version only moves
    // for real commits
    TimeTravel.setProperty(spark, root, "graft.autoCompact", "true")
    TimeTravel.setProperty(spark, root,
      "graft.autoCompact.smallRows", "not-a-number")
    val v = TimeTravel.currentVersion(root)
    TimeTravel.autoCompactIfDue(spark, root) // must not throw
    assert(TimeTravel.currentVersion(root) === v,
      "a failed auto-compact landed a commit")
    assert(TimeTravel.commit(spark, root, orders.limit(10)) === v + 1)
    assert(TimeTravel.readAsOf(spark, root, v + 1).count() === 60L)
  }

  private def withSqlConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
