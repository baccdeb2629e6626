package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TimeTravel
import graft.sources.table.{TableDataSource, TableMetrics}

/** The q197–q200 DSv2 snapshot-table surface: stats-based file skipping,
  * footer-only aggregate pushdown, storage-partitioned joins, and
  * runtime (DPP) file pruning over the commit log. */
class TableSourceSpec extends SparkSpec {

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_ts_spec_").toString + "/t"

  private def orders = Tables.table(spark, sf, "orders")
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  private def dsv(root: String): DataFrame =
    spark.read.format(TableDataSource.NAME).load(root)

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Opened-file count scoped to one table root — [[TableMetrics]] is
    * JVM-global and suites run in parallel, so exact-count assertions
    * must not see other suites' concurrent DSv2 scans. */
  private def openedUnder(root: String): Int = {
    import scala.jdk.CollectionConverters._
    TableMetrics.openedDataFiles.asScala.count(_.startsWith(root))
  }

  private def shuffles(df: DataFrame): Int = {
    df.collect() // force, so AQE's final plan is the one inspected
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
  }

  test("q197 file skipping: a range filter opens only stats-overlapping files") {
    val root = newRoot()
    val base = orders.limit(800)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 8)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(keys.length / 4), keys(keys.length / 2))

    TableMetrics.reset()
    val got = dsv(root)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
    val expect = base.filter(col("o_orderkey").between(lo, hi))
    assert(got.count() === expect.count())
    // a quarter-range window over 8 cells overlaps at most 4
    val opened = TableMetrics.openedDataFiles.size()
    assert(opened > 0 && opened <= 4,
      s"file skipping opened $opened of 8 files")
    // the skip is visible in the plan, and the filter stays a residual
    val plan = got.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") || plan.contains("Filter"))
    // exactness: values, not just counts
    assert(got.agg(sum("o_orderkey")).head().getLong(0)
      === expect.agg(sum("o_orderkey")).head().getLong(0))
  }

  test("q197 equality on the partition value prunes to one value's files") {
    val root = newRoot()
    TimeTravel.commitPartitioned(spark, root, orders.limit(600),
      "o_orderpriority")
    val v = orders.limit(600).select("o_orderpriority")
      .distinct().orderBy("o_orderpriority").head().getString(0)
    TableMetrics.reset()
    val got = dsv(root).filter(col("o_orderpriority") === v)
    val n = got.count()
    assert(n === orders.limit(600).filter(col("o_orderpriority") === v).count())
    assert(TableMetrics.openedDataFiles.size() === 1,
      s"partition-value pruning opened ${TableMetrics.openedDataFiles.size()}")
  }

  test("q198 aggregate pushdown answers from footers: zero row-scanned files") {
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders").select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
      col("o_orderdate").cast("date").as("o_date"),
      when(col("o_orderkey") % 3 === 0, col("o_totalprice")).as("alt"))
      .limit(900)
    TimeTravel.commitPartitioned(spark, root, base, "o_orderpriority")

    TableMetrics.reset()
    val got = dsv(root).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("o_orderkey").as("klo"), max("o_orderkey").as("khi"),
        count(col("alt")).as("nalt"),
        min("o_date").as("dlo"), max("o_date").as("dhi"))
    val plan = got.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("footer aggregate"),
      s"aggregate was not pushed:\n$plan")
    val rows = got.collect()
    assert(TableMetrics.openedDataFiles.isEmpty,
      "aggregate pushdown row-scanned " +
        s"${TableMetrics.openedDataFiles.size()} files")
    assert(!TableMetrics.footerOnlyFiles.isEmpty)
    // exactness vs the frame the table was built from
    val expect = base.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("o_orderkey").as("klo"), max("o_orderkey").as("khi"),
        count(col("alt")).as("nalt"),
        min("o_date").as("dlo"), max("o_date").as("dhi"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    rows.foreach { r =>
      assert(expect(r.getString(0)) === r.toSeq.tail,
        s"footer aggregate mismatch for ${r.getString(0)}")
    }
  }

  test("q198 global (ungrouped) aggregate pushes down too") {
    val root = newRoot()
    val base = orders.limit(500)
    TimeTravel.commit(spark, root, base)
    TableMetrics.reset()
    val r = dsv(root)
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("klo"),
        max("o_orderkey").as("khi"),
        min("o_orderpriority").as("plo"), max("o_orderpriority").as("phi"))
      .head()
    assert(TableMetrics.openedDataFiles.isEmpty)
    val e = base.agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"),
      min("o_orderpriority"), max("o_orderpriority")).head()
    assert(r.toSeq === e.toSeq)
  }

  test("q198 unsupported aggregates fall back to the row scan, correctly") {
    val root = newRoot()
    val base = orders.limit(400)
    TimeTravel.commit(spark, root, base)
    TableMetrics.reset()
    // SUM has no footer statistic: the source must refuse and Spark
    // must scan rows
    val r = dsv(root)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s")).head()
    assert(!TableMetrics.openedDataFiles.isEmpty,
      "sum cannot be footer-answered; the row scan must run")
    assert(r.getDecimal(0) === base
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0))
  }

  test("q199 storage-partitioned join: co-partitioned tables join and aggregate with no exchange") {
    val evRoot = newRoot(); val odRoot = newRoot()
    val four = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      .limit(1000)
    TimeTravel.commitPartitioned(spark, evRoot,
      four.filter(col("o_orderkey") % 2 === 0), "o_orderpriority")
    TimeTravel.commitPartitioned(spark, odRoot,
      four.filter(col("o_orderkey") % 2 === 1), "o_orderpriority")

    def joined: DataFrame = {
      val e = dsv(evRoot).select(col("o_custkey").as("ck"),
        col("o_orderpriority").as("pr"),
        col("o_totalprice").cast("decimal(18,2)").as("et"))
      val o = dsv(odRoot).select(col("o_custkey").as("ck2"),
        col("o_orderpriority").as("pr2"),
        col("o_totalprice").cast("decimal(18,2)").as("ot"))
      e.join(o, col("ck") === col("ck2") && col("pr") === col("pr2"))
        .groupBy(col("pr"))
        .agg(count(lit(1)).as("pairs"),
          sum(col("et") + col("ot")).as("total"))
    }

    val (spjRows, spjShuffles) = withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = joined
      (df.collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .sortBy(_._1).toSeq, shuffles(df))
    }
    assert(spjShuffles === 0,
      s"storage-partitioned join still shuffled ($spjShuffles exchanges)")

    // same rows as the plain (shuffling) plan
    val plainRows = withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      joined.collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .sortBy(_._1).toSeq
    }
    assert(spjRows === plainRows)
    assert(spjRows.nonEmpty)
  }

  test("q200 runtime pruning: the DPP IN-set drops partition groups before any file opens") {
    val root = newRoot()
    TimeTravel.commitPartitioned(spark, root, orders.limit(1000),
      "o_orderpriority")
    val nVals = orders.limit(1000)
      .select("o_orderpriority").distinct().count().toInt
    assert(nVals >= 3)

    def run(): (Seq[(String, Long)], Int) = {
      TableMetrics.reset()
      val dim = orders.limit(1000)
        .select(col("o_orderpriority").as("p")).distinct()
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(md5(col("p").cast("binary")))))
        .filter(col("r") <= 2).select("p")
      val got = dsv(root).join(dim, col("o_orderpriority") === col("p"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      val openedVals = {
        import scala.jdk.CollectionConverters._
        TableMetrics.openedDataFiles.asScala.toSet.size
      }
      (got, openedVals)
    }

    val (rows, opened) = withConfs(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
        -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
        -> "10") { run() }
    assert(rows.size === 2)
    assert(opened === 2,
      s"runtime pruning opened $opened files, expected the 2 selected values'")
    // exactness vs the source frame
    val expect = orders.limit(1000).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    rows.foreach { case (p, n) => assert(expect(p) === n) }
  }

  test("q197–q204 declared queries run green at the spec's scale factor") {
    Seq("q197_dsv2_file_skipping", "q198_dsv2_agg_pushdown",
      "q199_dsv2_spj", "q200_dsv2_runtime_pruning",
      "q201_sql_catalog", "q202_dsv2_stats_broadcast",
      "q203_dsv2_limit_pushdown", "q204_dsv2_file_metadata").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("WAP branch identifier: INSERT INTO t@branch stages to the branch; misuse refuses (r19)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wap_spec_").toString
    withConfs(
      "spark.sql.catalog.wcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.wcat.warehouse" -> wh) {
      val root = s"$wh/t"
      orders.limit(400).createOrReplaceTempView("wap_spec_src")
      spark.sql("""CREATE TABLE wcat.t (o_orderkey BIGINT,
                  |  o_orderpriority STRING, o_totalprice DOUBLE)""".stripMargin)
      spark.sql("INSERT INTO wcat.t SELECT * FROM wap_spec_src " +
        "WHERE o_orderkey % 2 = 0")
      val nMain = spark.sql("SELECT count(*) FROM wcat.t").head().getLong(0)
      // a branch identifier without a branch is a loud error
      val e0 = intercept[Exception] {
        spark.sql("INSERT INTO wcat.`t@audit` SELECT * FROM wap_spec_src")
      }
      assert(e0.getMessage.contains("no branch 'audit'"))
      TimeTravel.createBranch(spark, root, "audit", 1)
      val vAfterRef = TimeTravel.currentVersion(root)
      spark.sql("INSERT INTO wcat.`t@audit` SELECT * FROM wap_spec_src " +
        "WHERE o_orderkey % 2 = 1")
      // main: counter and rows untouched by the branch INSERT
      assert(TimeTravel.currentVersion(root) === vAfterRef)
      assert(spark.sql("SELECT count(*) FROM wcat.t").head().getLong(0)
        === nMain)
      // the branch head holds both halves — through the library read
      // AND the DSv2 branch scan (the pure-SQL audit read, r19)
      assert(TimeTravel.readBranch(spark, root, "audit").count() === 400L)
      assert(spark.sql("SELECT count(*) FROM wcat.`t@audit`")
        .head().getLong(0) === 400L)
      assert(spark.sql("SELECT count(*) FROM wcat.`t@audit` " +
        "WHERE o_orderkey % 2 = 1").head().getLong(0) ===
        spark.sql("SELECT count(*) FROM wap_spec_src " +
          "WHERE o_orderkey % 2 = 1").head().getLong(0))
      // streaming reads over a branch head refuse (one moving ref)
      val eS = intercept[Exception] {
        spark.readStream.table("wcat.`t@audit`")
          .writeStream.format("memory").queryName("wap_audit_stream")
          .start()
      }
      assert(eS.getMessage.contains("branch") ||
        Option(eS.getCause).exists(_.getMessage.contains("branch")))
      // append-only surface: INSERT OVERWRITE at a branch refuses
      intercept[Exception] {
        spark.sql("INSERT OVERWRITE wcat.`t@audit` " +
          "SELECT * FROM wap_spec_src")
      }
      // time travel over a branch identifier refuses
      val e2 = intercept[Exception] {
        spark.sql("SELECT * FROM wcat.`t@audit` VERSION AS OF 0").collect()
      }
      assert(e2.getMessage.contains("not supported") ||
        e2.getMessage.contains("branch"))
      // publish: main now serves the full set
      TimeTravel.fastForward(spark, root, "audit")
      assert(spark.sql("SELECT count(*) FROM wcat.t").head().getLong(0)
        === 400L)
    }
  }

  test("identity columns: racing INSERTs re-assign instead of colliding (r19)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_idrace_").toString
    withConfs(
      "spark.sql.catalog.icat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.icat.warehouse" -> wh) {
      spark.sql("""CREATE TABLE icat.d (id BIGINT, k BIGINT)
                  |TBLPROPERTIES('graft.identityCol'='id')""".stripMargin)
      orders.limit(300)
        .select(lit(null).cast("long").as("id"),
          col("o_orderkey").as("k"))
        .createOrReplaceTempView("id_race_src")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 3).map { i =>
        new Thread(() =>
          try { spark.sql("INSERT INTO icat.d SELECT * FROM id_race_src " +
            s"WHERE k % 3 = $i"); () }
          catch { case t: Throwable => errs.add(t); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"a racing identity INSERT failed: ${errs.peek()}")
      val r = spark.sql("SELECT count(*) AS n, count(DISTINCT id) AS d, " +
        "count(CASE WHEN id IS NULL THEN 1 END) AS z FROM icat.d").head()
      assert(r.getLong(0) === 300L, s"rows lost: $r")
      assert(r.getLong(1) === 300L, s"id COLLISION under race: $r")
      assert(r.getLong(2) === 0L, s"null ids under race: $r")
      // the high-water mark rode the commits: a fresh INSERT lands
      // strictly above everything
      val hw = spark.sql("SELECT max(id) FROM icat.d").head().getLong(0)
      spark.sql("INSERT INTO icat.d VALUES (CAST(NULL AS BIGINT), 999)")
      assert(spark.sql(s"SELECT min(id) FROM icat.d WHERE k = 999")
        .head().getLong(0) > hw)
      // GENERATED ALWAYS: explicit ids refuse
      val e = intercept[Exception] {
        spark.sql("INSERT INTO icat.d VALUES (5, 5)")
      }
      assert(e.getMessage.contains("GENERATED ALWAYS") ||
        Option(e.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")))
      // SQL MERGE refuses too (r19 ADVICE high): merge-inserted rows
      // would bypass the identity fill (identityFill=false on the
      // row-level rewrite path) and land NULL/user ids silently
      spark.sql("SELECT CAST(1 AS BIGINT) AS id, CAST(7 AS BIGINT) AS k")
        .createOrReplaceTempView("id_merge_src")
      val em = intercept[Exception] {
        spark.sql("""MERGE INTO icat.d t USING id_merge_src s ON t.k = s.k
                    |WHEN MATCHED THEN UPDATE SET t.k = s.k
                    |WHEN NOT MATCHED THEN INSERT (id, k) VALUES (s.id, s.k)
                    |""".stripMargin)
      }
      def m(t: Throwable): String =
        Option(t.getMessage).getOrElse("") +
          Option(t.getCause).map(c => Option(c.getMessage).getOrElse(""))
            .getOrElse("")
      assert(m(em).contains("MERGE INTO identity-column") &&
        m(em).contains("update-only and delete-only merges"),
        s"expected the identity MERGE refusal, got: ${m(em)}")
    }
  }

  test("streaming WAP: writeStream.toTable at a branch lands txn-tagged epochs; restart replays nothing (r19)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_swap_").toString
    withConfs(
      "spark.sql.catalog.swcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.swcat.warehouse" -> wh) {
      val root = s"$wh/t"
      val base = orders.limit(400)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("p"))
      spark.sql("CREATE TABLE swcat.t (k BIGINT, p DOUBLE)")
      base.filter(col("k") % 2 === 0).createOrReplaceTempView("swap_src")
      spark.sql("INSERT INTO swcat.t SELECT * FROM swap_src")
      val nMain = spark.sql("SELECT count(*) FROM swcat.t").head().getLong(0)
      TimeTravel.createBranch(spark, root, "audit", 1)
      val vRef = TimeTravel.currentVersion(root)
      // the streaming half: 2 input files × maxFilesPerTrigger 1 →
      // two txn-tagged branch epochs
      val in = s"$wh/in"
      base.filter(col("k") % 2 === 1).repartition(2)
        .write.mode("overwrite").parquet(in)
      val ckpt = s"$wh/ckpt"
      def drain(): Unit = {
        val q = spark.readStream.schema("k BIGINT, p DOUBLE")
          .option("maxFilesPerTrigger", 1).parquet(in)
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("swcat.`t@audit`")
        q.awaitTermination()
      }
      drain()
      def nCommits: Long =
        spark.sql(s"SELECT * FROM graft_branches('$root')").head().getLong(2)
      graft.GraftFunctions.register(spark)
      val landed = nCommits
      assert(landed >= 2, s"expected >=2 branch epochs, got $landed")
      // main untouched; the branch head holds everything
      assert(TimeTravel.currentVersion(root) === vRef)
      assert(spark.sql("SELECT count(*) FROM swcat.t").head().getLong(0)
        === nMain)
      assert(TimeTravel.readBranch(spark, root, "audit").count() === 400L)
      // restart from the SAME checkpoint: the txn guard replays nothing
      drain()
      assert(nCommits === landed,
        "a restarted drained stream landed a duplicate branch epoch")
      assert(TimeTravel.readBranch(spark, root, "audit").count() === 400L)
      // publish completes the WAP loop
      TimeTravel.fastForward(spark, root, "audit")
      assert(spark.sql("SELECT count(*) FROM swcat.t").head().getLong(0)
        === 400L)
    }
  }

  test("identity guards: no branch appends, no partitioned identity, no ALTER-on identity (r19)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_idg_").toString
    withConfs(
      "spark.sql.catalog.idgcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.idgcat.warehouse" -> wh) {
      // partitioned + identity refuses at CREATE
      val e1 = intercept[Exception] {
        spark.sql("""CREATE TABLE idgcat.p (id BIGINT, v STRING)
                    |PARTITIONED BY (v)
                    |TBLPROPERTIES('graft.identityCol'='id')""".stripMargin)
      }
      assert(e1.getMessage.contains("PARTITIONED"))
      // identity cannot be declared by ALTER
      spark.sql("CREATE TABLE idgcat.d (id BIGINT, v BIGINT)")
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE idgcat.d SET TBLPROPERTIES" +
          "('graft.identityCol'='id')")
      }
      assert(e2.getMessage.contains("CREATE"))
      // branch appends refuse on identity tables (ids are assigned
      // against MAIN's high-water mark)
      spark.sql("""CREATE TABLE idgcat.i (id BIGINT, v BIGINT)
                  |TBLPROPERTIES('graft.identityCol'='id')""".stripMargin)
      spark.sql("INSERT INTO idgcat.i VALUES (CAST(NULL AS BIGINT), 1)")
      TimeTravel.createBranch(spark, s"$wh/i", "b", 1)
      val e3 = intercept[Exception] {
        spark.sql("INSERT INTO idgcat.`i@b` VALUES (CAST(NULL AS BIGINT), 2)")
      }
      assert(e3.getMessage.contains("high-water") ||
        Option(e3.getCause).exists(_.getMessage.contains("high-water")))
      // a partition spec cannot evolve ONTO an identity table
      val e4 = intercept[Exception] {
        spark.sql("ALTER TABLE idgcat.i SET TBLPROPERTIES" +
          "('graft.partitionCol'='v')")
      }
      assert(e4.getMessage.contains("identity"))
      // row-level DML PRESERVES existing ids (the rewrite re-stages
      // rows with their already-assigned values — no refusal, no
      // re-assignment)
      spark.sql("INSERT INTO idgcat.i VALUES (CAST(NULL AS BIGINT), 2), " +
        "(CAST(NULL AS BIGINT), 3)")
      val idsBefore = spark.sql("SELECT v, id FROM idgcat.i").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.sql("UPDATE idgcat.i SET v = v + 10 WHERE v = 2")
      spark.sql("DELETE FROM idgcat.i WHERE v = 3")
      val after = spark.sql("SELECT v, id FROM idgcat.i").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after(12L) === idsBefore(2L),
        "UPDATE re-assigned an existing identity value")
      assert(after(1L) === idsBefore(1L))
      assert(!after.contains(3L) && after.size === 2)
      // CTAS cannot be born GENERATED ALWAYS — its SELECT carries ids
      // outside the mark
      val eC = intercept[Exception] {
        spark.sql("CREATE TABLE idgcat.c " +
          "TBLPROPERTIES('graft.identityCol'='id') AS " +
          "SELECT CAST(1 AS BIGINT) AS id, CAST(2 AS BIGINT) AS v")
      }
      assert(eC.getMessage.contains("EMPTY") ||
        Option(eC.getCause).exists(_.getMessage.contains("EMPTY")))
      // library appends refuse too: ids come from the fill
      val eL = intercept[Exception] {
        TimeTravel.commit(spark, s"$wh/i",
          spark.sql("SELECT CAST(NULL AS BIGINT) AS id, " +
            "CAST(9 AS BIGINT) AS v"))
      }
      assert(eL.getMessage.contains("high-water"))
    }
  }

  test("DROP TABLE invalidates cached checkpoint handles at the path (r19)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dropc_").toString
    val root = s"$wh/t"
    TimeTravel.CkptParquetMinLines = 0
    try withConfs(
      "spark.sql.catalog.dccat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.dccat.warehouse" -> wh) {
      orders.limit(200)
        .select(col("o_orderkey").as("k")).createOrReplaceTempView("dc_src")
      spark.sql("CREATE TABLE dccat.t (k BIGINT)")
      spark.sql("INSERT INTO dccat.t SELECT * FROM dc_src " +
        "WHERE k % 2 = 0")
      TimeTravel.checkpoint(root, 1)
      // resolve through (and cache) the parquet checkpoint
      val n0 = spark.sql("SELECT count(*) FROM dccat.t").head().getLong(0)
      assert(n0 > 0)
      spark.sql("DROP TABLE dccat.t")
      // a NEW table at the SAME path, checkpointed at the SAME version
      spark.sql("CREATE TABLE dccat.t (k BIGINT)")
      spark.sql("INSERT INTO dccat.t SELECT * FROM dc_src " +
        "WHERE k % 4 = 1")
      TimeTravel.checkpoint(root, 1)
      val n1 = spark.sql("SELECT count(*) FROM dccat.t").head().getLong(0)
      assert(n1 === orders.limit(200)
        .filter(col("o_orderkey") % 4 === 1).count(),
        "the re-created table served the dropped table's cached state")
    } finally TimeTravel.CkptParquetMinLines = 4096
  }

  test("q201 catalog: SQL DDL round-trip, version + timestamp travel, immutable history") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spec_").toString
    withConfs(
      "spark.sql.catalog.tcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.tcat.warehouse" -> wh) {
      orders.limit(600).createOrReplaceTempView("cat_spec_src")
      spark.sql("""CREATE TABLE tcat.t (o_orderkey BIGINT,
                  |  o_orderpriority STRING, o_totalprice DOUBLE)""".stripMargin)
      spark.sql("INSERT INTO tcat.t SELECT * FROM cat_spec_src WHERE o_orderkey % 2 = 0")
      spark.sql("INSERT INTO tcat.t SELECT * FROM cat_spec_src WHERE o_orderkey % 2 = 1")

      val n0 = spark.sql("SELECT count(*) FROM tcat.t VERSION AS OF 0").head().getLong(0)
      val n1 = spark.sql("SELECT count(*) FROM tcat.t VERSION AS OF 1").head().getLong(0)
      val n2 = spark.sql("SELECT count(*) FROM tcat.t").head().getLong(0)
      assert(n0 === 0L) // CREATE TABLE is a schema-only generation
      assert(n1 > 0 && n2 === 600L && n1 < n2)

      // TIMESTAMP AS OF resolves through versionAtTime (micros → gen)
      val nts = spark.sql(
        "SELECT count(*) FROM tcat.t TIMESTAMP AS OF '2100-01-01 00:00:00'")
        .head().getLong(0)
      assert(nts === n2)

      // history is immutable: a time-traveled load refuses writes
      val e = intercept[Exception] {
        spark.sql("INSERT INTO tcat.t VERSION AS OF 1 SELECT * FROM cat_spec_src")
      }
      assert(e.getMessage.toLowerCase.contains("immutable")
        || e.getMessage.toLowerCase.contains("version"))

      // catalog metadata IS the filesystem: list + drop
      assert(spark.sql("SHOW TABLES IN tcat").collect()
        .map(_.getString(1)).contains("t"))
      spark.sql("DROP TABLE tcat.t")
      assert(spark.sql("SHOW TABLES IN tcat").collect().isEmpty)
    }
  }

  test("q202 reported statistics: the pruned window broadcasts with no hint") {
    val root = newRoot()
    val base = orders.limit(1000)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 8)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(keys.length * 3 / 8), keys(keys.length / 2))
    val w = dsv(root)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("wp"))
    val joined = base.join(w, col("o_orderkey") === col("k"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"reported statistics did not trigger a broadcast:\n$plan")
  }

  test("q203 limit pushdown: the chain stops before a group's later files open") {
    val root = newRoot()
    val base = orders.limit(800)
    TimeTravel.commitPartitioned(spark, root,
      base.filter(col("o_orderkey") % 2 === 0), "o_orderpriority")
    TimeTravel.commitPartitioned(spark, root,
      base.filter(col("o_orderkey") % 2 === 1), "o_orderpriority")
    val nGroups = base.select("o_orderpriority").distinct().count().toInt
    val total = base.count()

    TableMetrics.reset()
    val n = dsv(root).limit(5).count()
    assert(n === 5L)
    val opened = TableMetrics.openedDataFiles.size()
    assert(opened <= nGroups,
      s"limit pushdown opened $opened files; each of the $nGroups groups " +
        "should stop after its first")

    // a limit beyond the table is the full count (partial-push semantics)
    assert(dsv(root).limit(100000).count() === total)
  }

  test("q204 _file metadata column: layout-pinned distinct count, hidden from star") {
    val root = newRoot()
    val base = orders.limit(640)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 8)
    val df = dsv(root)
    assert(!df.columns.contains("_file")) // hidden from SELECT *
    val r = df.select(col("_file"), col("o_orderkey"))
      .agg(count_distinct(col("_file")).as("nf"), count(lit(1)).as("n")).head()
    assert(r.getLong(0) === 8L, s"expected 8 cells, got ${r.getLong(0)}")
    assert(r.getLong(1) === 640L)
    // per-file key ranges are disjoint (clustered layout), provable
    // entirely from (_file, key) pairs
    val ranges = df.select(col("_file"), col("o_orderkey"))
      .groupBy("_file").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(x => (x.getLong(1), x.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, h1), (l2, _)) => assert(h1 < l2)
      case _ => ()
    }
  }

  test("q205 metadata delete: remove-only commit, zero rows scanned; unaligned falls back to copy-on-write") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spec2_").toString
    val root = s"$wh/pt"
    val base = orders.limit(800)
    TimeTravel.commitPartitioned(spark, root, base, "o_orderpriority")
    val before = TimeTravel.snapshotFiles(root, 0).toSet
    val minP = base.agg(min("o_orderpriority")).head().getString(0)
    withConfs(
      "spark.sql.catalog.dcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.dcat.warehouse" -> wh) {

      TableMetrics.reset()
      spark.sql(s"DELETE FROM dcat.pt WHERE o_orderpriority = '$minP'")
      assert(TableMetrics.openedDataFiles.isEmpty,
        "an aligned DELETE must be metadata-only: " +
          s"${TableMetrics.openedDataFiles.size()} files were row-scanned")
      val afterAligned = TimeTravel.snapshotFiles(root, 1).toSet
      assert(afterAligned.subsetOf(before), "metadata delete added files")
      assert((before -- afterAligned).nonEmpty)
      val n1 = spark.sql("SELECT count(*) FROM dcat.pt").head().getLong(0)
      assert(n1 === base.filter(col("o_orderpriority") =!= minP).count())

      // unaligned predicate (a key range cutting through files): the
      // copy-on-write row-level path rewrites, result stays exact
      val keys = base.filter(col("o_orderpriority") =!= minP)
        .select("o_orderkey").collect().map(_.getLong(0)).sorted
      val cut = keys(keys.length / 2)
      spark.sql(s"DELETE FROM dcat.pt WHERE o_orderkey <= $cut")
      val n2 = spark.sql("SELECT count(*) FROM dcat.pt").head().getLong(0)
      assert(n2 === base.filter(col("o_orderpriority") =!= minP)
        .filter(col("o_orderkey") > cut).count())
      // old snapshots stayed readable through both deletes
      assert(spark.sql("SELECT count(*) FROM dcat.pt VERSION AS OF 0")
        .head().getLong(0) === base.count())

      // TRUNCATE: one metadata commit, history intact
      spark.sql("TRUNCATE TABLE dcat.pt")
      assert(spark.sql("SELECT count(*) FROM dcat.pt").head().getLong(0) === 0L)
      assert(spark.sql("SELECT count(*) FROM dcat.pt VERSION AS OF 2")
        .head().getLong(0) === n2)
    }
  }

  test("q206 filtered INSERT OVERWRITE: replaced value's files retired, others' untouched") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spec3_").toString
    val root = s"$wh/ot"
    val base = orders.limit(700)
    TimeTravel.commitPartitioned(spark, root, base, "o_orderpriority")
    val minP = base.agg(min("o_orderpriority")).head().getString(0)
    val before = TimeTravel.snapshotFiles(root, 0).toSet
    withConfs(
      "spark.sql.catalog.ocat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.ocat.warehouse" -> wh) {
      base.filter(col("o_orderpriority") === minP)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
        .createOrReplaceTempView("ow_spec_src")
      spark.sql("INSERT OVERWRITE ocat.ot " +
        s"PARTITION (o_orderpriority = '$minP') " +
        "SELECT o_orderkey, o_totalprice FROM ow_spec_src")
      val after = TimeTravel.snapshotFiles(root, 1).toSet
      // exactly one file (the value's) retired; every other physical
      // file survived; the replacement is new
      assert((before -- after).size === 1)
      assert((after & before).size === before.size - 1)
      val got = spark.sql(
        s"SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM ocat.ot " +
          s"WHERE o_orderpriority = '$minP'").head().getDecimal(0)
      val expect = base.filter(col("o_orderpriority") === minP)
        .agg(sum((col("o_totalprice") * 2).cast("decimal(18,2)")))
        .head().getDecimal(0)
      assert(got === expect)
    }
  }

  test("q207 MERGE INTO: the runtime group filter bounds the rewrite to touched cells") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spec4_").toString
    val root = s"$wh/mt"
    val base = orders.limit(800)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 8)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(keys.length / 4), keys(keys.length * 3 / 8))
    val mx = keys.last
    val before = TimeTravel.snapshotFiles(root, 0).toSet
    withConfs(
      "spark.sql.catalog.mcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.mcat.warehouse" -> wh) {
      base.filter(col("o_orderkey").between(lo, hi))
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("p"),
          (col("o_totalprice") + 1000).as("price"))
        .unionAll(base.limit(20)
          .select((col("o_orderkey") + mx + 1).as("k"),
            col("o_orderpriority").as("p"), col("o_totalprice").as("price")))
        .createOrReplaceTempView("mg_spec_src")
      spark.sql("""MERGE INTO mcat.mt t USING mg_spec_src s
                  |ON t.o_orderkey = s.k
                  |WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
                  |WHEN NOT MATCHED THEN INSERT
                  |  (o_orderkey, o_orderpriority, o_totalprice)
                  |  VALUES (s.k, s.p, s.price)""".stripMargin)
      val after = TimeTravel.snapshotFiles(root, 1).toSet
      val rewritten = (before -- after).size
      // an eighth-wide key window over 8 range cells touches at most 3
      assert(rewritten >= 1 && rewritten <= 3,
        s"merge rewrote $rewritten of ${before.size} files")
      assert((after & before).size === before.size - rewritten,
        "untouched cells must keep their physical files")
      // exactness: updates landed, inserts landed, carryover intact
      val n = spark.sql("SELECT count(*) FROM mcat.mt").head().getLong(0)
      assert(n === base.count() + 20)
      val bumped = spark.sql(
        s"SELECT count(*) FROM mcat.mt WHERE o_orderkey BETWEEN $lo AND $hi")
        .head().getLong(0)
      assert(bumped === base.filter(col("o_orderkey").between(lo, hi)).count())
    }
  }

  test("q205–q210 declared queries run green at the spec's scale factor") {
    Seq("q205_sql_metadata_delete", "q206_sql_insert_overwrite",
      "q207_sql_merge", "q208_sql_update", "q209_sql_alter_add_column",
      "q210_sql_alter_rename").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("q209/q210 ALTER TABLE: add, rename, drop — all metadata-only, fully readable") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spec5_").toString
    val root = s"$wh/at"
    val base = orders.limit(640)
    TimeTravel.commitClustered(spark, root, base
      .select(col("o_orderkey"), col("o_totalprice").cast("double")
        .as("o_totalprice")), "o_orderkey", 8)
    val dataBytes = {
      val dir = new java.io.File(s"$root/data")
      dir.listFiles().map(f => f.getName -> f.length()).toMap
    }
    withConfs(
      "spark.sql.catalog.acat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.acat.warehouse" -> wh) {

      // RENAME: zero data movement — every data file identical after
      spark.sql("ALTER TABLE acat.at RENAME COLUMN o_totalprice TO price")
      val afterRename = {
        val dir = new java.io.File(s"$root/data")
        dir.listFiles().map(f => f.getName -> f.length()).toMap
      }
      assert(afterRename === dataBytes, "rename moved data bytes")
      val tot = spark.sql(
        "SELECT sum(CAST(price AS DECIMAL(18,2))) FROM acat.at")
        .head().getDecimal(0)
      assert(tot === base.agg(sum(col("o_totalprice").cast("double")
        .cast("decimal(18,2)"))).head().getDecimal(0))

      // file skipping still prunes on the untouched key column
      val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
      val (lo, hi) = (keys(keys.length / 4), keys(keys.length / 2))
      TableMetrics.reset()
      val winN = spark.sql(
        s"SELECT count(price) FROM acat.at WHERE o_orderkey BETWEEN $lo AND $hi")
        .head().getLong(0)
      assert(winN === base.filter(col("o_orderkey").between(lo, hi)).count())

      // post-rename INSERT stores bytes under the ORIGINAL physical name
      spark.sql("INSERT INTO acat.at VALUES (9000000001, 42.5)")
      val n2 = spark.sql(
        "SELECT count(*) FROM acat.at WHERE price = 42.5D").head().getLong(0)
      assert(n2 === 1L)

      // ADD: fresh physical name, pre-evolution rows null-fill
      spark.sql("ALTER TABLE acat.at ADD COLUMNS (note STRING)")
      spark.sql("INSERT INTO acat.at VALUES (9000000002, 7.0, 'tagged')")
      val notes = spark.sql(
        "SELECT count(*), count(note) FROM acat.at").head()
      assert(notes.getLong(0) === base.count() + 2)
      assert(notes.getLong(1) === 1L, "only the post-ADD row carries note")

      // DROP: logical schema loses the field; bytes stay until rewrite
      spark.sql("ALTER TABLE acat.at DROP COLUMN note")
      assert(!spark.table("acat.at").columns.contains("note"))
      // old snapshots answer under their own names forever
      assert(spark.sql("SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "FROM acat.at VERSION AS OF 0").head().getDecimal(0) === tot)
    }
  }

  test("q211 atomic CTAS/RTAS: one commit each, replaced content stays readable") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spec6_").toString
    val root = s"$wh/ct"
    withConfs(
      "spark.sql.catalog.scat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.scat.warehouse" -> wh) {
      orders.limit(500).createOrReplaceTempView("ctas_spec_src")
      spark.sql("CREATE TABLE scat.ct AS SELECT * FROM ctas_spec_src " +
        "WHERE o_orderkey % 2 = 0")
      // the CTAS landed as ONE generation (data + schema together)
      assert(TimeTravel.currentVersion(root) === 0)
      val n0 = spark.sql("SELECT count(*) FROM scat.ct").head().getLong(0)
      assert(n0 === orders.limit(500)
        .filter(col("o_orderkey") % 2 === 0).count())

      spark.sql("REPLACE TABLE scat.ct AS SELECT * FROM ctas_spec_src " +
        "WHERE o_orderkey % 5 = 0")
      assert(TimeTravel.currentVersion(root) === 1) // one atomic replace
      val n1 = spark.sql("SELECT count(*) FROM scat.ct").head().getLong(0)
      assert(n1 === orders.limit(500)
        .filter(col("o_orderkey") % 5 === 0).count())
      // the replaced content is history, not gone
      assert(spark.sql("SELECT count(*) FROM scat.ct VERSION AS OF 0")
        .head().getLong(0) === n0)
    }
  }

  test("DATE partition column: created, inserted, and READ back (r14 ADVICE)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_specd_").toString
    val root = s"$wh/dt"
    withConfs(
      "spark.sql.catalog.datecat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.datecat.warehouse" -> wh) {
      Tables.table(spark, sf, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("d"),
          col("o_totalprice").cast("double").as("p"))
        .limit(400)
        .createOrReplaceTempView("date_part_src")
      spark.sql("CREATE TABLE datecat.dt (o_orderkey BIGINT, d DATE, " +
        "p DOUBLE) PARTITIONED BY (d)")
      spark.sql("INSERT INTO datecat.dt SELECT * FROM date_part_src")
      // the write accepted DATE values — the SCAN must plan them too
      // (keyVal/toCatalystKey previously threw on DateType)
      val n = spark.sql("SELECT count(*) FROM datecat.dt").head().getLong(0)
      assert(n === 400L)
      val day = spark.table("date_part_src").select(max(col("d"))).head()
        .getDate(0)
      val got = spark.sql(
        s"SELECT count(*) FROM datecat.dt WHERE d = DATE'$day'")
        .head().getLong(0)
      assert(got === spark.table("date_part_src")
        .filter(col("d") === lit(day)).count())
      // footer-aggregate path hits toCatalystKey's partition-key branch
      val mx = spark.sql("SELECT d, max(p) AS mp FROM datecat.dt GROUP BY d")
      assert(mx.count() > 0)
      assert(TimeTravel.currentVersion(root) === 1)
    }
  }

  test("q219 transform partitioning: months+bucket derive, write one file per tuple, prune by derived values") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spect_").toString
    val root = s"$wh/tp"
    withConfs(
      "spark.sql.catalog.tpcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.tpcat.warehouse" -> wh) {
      val src = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("d"),
          col("o_totalprice").cast("double").as("p"))
        .limit(800)
      src.createOrReplaceTempView("tp_src")
      spark.sql("""CREATE TABLE tpcat.tp (o_orderkey BIGINT, d DATE,
                  |  p DOUBLE)
                  |PARTITIONED BY (months(d), bucket(4, o_orderkey))"""
        .stripMargin)
      spark.sql("INSERT INTO tpcat.tp SELECT * FROM tp_src")
      // layout: at most one file per (month, bucket) tuple — the write
      // distribution clustered on the derived expressions
      val months = src.select(date_format(col("d"), "yyyy-MM")).distinct()
        .collect().map(_.getString(0)).sorted
      val files = TimeTravel.snapshotFiles(root, 1)
      assert(files.size <= months.length * 4 && files.size >= months.length,
        s"${files.size} files for ${months.length} months × 4 buckets")
      assert(spark.sql("SELECT count(*) FROM tpcat.tp").head().getLong(0)
        === 800L)

      // month-equality pruning: a one-month date range opens at most
      // that month's bucket files (≤4 of the full layout)
      val m = months(months.length / 2)
      val (mLo, mHi) = (s"$m-01",
        java.time.YearMonth.parse(m).atEndOfMonth().toString)
      TableMetrics.reset()
      val nM = spark.sql(s"SELECT count(*) FROM tpcat.tp WHERE " +
        s"d >= DATE'$mLo' AND d <= DATE'$mHi'").head().getLong(0)
      assert(nM === src.filter(col("d").between(mLo, mHi)).count())
      val openedM = openedUnder(root)
      assert(openedM <= 4,
        s"month-range read opened $openedM files (expected ≤ 4)")

      // bucket pruning: a key equality keeps one bucket per month
      val kk = src.agg(max("o_orderkey")).head().getLong(0)
      TableMetrics.reset()
      val nK = spark.sql(
        s"SELECT count(*) FROM tpcat.tp WHERE o_orderkey = ${kk}L")
        .head().getLong(0)
      assert(nK === src.filter(col("o_orderkey") === kk).count())
      val openedK = openedUnder(root)
      assert(openedK <= months.length,
        s"key lookup opened $openedK files (expected ≤ ${months.length})")
      assert(openedK < files.size, "bucket pruning dropped nothing")

      // maintenance survives retention: checkpoint folds the tagged
      // lines, so pruning keeps working after the commits expire
      TimeTravel.checkpoint(root, 1)
      TimeTravel.expireHistory(root, 1)
      TableMetrics.reset()
      assert(spark.sql(s"SELECT count(*) FROM tpcat.tp WHERE " +
        s"d >= DATE'$mLo' AND d <= DATE'$mHi'").head().getLong(0) === nM)
      assert(openedUnder(root) <= 4,
        "post-retention month pruning degraded (tvals not checkpointed)")
    }
  }

  test("q225 partition evolution: new spec governs new writes, mixed eras prune per file, bad specs refuse at ALTER") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_specpe_").toString
    val root = s"$wh/pe"
    withConfs(
      "spark.sql.catalog.pecat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.pecat.warehouse" -> wh) {
      val src = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"),
          col("o_orderpriority").as("prio"),
          col("o_totalprice").cast("double").as("p"))
        .limit(800)
      src.filter(col("o_orderkey") % 2 === 0)
        .createOrReplaceTempView("pe_era1")
      src.filter(col("o_orderkey") % 2 === 1)
        .createOrReplaceTempView("pe_era2")
      spark.sql("""CREATE TABLE pecat.pe (o_orderkey BIGINT, d DATE,
                  |  prio STRING, p DOUBLE)
                  |PARTITIONED BY (prio)""".stripMargin)
      spark.sql("INSERT INTO pecat.pe SELECT * FROM pe_era1")
      val era1 = TimeTravel.snapshotFiles(root, 1).toSet

      // a spec naming a missing column / wrong type refuses AT ALTER —
      // never poisons a later INSERT
      val eMissing = intercept[Exception] {
        spark.sql("ALTER TABLE pecat.pe SET TBLPROPERTIES (" +
          "'graft.partitionSpec' = 'months:nope')")
      }
      assert(eMissing.getMessage.contains("not in the table schema"))
      val eType = intercept[Exception] {
        spark.sql("ALTER TABLE pecat.pe SET TBLPROPERTIES (" +
          "'graft.partitionSpec' = 'months:o_orderkey')")
      }
      assert(eType.getMessage.contains("DATE"))

      spark.sql("ALTER TABLE pecat.pe SET TBLPROPERTIES (" +
        "'graft.partitionSpec' = 'months:d,bucket:4:o_orderkey')")
      spark.sql("INSERT INTO pecat.pe SELECT * FROM pe_era2")
      val all = TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root))
      val era2 = all.filterNot(era1)
      assert(era1.nonEmpty && era2.nonEmpty)
      assert(spark.sql("SELECT count(*) FROM pecat.pe").head().getLong(0)
        === 800L)

      // month predicate: era-2 prunes to ≤ 4 bucket files of that month;
      // era-1 files carry no ~month tag and must be KEPT (date range
      // stats may drop some — the bound below allows either)
      val m = src.filter(col("o_orderkey") % 2 === 1)
        .select(date_format(col("d"), "yyyy-MM")).distinct()
        .collect().map(_.getString(0)).sorted.apply(0)
      val (mLo, mHi) = (s"$m-01",
        java.time.YearMonth.parse(m).atEndOfMonth().toString)
      TableMetrics.reset()
      val nM = spark.sql(s"SELECT count(*) FROM pecat.pe WHERE " +
        s"d >= DATE'$mLo' AND d <= DATE'$mHi'").head().getLong(0)
      assert(nM === src.filter(col("d").between(mLo, mHi)).count())
      assert(openedUnder(root) <= era1.size + 4,
        s"month read opened ${openedUnder(root)} (era2 didn't prune)")

      // prio predicate: era-1 prunes to its one value group; era-2 files
      // (no prio line, no string stats) are all kept — per-file pruning,
      // never cross-era guessing
      val prio = src.select("prio").head().getString(0)
      TableMetrics.reset()
      val nP = spark.sql(
        s"SELECT count(*) FROM pecat.pe WHERE prio = '$prio'")
        .head().getLong(0)
      assert(nP === src.filter(col("prio") === prio).count())
      val openedP = openedUnder(root)
      assert(openedP < all.size, "prio equality pruned nothing")
      assert(openedP <= era2.size + era1.size / 2 + 1,
        s"prio read opened $openedP (era-1 value groups didn't prune)")

      // key equality: era-2 keeps one bucket per month
      val kk = src.filter(col("o_orderkey") % 2 === 1)
        .agg(max("o_orderkey")).head().getLong(0)
      TableMetrics.reset()
      val nK = spark.sql(
        s"SELECT count(*) FROM pecat.pe WHERE o_orderkey = ${kk}L")
        .head().getLong(0)
      assert(nK === src.filter(col("o_orderkey") === kk).count())
      assert(openedUnder(root) < all.size, "key equality pruned nothing")
    }
  }

  test("q227 type widening: metadata-only, narrow files up-convert, narrowing and footer aggs refuse") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spectw_").toString
    val root = s"$wh/tw"
    withConfs(
      "spark.sql.catalog.twcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.twcat.warehouse" -> wh) {
      val src = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_orderpriority").as("prio"),
          col("o_totalprice").cast("double").cast("float").as("price"))
        .limit(400)
      src.createOrReplaceTempView("tw_src")
      spark.sql("CREATE TABLE twcat.tw (k INT, prio STRING, price FLOAT)")
      spark.sql("INSERT INTO twcat.tw SELECT * FROM tw_src")
      val filesBefore = TimeTravel.snapshotFiles(root, 1)
      spark.sql("ALTER TABLE twcat.tw ALTER COLUMN k TYPE BIGINT")
      spark.sql("ALTER TABLE twcat.tw ALTER COLUMN price TYPE DOUBLE")
      // metadata-only: the widening moved zero data bytes
      assert(TimeTravel.snapshotFiles(root, 3) === filesBefore)
      val sch = spark.table("twcat.tw").schema
      assert(sch("k").dataType === org.apache.spark.sql.types.LongType)
      assert(sch("price").dataType ===
        org.apache.spark.sql.types.DoubleType)
      // narrow files read EXACTLY through the up-conversion: the int
      // keys sum identically, every float widens to its exact double
      val got = spark.sql(
        "SELECT sum(k), sum(CAST(price AS DECIMAL(18,2))) FROM twcat.tw")
        .head()
      val want = src.agg(sum(col("k").cast("bigint")),
        sum(col("price").cast("double").cast("decimal(18,2)"))).head()
      assert(got === want, s"widened read drifted: $got vs $want")
      // post-widening inserts carry values beyond Int.MaxValue
      spark.sql("INSERT INTO twcat.tw VALUES " +
        "(5000000000, 'X', 1.5D), (5000000001, 'X', 2.5D)")
      assert(spark.sql(
        "SELECT count(*) FROM twcat.tw WHERE k > 2147483647")
        .head().getLong(0) === 2L)
      // the pre-widening snapshot keeps its narrow schema
      val v1 = spark.sql("SELECT * FROM twcat.tw VERSION AS OF 1").schema
      assert(v1("k").dataType === org.apache.spark.sql.types.IntegerType)
      assert(v1("price").dataType ===
        org.apache.spark.sql.types.FloatType)
      // narrowing refuses loudly — Spark's analyzer rejects non-upcast
      // changes before the catalog; the catalog's own widening check
      // backstops library callers
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE twcat.tw ALTER COLUMN k TYPE INT")
      }
      assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
        e.getMessage.contains("not a supported widening"))
      val e2 = intercept[Exception] {
        TimeTravel.widenColumnType(spark, root, "k", "INT")
      }
      assert(e2.getMessage.contains("not a supported widening"))
      // footer aggregates REFUSE on widened columns (narrow-typed old
      // footers) and fall back to the row scan…
      import scala.jdk.CollectionConverters._
      TableMetrics.reset()
      spark.sql("SELECT min(k), max(k) FROM twcat.tw").collect()
      assert(TableMetrics.footerOnlyFiles.asScala
        .count(_.startsWith(root)) === 0,
        "footer agg served a widened column from narrow footers")
      assert(openedUnder(root) > 0)
      // …while count(*) — no widened column referenced — still pushes
      TableMetrics.reset()
      spark.sql("SELECT count(*) FROM twcat.tw").collect()
      assert(TableMetrics.footerOnlyFiles.asScala
        .count(_.startsWith(root)) > 0,
        "count(*) lost its footer path to an unrelated widening")
    }
  }

  test("multi-column identity PARTITIONED BY: both columns round-trip and prune") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_specm_").toString
    val root = s"$wh/mi"
    withConfs(
      "spark.sql.catalog.micat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.micat.warehouse" -> wh) {
      val src = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          col("o_orderstatus").as("st"),
          col("o_totalprice").cast("double").as("p"))
        .limit(600)
      src.createOrReplaceTempView("mi_src")
      spark.sql("""CREATE TABLE micat.mi (o_orderkey BIGINT, prio STRING,
                  |  st STRING, p DOUBLE)
                  |PARTITIONED BY (prio, st)""".stripMargin)
      spark.sql("INSERT INTO micat.mi SELECT * FROM mi_src")
      val tuples = src.select("prio", "st").distinct().count()
      val files = TimeTravel.snapshotFiles(root, 1)
      assert(files.size <= tuples, s"${files.size} files for $tuples tuples")
      // equality on the FIRST identity column prunes through the tagged
      // lines (the single-pvals fold only carries the last column)
      val prio = src.select("prio").head().getString(0)
      TableMetrics.reset()
      val n1 = spark.sql(
        s"SELECT count(*) FROM micat.mi WHERE prio = '$prio'")
        .head().getLong(0)
      assert(n1 === src.filter(col("prio") === prio).count())
      assert(openedUnder(root) < files.size,
        "first-identity-column equality pruned nothing")
      // and on the second
      val st = src.select("st").head().getString(0)
      TableMetrics.reset()
      val n2 = spark.sql(s"SELECT count(*) FROM micat.mi WHERE st = '$st'")
        .head().getLong(0)
      assert(n2 === src.filter(col("st") === st).count())
      assert(openedUnder(root) < files.size,
        "second-identity-column equality pruned nothing")
    }
  }

  test("q221 column defaults: pre-evolution files read the default, stored NULLs stay NULL, footer aggs refuse, rewrites persist") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_specdf_").toString
    val root = s"$wh/dc"
    withConfs(
      "spark.sql.catalog.dfcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.dfcat.warehouse" -> wh) {
      val a = orders.limit(300).select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("p"))
      a.createOrReplaceTempView("df_old")
      spark.sql("CREATE TABLE dfcat.dc AS SELECT * FROM df_old") // gen 0
      spark.sql("ALTER TABLE dfcat.dc ADD COLUMN seg STRING " +
        "DEFAULT 'legacy'") // gen 1, metadata-only
      val aCount = a.count()
      // existing rows read the DEFAULT, not NULL
      assert(spark.sql("SELECT count(*) FROM dfcat.dc WHERE seg = 'legacy'")
        .head().getLong(0) === aCount)
      assert(spark.sql("SELECT count(*) FROM dfcat.dc WHERE seg IS NULL")
        .head().getLong(0) === 0L)
      // post-evolution writes store explicitly — INCLUDING NULLs, which
      // stay NULL (present-but-null is data, not a missing field)
      val b = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("p"))
        .limit(400).filter(col("o_orderkey") % 7 === 0)
        .withColumn("seg",
          when(col("o_orderkey") % 14 === 0, lit(null: String))
            .otherwise(lit("fresh")))
      b.createOrReplaceTempView("df_new")
      spark.sql("INSERT INTO dfcat.dc SELECT * FROM df_new") // gen 2
      assert(spark.sql("SELECT count(*) FROM dfcat.dc WHERE seg IS NULL")
        .head().getLong(0) === b.filter(col("seg").isNull).count())
      assert(spark.sql("SELECT count(*) FROM dfcat.dc WHERE seg = 'fresh'")
        .head().getLong(0) === b.filter(col("seg") === "fresh").count())
      // count(seg) counts defaulted rows too — the footer path would
      // miss them, so it must REFUSE and fall back to the row scan
      import scala.jdk.CollectionConverters._
      TableMetrics.reset()
      assert(spark.sql("SELECT count(seg) FROM dfcat.dc").head().getLong(0)
        === aCount + b.filter(col("seg").isNotNull).count())
      assert(!TableMetrics.footerOnlyFiles.asScala.exists(_.startsWith(root)),
        "count(defaulted col) answered from footers — wrong under defaults")
      // count(*) is default-independent: still footer-only
      TableMetrics.reset()
      spark.sql("SELECT count(*) FROM dfcat.dc").head()
      assert(TableMetrics.footerOnlyFiles.asScala.exists(_.startsWith(root)),
        "count(*) lost footer pushdown on a defaulted table")
      // a copy-on-write rewrite of a pre-evolution file PERSISTS the
      // default (never null) — the candidate scan reads through it.
      // (pick a key that does NOT also appear in the inserted half)
      val k = a.filter(col("o_orderkey") % 7 =!= 0)
        .select(min("o_orderkey")).head().getLong(0)
      spark.sql(s"UPDATE dfcat.dc SET p = p + 1 WHERE o_orderkey = ${k}L")
      val segs = spark.sql(
        s"SELECT seg FROM dfcat.dc WHERE o_orderkey = ${k}L")
        .collect().map(_.getString(0)).toSeq
      assert(segs === Seq("legacy"),
        "copy-on-write rewrite turned a defaulted value into " + segs)
    }
  }

  test("q222 streaming write after RENAME COLUMN: physical names in files, same-checkpoint restart lands nothing") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_specrn_").toString
    val root = s"$wh/rn"
    withConfs(
      "spark.sql.catalog.rn22cat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.rn22cat.warehouse" -> wh) {
      spark.sql("CREATE TABLE rn22cat.rn (k BIGINT, amount DOUBLE)")
      orders.limit(100)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("amount"))
        .createOrReplaceTempView("rn_old")
      spark.sql("INSERT INTO rn22cat.rn SELECT * FROM rn_old") // gen 1
      spark.sql("ALTER TABLE rn22cat.rn RENAME COLUMN amount TO price") // gen 2
      val stage = s"$wh/src"
      orders.limit(300).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("price"))
        .repartition(1).write.mode("overwrite").parquet(stage)
      def runStream(): Unit = {
        val q = spark.readStream.schema("k BIGINT, price DOUBLE")
          .parquet(stage)
          .writeStream.option("checkpointLocation", s"$wh/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("rn22cat.rn")
        q.awaitTermination()
      }
      runStream()
      val vAfter = TimeTravel.currentVersion(root)
      assert(vAfter >= 3, "streaming epoch landed no generation")
      val expect = 100L +
        orders.limit(300).filter(col("o_orderkey") % 2 === 1).count()
      assert(spark.sql("SELECT count(*) FROM rn22cat.rn").head().getLong(0)
        === expect)
      // the streamed epoch's files carry the PHYSICAL parquet name
      // ('amount') — bytes on both sides of the rename stay compatible
      val streamed = TimeTravel.snapshotFiles(root, vAfter)
        .filterNot(TimeTravel.snapshotFiles(root, 2).toSet)
      assert(streamed.nonEmpty)
      val fields = spark.read.parquet(s"$root/data/${streamed.head}")
        .schema.fieldNames.toSet
      assert(fields.contains("amount") && !fields.contains("price"),
        s"streamed file stored $fields — logical name leaked to parquet")
      // restart on the SAME checkpoint with an unchanged source: the
      // replayed/empty drain lands NOTHING (exactly-once)
      runStream()
      assert(TimeTravel.currentVersion(root) === vAfter,
        "a same-checkpoint restart landed a duplicate generation")
      assert(spark.sql("SELECT count(*) FROM rn22cat.rn").head().getLong(0)
        === expect)
    }
  }

  test("q212 streaming catalog read: per-generation batches under admission control") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_spec7_").toString
    val root = s"$wh/st"
    val base = orders.limit(600)
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 3 === 0))
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 3 === 1))
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 3 === 2))
    withConfs(
      "spark.sql.catalog.stcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.stcat.warehouse" -> wh) {
      val q = spark.readStream
        .option("maxGensPerTrigger", "1")
        .table("stcat.st")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("cat_stream_spec")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val fed = q.recentProgress.count(_.numInputRows > 0)
      assert(fed >= 3, s"admission control fed $fed batches, expected ≥3")
      val got = spark.table("cat_stream_spec")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val expect = base.groupBy("o_orderpriority").agg(count(lit(1)))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got === expect)
    }
  }

  test("two-dimensional file skipping on a Z-ordered table; exact numRows statistic") {
    val root = newRoot()
    val base = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice").limit(1024)
    TimeTravel.commitZOrderedN(spark, root, base,
      Seq("o_orderkey", "o_custkey"), 16)
    val nFiles = TimeTravel.snapshotFiles(root, 0).size
    assert(nFiles >= 8, s"z-order produced only $nFiles files")

    val ks = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val cs = base.select("o_custkey").collect().map(_.getLong(0)).sorted
    val (klo, khi) = (ks(ks.length / 4), ks(ks.length / 2))
    val (clo, chi) = (cs(cs.length / 4), cs(cs.length / 2))

    TableMetrics.reset()
    val got = dsv(root).filter(
      col("o_orderkey").between(klo, khi) &&
        col("o_custkey").between(clo, chi))
    val n = got.count()
    assert(n === base.filter(col("o_orderkey").between(klo, khi) &&
      col("o_custkey").between(clo, chi)).count())
    val opened = TableMetrics.openedDataFiles.size()
    // a quarter×quarter box over a Z-ordered 2-d layout: both pushed
    // conjuncts prune via the per-file 2-dim log stats — the box must
    // skip most of the table, which ONE dimension alone cannot ensure
    assert(opened < nFiles,
      s"2-dim skipping opened all $nFiles files")
    assert(opened <= (nFiles * 3) / 4,
      s"2-dim skipping opened $opened of $nFiles files")

    // the reported statistics carry the EXACT row count from the log
    val scan = dsv(root).queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    val st = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(st.numRows().getAsLong === base.count())
  }

  test("row-level SQL DML after RENAME COLUMN reads physical names (ADVICE r13)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cm_dml_").toString
    val root = s"$wh/rt"
    val base = orders.limit(400)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    withConfs(
      "spark.sql.catalog.cmcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.cmcat.warehouse" -> wh) {
      spark.sql("ALTER TABLE cmcat.rt RENAME COLUMN o_totalprice TO price")
      val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
      val (lo, hi) = (keys(10), keys(30))

      // UPDATE through the renamed name: carried-over rows must KEEP
      // their values (the r13 corruption zeroed them), updated rows get
      // old value + 500 (the corruption left exactly 500.0)
      spark.sql(s"UPDATE cmcat.rt SET price = price + 500 " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi")
      val expectSum = base
        .withColumn("o_totalprice",
          when(col("o_orderkey").between(lo, hi), col("o_totalprice") + 500)
            .otherwise(col("o_totalprice")))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
      val gotSum = spark.sql(
        "SELECT sum(CAST(price AS DECIMAL(18,2))) FROM cmcat.rt")
        .head().getDecimal(0)
      assert(gotSum === expectSum, "UPDATE after rename corrupted carryover")
      assert(spark.sql("SELECT count(*) FROM cmcat.rt WHERE price = 500.0D")
        .head().getLong(0) === base
          .filter(col("o_orderkey").between(lo, hi) &&
            col("o_totalprice") === 0.0).count(),
        "updated rows lost their base value")

      // copy-on-write DELETE through the renamed name
      val cut = base.agg(max(col("o_totalprice"))).head().getDouble(0)
      spark.sql(s"DELETE FROM cmcat.rt WHERE price > ${cut + 400}")
      val kept = spark.sql("SELECT count(*) FROM cmcat.rt").head().getLong(0)
      val expectKept = base
        .withColumn("p",
          when(col("o_orderkey").between(lo, hi), col("o_totalprice") + 500)
            .otherwise(col("o_totalprice")))
        .filter(col("p") <= cut + 400).count()
      assert(kept === expectKept, "DELETE after rename matched wrong rows")

      // MERGE through the renamed name: matched rows take source values
      spark.createDataFrame(Seq((keys(0), 12345.0)))
        .toDF("k", "v").createOrReplaceTempView("cm_merge_src")
      spark.sql("""MERGE INTO cmcat.rt t USING cm_merge_src s
                  |ON t.o_orderkey = s.k
                  |WHEN MATCHED THEN UPDATE SET price = s.v""".stripMargin)
      assert(spark.sql(
        s"SELECT price FROM cmcat.rt WHERE o_orderkey = ${keys(0)}")
        .head().getDouble(0) === 12345.0)
    }
  }

  test("q213 deletion vectors read through the DSv2 scan: masked rows never surface") {
    val root = newRoot()
    val base = orders.limit(400)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(100), keys(220))
    val filesBefore = TimeTravel.snapshotFiles(root, 0).toSet
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", lo, hi)
    // merge-on-read: not one data file moved
    assert(TimeTravel.snapshotFiles(root, 1).toSet === filesBefore)
    val expect = base.filter(!col("o_orderkey").between(lo, hi))
    val got = dsv(root)
    assert(got.count() === expect.count(),
      "DV mask not applied by the DSv2 scan")
    assert(got.filter(col("o_orderkey").between(lo, hi)).count() === 0,
      "masked rows surfaced through the DSv2 scan")
    assert(got.agg(sum("o_orderkey")).head().getLong(0)
      === expect.agg(sum("o_orderkey")).head().getLong(0))
    // the reported numRows statistic is mask-exact (nrows − cardinality)
    val scan = dsv(root).queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    val st = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(st.numRows().getAsLong === expect.count(),
      "numRows statistic ignores the DV cardinalities")
    // a second delete COMPOSES (union into a fresh sidecar)
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey",
      keys(0), keys(0))
    assert(dsv(root).count() === expect.count() - 1)
  }

  test("footer-aggregate pushdown refuses under live DVs; the masked row scan answers") {
    val root = newRoot()
    val base = orders.limit(500)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey",
      keys(0), keys(49)) // the 50 smallest keys
    TableMetrics.reset()
    val got = dsv(root).agg(count(lit(1)).as("n"),
      min("o_orderkey").as("klo"), max("o_orderkey").as("khi"))
    val plan = got.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("footer aggregate"),
      s"footer aggregate pushed down over a DV'd snapshot:\n$plan")
    val r = got.head()
    assert(!TableMetrics.openedDataFiles.isEmpty,
      "no row scan ran — the footer path cannot see DV masks")
    val expect = base.filter(col("o_orderkey") > keys(49))
    assert(r.getLong(0) === expect.count())
    // min would be keys(0) if footers answered — the mask moves it
    assert(r.getLong(1) === keys(50))
    assert(r.getLong(2) === keys.last)
  }

  test("q214 CREATE TABLE PARTITIONED BY: inserts land one file per value, equality reads prune") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cpart_").toString
    val base = orders.limit(600)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    withConfs(
      "spark.sql.catalog.cpcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.cpcat.warehouse" -> wh) {
      spark.sql("""CREATE TABLE cpcat.pt (
                  |  o_orderkey BIGINT, o_orderpriority STRING,
                  |  o_totalprice DOUBLE)
                  |PARTITIONED BY (o_orderpriority)""".stripMargin)
      base.createOrReplaceTempView("cpart_src")
      spark.sql("INSERT INTO cpcat.pt SELECT * FROM cpart_src")
      val root = s"$wh/pt"
      val nVals = base.select("o_orderpriority").distinct().count()

      // one file per value, each with its partition value in the commit
      val files = TimeTravel.snapshotFiles(root, TimeTravel.currentVersion(root))
      assert(files.size === nVals,
        s"partitioned insert wrote ${files.size} files for $nVals values")
      val pvals = TimeTravel.pvalsFor(root, TimeTravel.currentVersion(root))
      assert(files.forall(pvals.contains), "a committed file has no pval")

      // equality read: only that value's file opens
      val v = base.select("o_orderpriority").distinct()
        .orderBy("o_orderpriority").head().getString(0)
      TableMetrics.reset()
      val got = spark.sql(
        s"SELECT count(*) FROM cpcat.pt WHERE o_orderpriority = '$v'")
        .head().getLong(0)
      assert(got === base.filter(col("o_orderpriority") === v).count())
      assert(openedUnder(root) === 1,
        s"equality read opened ${openedUnder(root)} of $nVals")

      // a second INSERT appends one more file per inserted value
      spark.sql(s"INSERT INTO cpcat.pt SELECT o_orderkey + 9000000, " +
        s"o_orderpriority, o_totalprice FROM cpart_src WHERE o_orderpriority = '$v'")
      assert(spark.sql(
        s"SELECT count(*) FROM cpcat.pt WHERE o_orderpriority = '$v'")
        .head().getLong(0)
        === 2 * base.filter(col("o_orderpriority") === v).count())

      // the declared partitioning reports even on the empty table and
      // NULL partition keys refuse loudly
      spark.sql("""CREATE TABLE cpcat.pt2 (k BIGINT, p STRING)
                  |PARTITIONED BY (p)""".stripMargin)
      val e = intercept[Exception] {
        spark.sql("INSERT INTO cpcat.pt2 VALUES (1, CAST(NULL AS STRING))")
      }
      assert(e.getMessage.contains("NULL partition value") ||
        Option(e.getCause).exists(_.getMessage.contains("NULL partition value")),
        s"null partition key did not refuse: ${e.getMessage}")
    }
  }

  test("ALTER TABLE RENAME TO: one atomic move; history, stats and pruning intact") {
    val wh = java.nio.file.Files.createTempDirectory("graft_rn_").toString
    val base = orders.limit(400)
    TimeTravel.commitClustered(spark, s"$wh/rn1", base, "o_orderkey", 4)
    TimeTravel.commit(spark, s"$wh/rn1",
      base.withColumn("o_orderkey", col("o_orderkey") + 7000000L))
    TimeTravel.commitStagedFiles(spark, s"$wh/other", Nil,
      "k BIGINT") // an occupied target name
    withConfs(
      "spark.sql.catalog.rncat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.rncat.warehouse" -> wh) {
      spark.sql("ALTER TABLE rncat.rn1 RENAME TO rn2")
      // the old name is gone, the new one serves the same table
      intercept[Exception] {
        spark.sql("SELECT count(*) FROM rncat.rn1").collect()
      }
      assert(spark.sql("SELECT count(*) FROM rncat.rn2").head().getLong(0)
        === 2 * base.count())
      // time travel and log stats crossed the rename intact
      assert(spark.sql("SELECT count(*) FROM rncat.rn2 VERSION AS OF 0")
        .head().getLong(0) === base.count())
      val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
      val pruned = TimeTravel.readAsOfWhere(spark, s"$wh/rn2", 1,
        "o_orderkey", keys(0), keys(99))
      assert(pruned.count() === base
        .filter(col("o_orderkey").between(keys(0), keys(99))).count())
      assert(pruned.inputFiles.length < 4,
        "stats pruning lost by the rename")
      // renaming onto an occupied name refuses; the source survives
      intercept[Exception] {
        spark.sql("ALTER TABLE rncat.rn2 RENAME TO other")
      }
      assert(spark.sql("SELECT count(*) FROM rncat.rn2").head().getLong(0)
        === 2 * base.count())
    }
  }

  test("CTAS PARTITIONED BY: data, schema and partition column land as ONE commit") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ctasp_").toString
    val base = orders.limit(500)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    withConfs(
      "spark.sql.catalog.ctcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.ctcat.warehouse" -> wh) {
      base.createOrReplaceTempView("ctasp_src")
      spark.sql("""CREATE TABLE ctcat.pt PARTITIONED BY (o_orderpriority)
                  |AS SELECT * FROM ctasp_src""".stripMargin)
      val root = s"$wh/pt"
      // ONE atomic commit: generation 0 holds data + partition property
      assert(TimeTravel.currentVersion(root) === 0)
      val nVals = base.select("o_orderpriority").distinct().count()
      assert(TimeTravel.snapshotFiles(root, 0).size === nVals)
      // a later INSERT picks the column up from the property
      spark.sql("INSERT INTO ctcat.pt SELECT o_orderkey + 5000000, " +
        "o_orderpriority, o_totalprice FROM ctasp_src")
      val v = base.select("o_orderpriority").distinct()
        .orderBy("o_orderpriority").head().getString(0)
      TableMetrics.reset()
      assert(spark.sql(
        s"SELECT count(*) FROM ctcat.pt WHERE o_orderpriority = '$v'")
        .head().getLong(0)
        === 2 * base.filter(col("o_orderpriority") === v).count())
      assert(openedUnder(root) === 2,
        s"pruning opened ${openedUnder(root)} files")
      // RTAS without PARTITIONED BY clears the property: the replacement
      // write is unpartitioned and later reads still answer
      spark.sql("REPLACE TABLE ctcat.pt AS " +
        "SELECT * FROM ctasp_src WHERE o_orderkey % 2 = 0")
      assert(spark.sql("SELECT count(*) FROM ctcat.pt").head().getLong(0)
        === base.filter(col("o_orderkey") % 2 === 0).count())
    }
  }

  test("ALTER TABLE SET TBLPROPERTIES: SQL route into CDF enablement") {
    val wh = java.nio.file.Files.createTempDirectory("graft_props_").toString
    val base = orders.limit(300)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, s"$wh/pt", base, "o_orderkey", 4)
    withConfs(
      "spark.sql.catalog.prcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.prcat.warehouse" -> wh) {
      spark.sql("ALTER TABLE prcat.pt SET TBLPROPERTIES (" +
        "'graft.enableChangeDataFeed' = 'true')")
      val root = s"$wh/pt"
      assert(TimeTravel.propsAsOf(root, TimeTravel.currentVersion(root))
        .get("graft.enableChangeDataFeed").contains("true"))
      // library DML after the SQL enablement writes row-level change
      // files — the property set through SQL drives the same machinery
      val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
      val vBefore = TimeTravel.currentVersion(root)
      TimeTravel.deleteWhere(spark, root, "o_orderkey", keys(10), keys(60))
      val changes = TimeTravel.readRowChanges(spark, root, vBefore,
        TimeTravel.currentVersion(root))
      assert(changes.filter(col("_change_type") === "delete").count()
        === base.filter(col("o_orderkey").between(keys(10), keys(60))).count())
      // the SQL copy-on-write DML path emits DIFF-FORM change files
      // (r14 verdict #2): the feed across a SQL DELETE answers the
      // deleted rows exactly (it used to refuse — the rewrite only
      // surfaced replacement rows)
      val v2 = TimeTravel.currentVersion(root)
      spark.sql(s"DELETE FROM prcat.pt WHERE o_orderkey BETWEEN " +
        s"${keys(100)} AND ${keys(120)}")
      val sqlChanges = TimeTravel.readRowChanges(spark, root, v2,
        TimeTravel.currentVersion(root))
      assert(sqlChanges.filter(col("_change_type") === "delete").count()
        === base.filter(col("o_orderkey").between(keys(100), keys(120)))
          .count())
      assert(sqlChanges.filter(col("_change_type") =!= "delete").count()
        === 0L, "a pure DELETE's diff feed carried non-delete rows")
    }
  }

  test("metadata DELETE and TRUNCATE emit row-level change files when CDF is on") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mdcdf_").toString
    val root = s"$wh/mt"
    val base = orders.limit(500)
    TimeTravel.commitPartitioned(spark, root, base, "o_orderpriority")
    TimeTravel.setProperty(spark, root, "graft.enableChangeDataFeed", "true")
    withConfs(
      "spark.sql.catalog.mdcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.mdcat.warehouse" -> wh) {
      val v = base.select("o_orderpriority").distinct()
        .orderBy("o_orderpriority").head().getString(0)
      val vBefore = TimeTravel.currentVersion(root)
      spark.sql(s"DELETE FROM mdcat.mt WHERE o_orderpriority = '$v'")
      // the feed across the metadata delete reconstructs exactly the
      // dropped partition's rows
      val changes = TimeTravel.readRowChanges(spark, root, vBefore,
        TimeTravel.currentVersion(root))
      assert(changes.filter(col("_change_type") === "delete").count()
        === base.filter(col("o_orderpriority") === v).count())
      // TRUNCATE emits the whole surviving snapshot as deletes
      val v2 = TimeTravel.currentVersion(root)
      spark.sql("TRUNCATE TABLE mdcat.mt")
      val trunc = TimeTravel.readRowChanges(spark, root, v2,
        TimeTravel.currentVersion(root))
      assert(trunc.filter(col("_change_type") === "delete").count()
        === base.filter(col("o_orderpriority") =!= v).count())
    }
  }

  test("streaming writes into a PARTITIONED BY catalog table land pruned-readable epochs") {
    val wh = java.nio.file.Files.createTempDirectory("graft_stpt_").toString
    val src = s"$wh/src"
    val ckpt = s"$wh/ckpt"
    val base = orders.limit(400)
    TimeTravel.commit(spark, src, base.filter(col("o_orderkey") % 2 === 0))
    TimeTravel.commit(spark, src, base.filter(col("o_orderkey") % 2 === 1))
    withConfs(
      "spark.sql.catalog.spwcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.spwcat.warehouse" -> wh) {
      spark.sql("""CREATE TABLE spwcat.pt (
                  |  o_orderkey BIGINT, o_orderpriority STRING,
                  |  o_totalprice DOUBLE)
                  |PARTITIONED BY (o_orderpriority)""".stripMargin)
      assert(TimeTravel.currentVersion(s"$wh/pt") === 0,
        s"CREATE TABLE landed nothing under $wh/pt")
      def drain(): Unit = {
        val q = spark.readStream
          .format("graft.sources.cdf.CdfDataSource")
          .option("startingGen", -1).option("maxGensPerTrigger", 1)
          .load(src)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").cast("double").as("o_totalprice"))
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("spwcat.pt")
        q.awaitTermination()
      }
      drain()
      val root = s"$wh/pt"
      // one generation per epoch beyond the schema-only create
      assert(TimeTravel.currentVersion(root) === 2)
      // every committed file carries its partition value
      val files = TimeTravel.snapshotFiles(root, 2)
      val pvals = TimeTravel.pvalsFor(root, 2)
      assert(files.nonEmpty && files.forall(pvals.contains),
        "a streamed file landed without a partition value")
      assert(spark.sql("SELECT count(*) FROM spwcat.pt").head().getLong(0)
        === base.count())
      // equality reads prune to the value's files, from log metadata
      val v = base.select("o_orderpriority").distinct()
        .orderBy("o_orderpriority").head().getString(0)
      TableMetrics.reset()
      assert(spark.sql(
        s"SELECT count(*) FROM spwcat.pt WHERE o_orderpriority = '$v'")
        .head().getLong(0) === base.filter(col("o_orderpriority") === v).count())
      val vFiles = files.count(f => pvals(f)._2 == v)
      assert(openedUnder(root) === vFiles,
        s"opened ${openedUnder(root)} files, " +
          s"value owns $vFiles of ${files.size}")
      // a restart from the same checkpoint replays nothing (exactly-once)
      drain()
      assert(TimeTravel.currentVersion(root) === 2,
        "a restarted drained stream landed a duplicate generation")
    }
  }

  test("concurrent SQL writers: racing INSERTs both land, racing UPDATEs resolve one-winner") {
    val wh = java.nio.file.Files.createTempDirectory("graft_race_").toString
    val base = orders.limit(400)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    withConfs(
      "spark.sql.catalog.rcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.rcat.warehouse" -> wh) {
      spark.sql("CREATE TABLE rcat.ct (o_orderkey BIGINT, o_totalprice DOUBLE)")
      base.createOrReplaceTempView("race_src")
      // two INSERT INTO from two threads: the optimistic claim makes the
      // loser retry at the next version — BOTH must land, exactly once
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val inserts = Seq(
        "INSERT INTO rcat.ct SELECT * FROM race_src WHERE o_orderkey % 2 = 0",
        "INSERT INTO rcat.ct SELECT * FROM race_src WHERE o_orderkey % 2 = 1")
        .map(q => new Thread(() =>
          try { spark.sql(q); () } catch { case t: Throwable => errs.add(t); () }))
      inserts.foreach(_.start()); inserts.foreach(_.join())
      assert(errs.isEmpty, s"a racing INSERT failed: ${errs.peek()}")
      assert(TimeTravel.currentVersion(s"$wh/ct") === 2,
        "the racing INSERTs did not claim distinct versions")
      assert(spark.sql("SELECT count(*) FROM rcat.ct").head().getLong(0)
        === base.count())
      assert(spark.sql(
        "SELECT count(*) FROM (SELECT o_orderkey FROM rcat.ct " +
          "GROUP BY o_orderkey HAVING count(*) > 1)").head().getLong(0)
        === 0L, "a retried INSERT duplicated rows")

      // two copy-on-write UPDATEs racing over the SAME rows: the commit's
      // remove-set validation makes this one-winner-plus-explicit-conflict
      // (or clean serialization) — never a silent lost update
      val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
      val (lo, hi) = (keys(10), keys(40))
      val uerrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val updates = Seq(100, 10000).map(add => new Thread(() =>
        try {
          spark.sql(s"UPDATE rcat.ct SET o_totalprice = o_totalprice + $add " +
            s"WHERE o_orderkey BETWEEN $lo AND $hi")
          ()
        } catch { case t: Throwable => uerrs.add(t); () }))
      updates.foreach(_.start()); updates.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val conflicts = uerrs.asScala.toSeq
      assert(conflicts.size <= 1, s"both racing UPDATEs failed: $conflicts")
      conflicts.foreach { t =>
        def chain(x: Throwable): Seq[Throwable] =
          if (x == null) Nil else x +: chain(x.getCause)
        assert(chain(t).exists(
          _.isInstanceOf[java.util.ConcurrentModificationException]),
          s"racing UPDATE failed with a non-conflict error: $t")
      }
      // the surviving band sum must be exactly the successful
      // statements' effects — any other value is a lost or torn update
      val inBand = base.filter(col("o_orderkey").between(lo, hi))
      val nBand = inBand.count()
      val baseSum = inBand
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
      val legalAdds: Seq[Long] =
        if (conflicts.isEmpty) Seq(10100L) else Seq(100L, 10000L)
      val legal = legalAdds.map(a => baseSum.add(
        new java.math.BigDecimal(a * nBand).setScale(2)))
      val gotSum = spark.sql(
        s"SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM rcat.ct " +
          s"WHERE o_orderkey BETWEEN $lo AND $hi").head().getDecimal(0)
      assert(legal.exists(_.compareTo(gotSum) == 0),
        s"update effects inconsistent: got $gotSum, legal $legal " +
          s"(${conflicts.size} conflicts)")
    }
  }

  test("SQL UPDATE after a DV delete never resurrects masked rows") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dv_dml_").toString
    val root = s"$wh/dt"
    val base = orders.limit(400)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (dlo, dhi) = (keys(50), keys(149))   // DV-deleted band
    val (ulo, uhi) = (keys(200), keys(299))  // updated band, disjoint
    TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", dlo, dhi)
    withConfs(
      "spark.sql.catalog.dvcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.dvcat.warehouse" -> wh) {
      spark.sql(s"UPDATE dvcat.dt SET o_totalprice = o_totalprice + 500 " +
        s"WHERE o_orderkey BETWEEN $ulo AND $uhi")
      // the copy-on-write rewrite read its candidates THROUGH the mask:
      // the DV-deleted band must still be absent, updates exact
      val live = base.filter(!col("o_orderkey").between(dlo, dhi))
      val expect = live.withColumn("o_totalprice",
        when(col("o_orderkey").between(ulo, uhi), col("o_totalprice") + 500)
          .otherwise(col("o_totalprice")))
      assert(spark.sql("SELECT count(*) FROM dvcat.dt").head().getLong(0)
        === expect.count())
      assert(spark.sql(
        s"SELECT count(*) FROM dvcat.dt WHERE o_orderkey BETWEEN $dlo AND $dhi")
        .head().getLong(0) === 0,
        "copy-on-write UPDATE resurrected DV-masked rows")
      assert(spark.sql(
        "SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM dvcat.dt")
        .head().getDecimal(0)
        === expect.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
          .head().getDecimal(0))
    }
  }

  test("q229 DV-routed SQL DELETE: opt-in unaligned deletes rewrite zero files; aligned and non-range shapes keep their paths") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dvdel_").toString
    val root = s"$wh/dv"
    val base = orders.limit(800)
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(keys.length / 4), keys(keys.length / 2))
    withConfs(
      "spark.sql.catalog.vcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.vcat.warehouse" -> wh) {
      spark.sql("ALTER TABLE vcat.dv SET TBLPROPERTIES (" +
        "'graft.enableDeletionVectors' = 'true')")
      val before = TimeTravel.snapshotFiles(root, 1).toSet
      spark.sql(s"DELETE FROM vcat.dv WHERE o_orderkey BETWEEN $lo AND $hi")
      val gen = TimeTravel.currentVersion(root)
      assert(gen === 2, "the DV delete did not land exactly one commit")
      // merge-on-read: the data-file set is IDENTICAL — the delete cost
      // a position sidecar, not the touched files' bytes
      assert(TimeTravel.snapshotFiles(root, gen).toSet === before,
        "a DV-routed DELETE rewrote or retired data files")
      val expect = base.filter(!col("o_orderkey").between(lo, hi)).count()
      assert(spark.sql("SELECT count(*) FROM vcat.dv").head().getLong(0)
        === expect)
      assert(spark.sql(s"SELECT count(*) FROM vcat.dv " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi").head().getLong(0) === 0L,
        "masked rows surfaced through the catalog scan")
      // the pre-delete snapshot reads unmasked
      assert(spark.sql("SELECT count(*) FROM vcat.dv VERSION AS OF 1")
        .head().getLong(0) === base.count())
      // a second DV delete COMPOSES (positions union, still zero rewrites)
      spark.sql(s"DELETE FROM vcat.dv WHERE o_orderkey = ${keys.last}")
      assert(TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet === before)
      assert(spark.sql("SELECT count(*) FROM vcat.dv").head().getLong(0)
        === expect - 1)
      // a NON-RANGE predicate (string equality, unaligned) is not
      // canDeleteWhere-expressible: on a DV table it runs as the
      // MERGE-ON-READ delta op (q232) — still zero rewrites, masked
      // rows stay gone, result exact
      val minP = base.agg(min("o_orderpriority")).head().getString(0)
      spark.sql(s"DELETE FROM vcat.dv WHERE o_orderpriority = '$minP'")
      assert(TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet === before,
        "the non-range DELETE rewrote files despite the DV delta path")
      val expect2 = base.filter(!col("o_orderkey").between(lo, hi))
        .filter(col("o_orderkey") =!= keys.last)
        .filter(col("o_orderpriority") =!= minP).count()
      assert(spark.sql("SELECT count(*) FROM vcat.dv").head().getLong(0)
        === expect2)
    }
    // an ALIGNED predicate keeps the q205 metadata path even with DVs
    // enabled: remove-only commit, zero rows scanned
    val root2 = s"$wh/pt"
    TimeTravel.commitPartitioned(spark, root2, base, "o_orderpriority")
    val minP = base.agg(min("o_orderpriority")).head().getString(0)
    withConfs(
      "spark.sql.catalog.vcat2" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.vcat2.warehouse" -> wh) {
      spark.sql("ALTER TABLE vcat2.pt SET TBLPROPERTIES (" +
        "'graft.enableDeletionVectors' = 'true')")
      TableMetrics.reset()
      spark.sql(s"DELETE FROM vcat2.pt WHERE o_orderpriority = '$minP'")
      assert(openedUnder(root2) === 0,
        "an aligned DELETE row-scanned despite the metadata path")
      assert(TimeTravel.snapshotFiles(root2, 2).size
        < TimeTravel.snapshotFiles(root2, 0).size,
        "the aligned DELETE did not retire the partition's files")
    }
  }

  test("ALTER guards: partition-spec columns refuse RENAME/DROP; unsupported DEFAULT types refuse at ALTER (r15 ADVICE)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_guard_").toString
    withConfs(
      "spark.sql.catalog.gcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.gcat.warehouse" -> wh) {
      spark.sql("CREATE TABLE gcat.t (k BIGINT, p STRING, d DATE) " +
        "PARTITIONED BY (p)")
      spark.sql("INSERT INTO gcat.t VALUES (1, 'a', DATE'2024-01-02')")
      // renaming/dropping the spec-referenced column would strand the
      // stored spec on a stale name (every later INSERT fails obscurely)
      val e1 = intercept[Exception] {
        spark.sql("ALTER TABLE gcat.t RENAME COLUMN p TO q")
      }
      assert(e1.getMessage.contains("partition spec"), e1.getMessage)
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE gcat.t DROP COLUMN p")
      }
      assert(e2.getMessage.contains("partition spec"), e2.getMessage)
      // a TRANSFORM-spec column refuses the same way
      spark.sql("CREATE TABLE gcat.t2 (k BIGINT, d DATE) " +
        "PARTITIONED BY (months(d))")
      val e3 = intercept[Exception] {
        spark.sql("ALTER TABLE gcat.t2 RENAME COLUMN d TO dd")
      }
      assert(e3.getMessage.contains("partition spec"), e3.getMessage)
      // non-spec columns still evolve freely
      spark.sql("ALTER TABLE gcat.t RENAME COLUMN k TO kk")
      // evolving the spec away (clear marker) legalizes the rename, and
      // later INSERTs still land
      spark.sql("ALTER TABLE gcat.t SET TBLPROPERTIES (" +
        "'graft.partitionCol' = '')")
      spark.sql("ALTER TABLE gcat.t RENAME COLUMN p TO q")
      spark.sql("INSERT INTO gcat.t VALUES (2, 'b', DATE'2024-02-03')")
      assert(spark.sql("SELECT count(*) FROM gcat.t").head().getLong(0)
        === 2L)
      // an unsupported DEFAULT type (TIMESTAMP — the reader cannot
      // convert it) refuses AT ALTER; the table stays fully scannable
      val e4 = intercept[Exception] {
        spark.sql("ALTER TABLE gcat.t ADD COLUMN ts TIMESTAMP " +
          "DEFAULT TIMESTAMP'2020-01-01 00:00:00'")
      }
      assert(e4.getMessage.contains("DEFAULT"), e4.getMessage)
      assert(spark.sql("SELECT * FROM gcat.t").collect().length === 2)
      // a supported default still works end-to-end
      spark.sql("ALTER TABLE gcat.t ADD COLUMN tag STRING DEFAULT 'x'")
      assert(spark.sql("SELECT count(*) FROM gcat.t WHERE tag = 'x'")
        .head().getLong(0) === 2L)
    }
  }

  test("row-level DML on a column-mapped CDF table emits a logical-named feed (r17: refusal lifted)") {
    // change files now land under PHYSICAL names like every data file,
    // and the feed's one read-time projection surfaces the logical
    // schema at toGen — so CDF works on renamed/added-column tables
    // across copy-on-write AND merge-on-read DML (Delta's CDC under
    // column mapping). The r15 write-time refusal is gone.
    val wh = java.nio.file.Files.createTempDirectory("graft_cmcdf_").toString
    val root = s"$wh/cm"
    val base = orders.limit(300)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 2)
    withConfs(
      "spark.sql.catalog.ccat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.ccat.warehouse" -> wh) {
      spark.sql("ALTER TABLE ccat.cm SET TBLPROPERTIES (" +
        "'graft.enableChangeDataFeed' = 'true')")
      spark.sql("ALTER TABLE ccat.cm RENAME COLUMN o_totalprice TO price")
      // copy-on-write UPDATE through the renamed name: the diff-form
      // feed reconstructs the update under LOGICAL names
      val v0 = TimeTravel.currentVersion(root)
      spark.sql("UPDATE ccat.cm SET price = price * 2 " +
        "WHERE o_orderkey <= 100")
      val touched = base.filter(col("o_orderkey") <= 100)
      val chg = TimeTravel.readRowChanges(spark, root, v0,
        TimeTravel.currentVersion(root))
      assert(chg.columns.contains("price") &&
        !chg.columns.contains("o_totalprice"),
        s"feed surfaced physical names: ${chg.columns.mkString(",")}")
      assert(chg.filter(col("_change_type") === "delete").count()
        === touched.count())
      assert(chg.filter(col("_change_type") === "insert")
        .agg(sum(col("price").cast("decimal(18,2)"))).head().getDecimal(0)
        === touched.agg(sum((col("o_totalprice") * 2)
          .cast("decimal(18,2)"))).head().getDecimal(0))
      // merge-on-read flavor: DV-enabled DELETE on the mapped CDF
      // table masks + emits the deleted rows, zero files rewritten
      spark.sql("ALTER TABLE ccat.cm SET TBLPROPERTIES (" +
        "'graft.enableDeletionVectors' = 'true')")
      val v1 = TimeTravel.currentVersion(root)
      val filesBefore = TimeTravel.snapshotFiles(root, v1).toSet
      spark.sql("DELETE FROM ccat.cm WHERE o_orderkey % 3 = 0")
      assert(filesBefore.subsetOf(TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet),
        "mapped merge-on-read DELETE rewrote files")
      val del = TimeTravel.readRowChanges(spark, root, v1,
        TimeTravel.currentVersion(root))
      val expectDel = base.withColumn("o_totalprice",
        when(col("o_orderkey") <= 100, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
        .filter(col("o_orderkey") % 3 === 0)
      assert(del.filter(col("_change_type") === "delete").count()
        === expectDel.count())
      assert(del.filter(col("_change_type") === "delete")
        .agg(sum(col("price").cast("decimal(18,2)"))).head().getDecimal(0)
        === expectDel.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
          .head().getDecimal(0))
      // an added column null-fills in pre-evolution change frames and
      // carries values in post-evolution ones
      spark.sql("ALTER TABLE ccat.cm ADD COLUMN tag STRING")
      val v2 = TimeTravel.currentVersion(root)
      spark.sql("UPDATE ccat.cm SET tag = 'hot' WHERE o_orderkey <= 50")
      val tagged = TimeTravel.readRowChanges(spark, root, v2,
        TimeTravel.currentVersion(root))
      assert(tagged.filter(col("_change_type") === "insert" &&
        col("tag") === "hot").count() > 0)
      // a range SPANNING the evolution projects to the schema at toGen:
      // frames from before the ADD COLUMN null-fill tag
      val span = TimeTravel.readRowChanges(spark, root, v0,
        TimeTravel.currentVersion(root))
      assert(span.columns.contains("tag"))
      assert(span.filter(col("_commit_version") === v0 + 1 &&
        col("tag").isNotNull).count() === 0L,
        "a pre-evolution change frame carried values for a later column")
      // and the table itself stays exact
      val expect = base.withColumn("o_totalprice",
        when(col("o_orderkey") <= 100, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
        .filter(col("o_orderkey") % 3 =!= 0)
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")))
        .head().getDecimal(0)
      assert(spark.sql(
        "SELECT sum(CAST(price AS DECIMAL(18,2))) FROM ccat.cm")
        .head().getDecimal(0) === expect)
    }
  }

  test("merge-on-read SQL DML: UPDATE/DELETE/MERGE mask + append via SupportsDelta, never rewrite") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mor_").toString
    val root = s"$wh/mr"
    val base = orders.limit(800)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(100), keys(299))
    def decSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().get(0)
    withConfs(
      "spark.sql.catalog.mrcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.mrcat.warehouse" -> wh) {
      spark.sql("ALTER TABLE mrcat.mr SET TBLPROPERTIES (" +
        "'graft.enableDeletionVectors' = 'true')")
      val files1 = TimeTravel.snapshotFiles(root, 1).toSet

      // UPDATE: matched rows are masked by position; ONLY the updated
      // rows append — no pre-existing file is rewritten or retired
      spark.sql("UPDATE mrcat.mr SET o_totalprice = o_totalprice + 1000 " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi")
      val files2 = TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet
      assert(files1.subsetOf(files2), "merge-on-read UPDATE retired files")
      assert((files2 -- files1).nonEmpty, "UPDATE appended no rows")
      val exp1 = base.withColumn("o_totalprice",
        when(col("o_orderkey").between(lo, hi), col("o_totalprice") + 1000)
          .otherwise(col("o_totalprice")))
      assert(spark.sql("SELECT count(*) FROM mrcat.mr").head().getLong(0)
        === base.count())
      assert(decSum(spark.table("mrcat.mr")) === decSum(exp1))
      // the pre-update snapshot reads its own values
      assert(decSum(spark.sql("SELECT * FROM mrcat.mr VERSION AS OF 1"))
        === decSum(base))

      // DELETE with a NON-RANGE predicate (modulo — neither file-aligned
      // nor canDeleteWhere-expressible): still merge-on-read
      spark.sql("DELETE FROM mrcat.mr WHERE o_orderkey % 7 = 3")
      val files3 = TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet
      assert(files2.subsetOf(files3), "merge-on-read DELETE retired files")
      val exp2 = exp1.filter(col("o_orderkey") % 7 =!= 3)
      assert(spark.sql("SELECT count(*) FROM mrcat.mr").head().getLong(0)
        === exp2.count())
      assert(decSum(spark.table("mrcat.mr")) === decSum(exp2))

      // MERGE: matched keys re-price, unmatched keys insert — masks +
      // appends, the cross-file shuffle case the per-file position
      // merge in the commit handles
      val mx = keys.last
      base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 3).as("o_totalprice"))
        .unionByName(base.limit(20)
          .select((col("o_orderkey") + mx + 1000).as("o_orderkey"),
            col("o_totalprice")))
        .createOrReplaceTempView("mor_src")
      spark.sql(
        """MERGE INTO mrcat.mr t USING mor_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority,
          |  o_totalprice) VALUES (s.o_orderkey, 'NEW', s.o_totalprice)
          |""".stripMargin)
      val files4 = TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet
      assert(files3.subsetOf(files4), "merge-on-read MERGE retired files")
      // values: recompute expectation from scratch — LIVE matched rows
      // take the source price (3 × the ORIGINAL); source keys whose
      // target rows the DELETE masked are NOT MATCHED and re-insert
      // (deleted rows must not match — the mask IS the delete); plus
      // the 20 brand-new keys
      val srcPrice = base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 3).as("src_price"))
      val merged = exp2.join(srcPrice, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("src_price"), col("o_totalprice"))
            .as("o_totalprice"))
      val resurrected = srcPrice
        .join(exp2.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("src_price").as("o_totalprice"))
      val inserted = base.limit(20)
        .select((col("o_orderkey") + mx + 1000).as("o_orderkey"),
          col("o_totalprice"))
      val nNew = 20 + resurrected.count()
      assert(spark.sql("SELECT count(*) FROM mrcat.mr").head().getLong(0)
        === exp2.count() + nNew)
      assert(decSum(spark.table("mrcat.mr"))
        === decSum(merged.unionByName(resurrected).unionByName(inserted)))
      assert(spark.sql(
        "SELECT count(*) FROM mrcat.mr WHERE o_orderpriority = 'NEW'")
        .head().getLong(0) === nNew)
      // every original file is STILL byte-identical-present: three DML
      // statements, zero rewrites
      assert(files1.subsetOf(files4))
    }
  }

  test("merge-on-read DML scan prunes: an UPDATE's band touches only stats-overlapping files") {
    val wh = java.nio.file.Files.createTempDirectory("graft_morp_").toString
    val root = s"$wh/pr"
    val base = orders.limit(800)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 8)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    // a band inside one half-cell: ≤2 of 8 clustered files overlap
    val (lo, hi) = (keys(50), keys(99))
    withConfs(
      "spark.sql.catalog.morpcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.morpcat.warehouse" -> wh) {
      spark.sql("ALTER TABLE morpcat.pr SET TBLPROPERTIES (" +
        "'graft.enableDeletionVectors' = 'true')")
      TableMetrics.reset()
      spark.sql("UPDATE morpcat.pr SET o_totalprice = o_totalprice + 1 " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi")
      // the delta candidate scan static-prunes from log stats: files
      // whose key range misses the band are never opened, let alone
      // masked — the same FileSkip discipline the read path has
      val opened = openedUnder(root)
      assert(opened > 0 && opened <= 2,
        s"merge-on-read UPDATE opened $opened of 8 files for a " +
          "half-cell band")
      // and the masks landed only on the touched files
      val dvFiles = TimeTravel.dvsFor(root,
        TimeTravel.currentVersion(root)).keySet
      assert(dvFiles.nonEmpty && dvFiles.size <= 2,
        s"masks landed on ${dvFiles.size} files")
      val expect = base.withColumn("o_totalprice",
        when(col("o_orderkey").between(lo, hi), col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      assert(spark.sql(
        "SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM morpcat.pr")
        .head().getDecimal(0) ===
        expect.agg(sum(col("o_totalprice").cast("decimal(18,2)")))
          .head().getDecimal(0))
    }
  }

  test("CREATE TABLE / CTAS TBLPROPERTIES: graft.* keys land in the generation-0 commit") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ctp_").toString
    withConfs(
      "spark.sql.catalog.pcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.pcat.warehouse" -> wh) {
      // born CDF-enabled: no follow-up ALTER, the FIRST DML already
      // writes change files (these used to be silently dropped)
      spark.sql("CREATE TABLE pcat.t (k BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('graft.enableChangeDataFeed' = 'true')")
      assert(TimeTravel.propsAsOf(s"$wh/t", 0)
        .get("graft.enableChangeDataFeed").contains("true"),
        "CREATE TABLE dropped the TBLPROPERTIES")
      spark.sql("INSERT INTO pcat.t VALUES (1, CAST(1.5 AS DOUBLE)), " +
        "(2, CAST(2.5 AS DOUBLE))")
      spark.sql("DELETE FROM pcat.t WHERE k = 1")
      val feed = TimeTravel.readRowChanges(spark, s"$wh/t", 1, 2)
      assert(feed.filter(col("_change_type") === "delete").count() === 1L,
        "a table born CDF-enabled wrote no change files")
      // CTAS: the property rides the SAME single commit as the data
      spark.sql("CREATE TABLE pcat.c " +
        "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true') " +
        "AS SELECT CAST(id AS BIGINT) AS k FROM range(10)")
      assert(TimeTravel.currentVersion(s"$wh/c") === 0)
      assert(TimeTravel.propsAsOf(s"$wh/c", 0)
        .get("graft.enableDeletionVectors").contains("true"))
      // a property-declared partition layout governs later INSERTs
      spark.sql("CREATE TABLE pcat.p (k BIGINT, p STRING) " +
        "TBLPROPERTIES ('graft.partitionCol' = 'p')")
      spark.sql("INSERT INTO pcat.p VALUES (1, 'a'), (2, 'b'), (3, 'a')")
      assert(spark.sql("SELECT count(*) FROM pcat.p WHERE p = 'a'")
        .head().getLong(0) === 2L)
      // ...but TWO sources of truth for the layout refuse loudly
      val e = intercept[Exception] {
        spark.sql("CREATE TABLE pcat.x (k BIGINT, p STRING) " +
          "PARTITIONED BY (p) " +
          "TBLPROPERTIES ('graft.partitionCol' = 'k')")
      }
      assert(e.getMessage.contains("exactly once"), e.getMessage)
      // and a spec over a missing column fails the CREATE, not an INSERT
      val e2 = intercept[Exception] {
        spark.sql("CREATE TABLE pcat.y (k BIGINT) " +
          "TBLPROPERTIES ('graft.partitionCol' = 'nope')")
      }
      assert(e2.getMessage.contains("not in the table schema"),
        e2.getMessage)
    }
  }

  test("cross-process commit race: a second JVM's INSERTs interleave losslessly; its compaction conflicts a stale remove (r15 verdict #5)") {
    // the in-JVM lock cannot serialize another process — this drives the
    // claim protocol's cross-process primitive (a hard link on file:/)
    // through a genuinely separate JVM
    val cp = System.getProperty("java.class.path")
    assume(cp != null && cp.contains("test-classes"),
      "forked-test classpath unavailable; cannot spawn the child JVM")
    val wh = java.nio.file.Files.createTempDirectory("graft_xjvm_").toString
    val root = s"$wh/rt"
    val n = 4
    withConfs(
      "spark.sql.catalog.xcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.xcat.warehouse" -> wh) {
      spark.sql("CREATE TABLE xcat.rt (w INT, i INT)")
      spark.sql("INSERT INTO xcat.rt VALUES (0, 0)")
      val stale = TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root))
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val childLog = java.nio.file.Files.createTempFile("graft_xjvm_", ".log")
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g", "-cp", cp,
        "graft.RaceCommitter", wh, "rt", "7", n.toString))
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(childLog.toFile)
      val child = pb.start()
      // race the child: the parent's own INSERTs land through the same
      // claim protocol while the child JVM commits
      (1 to n).foreach(i => spark.sql(s"INSERT INTO xcat.rt VALUES (1, $i)"))
      assert(child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not finish")
      if (child.exitValue() != 0) {
        val log = new String(java.nio.file.Files.readAllBytes(childLog),
          "UTF-8")
        fail(s"child JVM failed (exit ${child.exitValue()}): " +
          log.takeRight(2000))
      }
      // every commit landed exactly once: the create + 1 seed + 2n
      // inserts + the child's compact claim distinct versions, and no
      // rows were lost to a replaced commit file
      assert(TimeTravel.currentVersion(root) === 2 * n + 2,
        "commits were lost or double-claimed across processes")
      assert(spark.sql("SELECT count(*) FROM xcat.rt").head().getLong(0)
        === 2 * n + 1)
      assert(spark.sql("SELECT count(*) FROM xcat.rt WHERE w = 7")
        .head().getLong(0) === n, "a child-JVM INSERT was lost")
      assert(spark.sql("SELECT count(*) FROM xcat.rt WHERE w = 1")
        .head().getLong(0) === n, "a parent INSERT was lost")
      // the child's compaction retired the seed files this JVM captured
      // BEFORE the spawn: re-planning a remove against that stale state
      // must surface the explicit cross-process conflict, never land
      val e = intercept[java.util.ConcurrentModificationException] {
        TimeTravel.commit(spark, root,
          spark.range(1).selectExpr("CAST(id AS INT) AS w",
            "CAST(id AS INT) AS i"),
          removed = stale)
      }
      assert(e.getMessage.contains("conflict"), e.getMessage)
    }
  }

  test("merge-on-read DML ships fragment NAMES, never positions, through commit messages") {
    // drive the task-side delta writer directly: deletes must land as
    // executor-written position-fragment sidecars, with the commit
    // message carrying only (file, fragment, cardinality) triples —
    // driver payload ∝ touched files, not deleted rows (r16 verdict #1)
    val root = newRoot()
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    val w = new graft.sources.table.GraftDeltaWriter(schema, root, conf,
      Map.empty, 3, 42L, "aaaa1111")
    import org.apache.spark.unsafe.types.UTF8String
    def id(f: String, p: Long) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(f), p))
    val posA = Seq(5L, 1L, 9L, 5L) // unsorted + duplicate
    val posB = Seq(0L, 7L)
    posA.foreach(p => w.delete(null, id("a.parquet", p)))
    posB.foreach(p => w.delete(null, id("b.parquet", p)))
    val msg = w.commit().asInstanceOf[graft.sources.table.DeltaTaskMsg]
    assert(msg.tmp == null && msg.rows === 0L)
    assert(msg.frags.map(t => (t._1, t._3)) ===
      Seq(("a.parquet", 3L), ("b.parquet", 2L)))
    // the positions live in the named executor-side sidecars, sorted
    // and deduped; nothing position-shaped is in the message itself
    msg.frags.foreach { case (f, name, card) =>
      val got = TimeTravel.readPositions(
        s"${TimeTravel.fragDir(root)}/$name", conf)
      assert(got.length === card)
      assert(got.toSeq === (if (f == "a.parquet") Seq(1L, 5L, 9L) else posB))
    }

    // and end-to-end: a broad non-range DELETE consumes the fragments
    // (the commit drops them) and lands one final vector per file
    val wh = java.nio.file.Files.createTempDirectory("graft_frg_").toString
    val root2 = s"$wh/fr"
    val base = orders.limit(600)
    TimeTravel.commitClustered(spark, root2, base, "o_orderkey", 4)
    withConfs(
      "spark.sql.catalog.frcat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.frcat.warehouse" -> wh) {
      spark.sql("ALTER TABLE frcat.fr SET TBLPROPERTIES (" +
        "'graft.enableDeletionVectors' = 'true')")
      spark.sql("DELETE FROM frcat.fr WHERE o_orderkey % 2 = 0")
      val v = TimeTravel.currentVersion(root2)
      val dvs = TimeTravel.dvsFor(root2, v)
      assert(dvs.values.map(_._2).sum ===
        base.filter(col("o_orderkey") % 2 === 0).count())
      val fragPath = new org.apache.hadoop.fs.Path(TimeTravel.fragDir(root2))
      val fs = fragPath.getFileSystem(conf)
      assert(!fs.exists(fragPath) || fs.listStatus(fragPath).isEmpty,
        "consumed position fragments were left behind")
      assert(spark.sql("SELECT count(*) FROM frcat.fr").head().getLong(0)
        === base.filter(col("o_orderkey") % 2 === 1).count())
    }
  }

  test("CDF + deletion vectors: merge-on-read DML emits the same diff feed as copy-on-write, rewriting nothing") {
    val wh = java.nio.file.Files.createTempDirectory("graft_morcdf_").toString
    val base = orders.limit(600)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(100), keys(249))
    val mx = keys.last
    // two siblings with identical data + CDF; only `mor` opts into DVs
    for (t <- Seq("mor", "cow"))
      TimeTravel.commitClustered(spark, s"$wh/$t", base, "o_orderkey", 4)
    withConfs(
      "spark.sql.catalog.mccat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.mccat.warehouse" -> wh) {
      spark.sql("ALTER TABLE mccat.mor SET TBLPROPERTIES (" +
        "'graft.enableChangeDataFeed' = 'true', " +
        "'graft.enableDeletionVectors' = 'true')")
      spark.sql("ALTER TABLE mccat.cow SET TBLPROPERTIES (" +
        "'graft.enableChangeDataFeed' = 'true')")
      base.filter(col("o_orderkey").between(lo, hi))
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + 500).as("price"))
        .unionByName(base.limit(15)
          .select((col("o_orderkey") + mx + 1).as("k"),
            col("o_totalprice").as("price")))
        .createOrReplaceTempView("morcdf_src")
      def feed(t: String): Seq[(String, Long, Double)] = {
        val root = s"$wh/$t"
        val vBefore = TimeTravel.currentVersion(root)
        spark.sql(
          s"""MERGE INTO mccat.$t t USING morcdf_src s ON t.o_orderkey = s.k
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
             |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority,
             |  o_totalprice) VALUES (s.k, 'NEW', s.price)""".stripMargin)
        TimeTravel.readRowChanges(spark, root, vBefore,
          TimeTravel.currentVersion(root))
          .select(col("_change_type"), col("o_orderkey"),
            col("o_totalprice"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .toSeq.sorted
      }
      val filesBefore = TimeTravel.snapshotFiles(s"$wh/mor", 2).toSet
      val morFeed = feed("mor")
      // merge-on-read even with CDF on: zero files rewritten or retired
      assert(filesBefore.subsetOf(TimeTravel.snapshotFiles(s"$wh/mor",
        TimeTravel.currentVersion(s"$wh/mor")).toSet),
        "CDF-enabled merge-on-read MERGE rewrote data files")
      // and the feed is exactly the copy-on-write sibling's: delete +
      // insert pairs per updated row, inserts for new keys, nothing for
      // carried-over rows
      assert(morFeed === feed("cow"))
      assert(morFeed.nonEmpty)
      // the tables themselves agree too
      val a = spark.sql("SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))" +
        " FROM mccat.mor").head().getDecimal(0)
      val b = spark.sql("SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))" +
        " FROM mccat.cow").head().getDecimal(0)
      assert(a === b)
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns; the keyword-free MERGE still refuses") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mse_").toString
    val root = s"$wh/ev"
    val base = orders.limit(400)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (keys(100), keys(199))
    withConfs(
      "spark.sql.catalog.msecat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.msecat.warehouse" -> wh) {
      base.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumn("tier", lit("gold"))
        .createOrReplaceTempView("mse_src")
      // WITHOUT the keyword: the unknown source column refuses the
      // MERGE — the capability alone must not auto-evolve
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(
          """MERGE INTO msecat.ev t USING mse_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET t.tier = s.tier""".stripMargin)
      }
      assert(e.getMessage.toLowerCase.contains("tier"), e.getMessage)
      assert(!TimeTravel.schemaAsOf(root, TimeTravel.currentVersion(root))
        .exists(_.fieldNames.contains("tier")),
        "a refused MERGE still evolved the schema")
      // WITH the keyword: tier lands (null-backfilled for unmatched
      // rows), matched rows take the source values, in one statement
      spark.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO msecat.ev t
          |USING mse_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(TimeTravel.schemaAsOf(root, TimeTravel.currentVersion(root))
        .exists(_.fieldNames.contains("tier")))
      assert(spark.sql(
        "SELECT count(*) FROM msecat.ev WHERE tier = 'gold'")
        .head().getLong(0) === base.filter(col("o_orderkey").between(lo, hi))
          .count())
      assert(spark.sql(
        "SELECT count(*) FROM msecat.ev WHERE tier IS NULL")
        .head().getLong(0) === base.filter(!col("o_orderkey").between(lo, hi))
          .count())
      val expect = base.withColumn("o_totalprice",
        when(col("o_orderkey").between(lo, hi), col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")))
        .head().getDecimal(0)
      assert(spark.sql(
        "SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM msecat.ev")
        .head().getDecimal(0) === expect)
    }
  }

  test("graft.autoCompact bounds streaming small files; history and exactly-once survive") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ac_").toString
    val src = s"$wh/src"
    val ckpt = s"$wh/ckpt"
    val base = orders.limit(450)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    // 15 source generations → 15 sink epochs of one small file each
    for (i <- 0 until 15)
      TimeTravel.commit(spark, src, base.filter(col("o_orderkey") % 15 === i))
    withConfs(
      "spark.sql.catalog.accat" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.accat.warehouse" -> wh) {
      spark.sql("""CREATE TABLE accat.ac (
                  |  o_orderkey BIGINT, o_orderpriority STRING,
                  |  o_totalprice DOUBLE)
                  |TBLPROPERTIES ('graft.autoCompact' = 'true',
                  |  'graft.autoCompact.minFiles' = '4',
                  |  'graft.autoCompact.smallRows' = '100000')""".stripMargin)
      val root = s"$wh/ac"
      def drain(): Unit = {
        val q = spark.readStream
          .format("graft.sources.cdf.CdfDataSource")
          .option("startingGen", -1).option("maxGensPerTrigger", 1)
          .load(src)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("accat.ac")
        q.awaitTermination()
      }
      drain()
      val v = TimeTravel.currentVersion(root)
      // 15 epochs landed 15 data generations PLUS compaction commits,
      // and the snapshot converged to a bounded file count
      assert(v > 15, s"no auto-compaction commit landed (v=$v)")
      val files = TimeTravel.snapshotFiles(root, v)
      assert(files.size <= 5,
        s"auto-compaction left ${files.size} small files")
      assert(spark.sql("SELECT count(*) FROM accat.ac").head().getLong(0)
        === base.count())
      // history through the nodata compactions stays readable
      assert(TimeTravel.readAsOf(spark, root, 3).count() > 0)
      // a restarted drained stream replays nothing — the txn protocol
      // is undisturbed by the interleaved compaction commits
      drain()
      assert(spark.sql("SELECT count(*) FROM accat.ac").head().getLong(0)
        === base.count(), "a replayed epoch landed duplicate rows")
    }
  }

  test("graft.autoCompact compacts RENAMED tables too (stale colmap skip lifted, r18)") {
    // the r17 guard predated compactSmall's mapped-awareness: a renamed
    // table with autoCompact on silently accumulated small files forever
    val wh = java.nio.file.Files.createTempDirectory("graft_acm_").toString
    val root = s"$wh/acm"
    val base = orders.limit(300)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 2)
    withConfs(
      "spark.sql.catalog.acmc" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.acmc.warehouse" -> wh) {
      spark.sql("ALTER TABLE acmc.acm SET TBLPROPERTIES (" +
        "'graft.autoCompact' = 'true', " +
        "'graft.autoCompact.minFiles' = '4', " +
        "'graft.autoCompact.smallRows' = '100000')")
      spark.sql("ALTER TABLE acmc.acm RENAME COLUMN o_totalprice TO price")
      for (i <- 0 until 8)
        spark.sql(s"INSERT INTO acmc.acm VALUES (${9000000L + i}, 1.5)")
      val v = TimeTravel.currentVersion(root)
      val files = TimeTravel.snapshotFiles(root, v)
      assert(files.size <= 5,
        s"auto-compaction skipped the mapped table (${files.size} files)")
      // the compactions kept the renamed column's bytes and the logical
      // schema — the r17 mapped-aware compactSmall guarantees
      val after = TimeTravel.readAsOfMapped(spark, root, v)
      assert(after.columns.toSeq === Seq("o_orderkey", "price"))
      assert(after.count() === base.count() + 8)
      assert(after.filter(col("price").isNull).count() === 0L,
        "auto-compaction nulled a renamed column")
    }
  }

  test("autoCompact packs PARTITIONED tables per value group; value lines survive (r18)") {
    // the old wholesale skip silently accumulated small files forever;
    // per-group packing keeps equality/DPP pruning through maintenance
    val wh = java.nio.file.Files.createTempDirectory("graft_pac_").toString
    val root = s"$wh/pac"
    withConfs(
      "spark.sql.catalog.pacc" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.pacc.warehouse" -> wh) {
      spark.sql("""CREATE TABLE pacc.pac (k BIGINT, p STRING)
                  |PARTITIONED BY (p)
                  |TBLPROPERTIES ('graft.autoCompact' = 'true',
                  |  'graft.autoCompact.minFiles' = '4',
                  |  'graft.autoCompact.smallRows' = '100000')""".stripMargin)
      for (i <- 0 until 6)
        spark.sql(s"INSERT INTO pacc.pac VALUES ($i, 'a'), (${i + 100}, 'b')")
      val gen = TimeTravel.currentVersion(root)
      val files = TimeTravel.snapshotFiles(root, gen)
      // steady state per group: 1 packed + up to minFiles−1 pending
      assert(files.size <= 8 && files.size < 12,
        s"per-partition auto-compaction left ${files.size} small files")
      assert(gen > 6, s"no auto-compaction commit landed (gen $gen)")
      // every packed output CARRIES its partition value line — pruning
      // survives maintenance, and partitions never merged
      val tv = TimeTravel.tvalsFor(root, gen)
      files.foreach { f =>
        assert(tv.contains((f, "p")), s"file $f lost its value line")
        val v = tv((f, "p"))._2
        val distinct = spark.read.parquet(s"$root/data/$f")
          .select("p").distinct().collect().map(_.getString(0)).toSeq
        assert(distinct === Seq(v),
          s"file $f mixes partitions: $distinct (line says $v)")
      }
      // counts and the pruned equality read stay exact
      assert(spark.sql("SELECT count(*) FROM pacc.pac").head().getLong(0)
        === 12L)
      assert(spark.sql("SELECT count(*) FROM pacc.pac WHERE p = 'a'")
        .head().getLong(0) === 6L)
      assert(files.count(f => tv((f, "p"))._2 == "a") <= 4,
        "partition a did not converge")
    }
  }

  test("defaulted/mapped tables take DV maintenance (r18 lift); widened files up-convert through it") {
    // a table with ADD COLUMN … DEFAULT is column-mapped by
    // construction (adds always map to a fresh physical name): the
    // merge-on-read library UPDATE used to refuse it (r16 ADVICE);
    // since r18 it re-appends through readFilesFilledDvs — the FILLED
    // default persists, never NULL, and the staged bytes stay physical
    val wh = java.nio.file.Files.createTempDirectory("graft_dvdf_").toString
    val root = s"$wh/df"
    val base = orders.limit(400)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commitClustered(spark, root, base, "o_orderkey", 4)
    val keys = base.select("o_orderkey").collect().map(_.getLong(0)).sorted
    withConfs(
      "spark.sql.catalog.dvdfc" -> "graft.sources.table.GraftCatalog",
      "spark.sql.catalog.dvdfc.warehouse" -> wh) {
      spark.sql("ALTER TABLE dvdfc.df ADD COLUMN region BIGINT DEFAULT 7")
      val filesBefore = TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet
      TimeTravel.updateVectorWhere(spark, root, "o_orderkey",
        keys(50), keys(149), "o_totalprice", col("o_totalprice") + 1)
      // merge-on-read: every pre-existing file survives untouched
      assert(filesBefore.subsetOf(TimeTravel.snapshotFiles(root,
        TimeTravel.currentVersion(root)).toSet),
        "library MOR update rewrote existing files")
      // pre-evolution rows kept their default through the re-append —
      // the exact NULL-over-default bug the old refusal guarded against
      assert(spark.sql(
        "SELECT count(*) FROM dvdfc.df WHERE region = 7").head().getLong(0)
        === base.count(), "library MOR update lost the column default")
      // the SQL route serves the same statement on top: values compose
      spark.sql("ALTER TABLE dvdfc.df SET TBLPROPERTIES (" +
        "'graft.enableDeletionVectors' = 'true')")
      spark.sql("UPDATE dvdfc.df SET o_totalprice = o_totalprice + 1 " +
        s"WHERE o_orderkey BETWEEN ${keys(50)} AND ${keys(149)}")
      assert(spark.sql(
        "SELECT count(*) FROM dvdfc.df WHERE region = 7").head().getLong(0)
        === base.count(), "SQL MOR update lost the column default")
      // both updates landed: the band gained exactly +2 per row
      val expect = base.agg(sum(col("o_totalprice")
        .cast("decimal(18,2)"))).head().getDecimal(0)
        .add(new java.math.BigDecimal(2 * base.filter(
          col("o_orderkey").between(keys(50), keys(149))).count()))
      assert(spark.sql(
        "SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) " +
          "FROM dvdfc.df").head().getString(0)
        === expect.toPlainString, "composed MOR updates drifted")
    }

    // type WIDENING has no column mapping: DV maintenance reads the
    // widened logical schema explicitly, so pre-widening INT files
    // up-convert instead of misreading (r16 ADVICE, medium)
    val root2 = s"$wh/wd"
    val narrow = base.select(
      col("o_orderkey").cast("int").as("k"),
      col("o_totalprice").as("price"))
    TimeTravel.commitClustered(spark, root2, narrow, "k", 4)
    TimeTravel.widenColumnType(spark, root2, "k", "BIGINT")
    // post-widening append carries BIGINT bytes: the snapshot mixes
    // narrow and wide files
    TimeTravel.commit(spark, root2, narrow.limit(50)
      .select((col("k").cast("bigint") + 1000000L).as("k"), col("price")))
    val ks = narrow.select("k").collect().map(_.getInt(0).toLong).sorted
    // merge-on-read UPDATE across the mixed files
    TimeTravel.updateVectorWhere(spark, root2, "k", ks(10), ks(99),
      "price", col("price") + 1)
    val got = TimeTravel.readAsOf(spark, root2,
      TimeTravel.currentVersion(root2))
    assert(got.count() === narrow.count() + 50)
    assert(got.schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
    val expSum = narrow.agg(sum(col("price").cast("decimal(18,2)")))
      .head().getDecimal(0)
      .add(narrow.limit(50).agg(sum(col("price").cast("decimal(18,2)")))
        .head().getDecimal(0))
      .add(new java.math.BigDecimal(
        narrow.filter(col("k").between(ks(10), ks(99))).count()))
    assert(got.agg(sum(col("price").cast("decimal(18,2)"))).head()
      .getDecimal(0) === expSum)
    // and purge folds masks into up-converted rewrites
    TimeTravel.deleteVectorWhere(spark, root2, "k", 0L, ks(199))
    TimeTravel.purgeMasks(spark, root2, 40)
    val after = TimeTravel.readAsOf(spark, root2,
      TimeTravel.currentVersion(root2))
    assert(after.filter(col("k") <= ks(199)).count() === 0L)
    assert(after.count() === narrow.filter(col("k") > ks(199)).count() + 50)
  }
}
