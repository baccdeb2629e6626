package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.TimeTravel

/** The table format's own filesystem IO on `file:/`: the write verbs
  * start no child process, the log refuses torn `txn` lines, vacuum
  * reclaims the log's temp names, and tables written by the rename claim
  * keep working, every file beside its checksum sidecar. */
class TableIoSpec extends SparkSpec {

  private def newRoot(): String =
    Files.createTempDirectory("graft_table_io_").toString + "/t"

  private def orders = Tables.table(spark, sf, "orders")
    .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")

  private def logFile(root: String, name: String) =
    Paths.get(s"$root/_graft_log/$name")

  /** Every file under `dir`, checksum sidecars excluded. */
  private def filesUnder(dir: String): Seq[java.nio.file.Path] = {
    val it = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc")).toList
    } finally it.close()
  }

  test("the write verbs on a file:/ table start no process") {
    val o = orders.filter(col("o_orderkey") >= 100)
    def verbs(root: String): Seq[(String, () => Unit)] = Seq(
      "commit" -> (() => TimeTravel.commit(spark, root, o)),
      "commitTxn" -> (() => TimeTravel.commitTxn(spark, root, o, "app", 1L)),
      "commitBucketed" -> (() =>
        TimeTravel.commitBucketed(spark, root, o, "o_orderkey", 4)),
      "mergeInto" -> (() => TimeTravel.mergeInto(spark, root,
        o.filter(col("o_orderkey") < 400)
          .withColumn("o_totalprice", col("o_totalprice") + 1),
        "o_orderkey", 4)),
      "deleteVectorWhere" -> (() =>
        TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", 120, 180)),
      "deepClone" -> (() => TimeTravel.deepClone(spark, root, newRoot())),
      "compact" -> (() => TimeTravel.compact(spark, root, 1)),
      "checkpoint" -> (() => TimeTravel.checkpoint(root)),
      // the multi-part checkpoint writes its parts through Spark
      "checkpoint (parquet parts)" -> { () =>
        val saved = TimeTravel.CkptParquetMinLines
        TimeTravel.CkptParquetMinLines = 1
        try TimeTravel.checkpoint(root) finally TimeTravel.CkptParquetMinLines = saved
      })
    def seeded(): String = {
      val root = newRoot()
      TimeTravel.commitBucketed(spark, root,
        orders.filter(col("o_orderkey") < 100), "o_orderkey", 4)
      root
    }
    // the counter sees a process start
    assert(processStartsDuring(new ProcessBuilder("true").start().waitFor()) === 1)
    // one-time JVM set-up (Hadoop's shell probes) stays outside the count
    verbs(seeded()).foreach(_._2())
    val starts = verbs(seeded()).map { case (n, run) =>
      n -> processStartsDuring(run())
    }
    assert(starts.forall(_._2 == 0), s"process starts per verb: $starts")
  }

  test("a torn txn line refuses commitTxn instead of reading as no entry") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(10), txn = Some("app|12x"))
    val e = intercept[IllegalStateException] {
      TimeTravel.commitTxn(spark, root, orders.limit(5), "app", 12L)
    }
    assert(e.getMessage.contains("app|12x") && e.getMessage.contains(root) &&
      e.getMessage.contains("generation 0"), e.getMessage)
    assert(TimeTravel.currentVersion(root) === 0, "a version landed")
  }

  test("vacuum reclaims aged temp names in the log and keeps fresh ones and claimed files") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(10))
    TimeTravel.commit(spark, root, orders.limit(20))
    TimeTravel.checkpoint(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def put(name: String): java.nio.file.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$root/_graft_log/$name")
      val out = fs.create(p, true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
      logFile(root, name)
    }
    val hourAgo = System.currentTimeMillis() - 3600 * 1000L
    def age(p: java.nio.file.Path) =
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(hourAgo))
    val aged = Seq(".c-aged0001", ".ck-aged0002", ".b-aged0003").map(put)
    aged.foreach(age)
    val parts = logFile(root, ".ckp-aged0004")
    put(".ckp-aged0004/part-0.parquet")
    age(parts)
    val fresh = put(".c-fresh001")
    val claimed = filesUnder(s"$root/_graft_log").toSet -- aged - fresh --
      filesUnder(parts.toString)
    val data = filesUnder(s"$root/data")
    val gone = TimeTravel.vacuum(root, 60 * 1000L)
    assert(gone.toSet === Set(".c-aged0001", ".ck-aged0002", ".b-aged0003",
      ".ckp-aged0004"))
    (aged :+ parts).foreach { p =>
      assert(!Files.exists(p), s"$p survived")
      assert(!Files.exists(p.resolveSibling(s".${p.getFileName}.crc")),
        s"the sidecar of $p survived")
    }
    assert(Files.exists(fresh) && Files.exists(fresh.resolveSibling("..c-fresh001.crc")))
    (claimed ++ data).foreach(p => assert(Files.exists(p), s"$p was removed"))
    assert(TimeTravel.readAsOf(spark, root, 1).count() === 30)
  }

  test("a table claimed by FileContext rename takes new writes and verifies its checksums") {
    val root = newRoot()
    val conf = new org.apache.hadoop.conf.Configuration()
    // Hadoop's own local filesystem and claim: the layout earlier writers leave
    val stock = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val stage = s"$root/stage-old"
    orders.filter(col("o_orderkey") < 100).coalesce(2).write.parquet(stage)
    stock.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data"))
    val names = stock.listStatus(new org.apache.hadoop.fs.Path(stage))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).map { f =>
        val name = s"0ld00000-${f.getName}"
        assert(stock.rename(f, new org.apache.hadoop.fs.Path(s"$root/data/$name")))
        name
      }
    stock.delete(new org.apache.hadoop.fs.Path(stage), true)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/_graft_log/.c-0ld00000")
    val out = stock.create(tmp, true)
    try out.write((s"""{"version":0,"added":[${names.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""removed":[]}""").getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(conf).rename(tmp,
      new org.apache.hadoop.fs.Path(s"$root/_graft_log/0.json"),
      org.apache.hadoop.fs.Options.Rename.NONE)
    val seed = orders.filter(col("o_orderkey") < 100).count()
    assert(TimeTravel.readAsOf(spark, root, 0).count() === seed)

    val more = orders.filter(col("o_orderkey").between(100, 199))
    TimeTravel.commit(spark, root, more)
    TimeTravel.commitTxn(spark, root, orders.filter(col("o_orderkey").between(200, 299)),
      "app", 1L)
    TimeTravel.compact(spark, root, 1)
    val v = TimeTravel.checkpoint(root)
    val want = orders.filter(col("o_orderkey") < 300)
    val got = TimeTravel.readAsOf(spark, root, v)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // every file carries its sidecar, and Hadoop's checksummed reader
    // verifies every byte against it
    val verifying = org.apache.hadoop.fs.FileSystem.newInstanceLocal(conf)
    verifying.setVerifyChecksum(true)
    val files = filesUnder(s"$root/_graft_log") ++ filesUnder(s"$root/data")
    assert(files.exists(_.getFileName.toString == s"$v.json"))
    assert(!files.exists(_.getFileName.toString.startsWith(".c")),
      s"a claim left its temp name behind: $files")
    files.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"$p has no sidecar")
      val in = verifying.open(new org.apache.hadoop.fs.Path(p.toUri))
      try { val buf = new Array[Byte](8192); while (in.read(buf) >= 0) () }
      finally in.close()
    }
    verifying.close()
  }
}
