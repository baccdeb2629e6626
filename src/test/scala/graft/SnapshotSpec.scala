package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.TimeTravel

/** One log resolution per table version: the readers, a commit, a
  * checkpoint and a read each list `_graft_log` once per resolution and
  * read each commit file at most once; current checkpoints carry every
  * key they resolve, so only older checkpoints back-fill from the
  * commits below them; torn per-file lines refuse loudly. */
class SnapshotSpec extends SparkSpec {

  private def newRoot(): String =
    Files.createTempDirectory("graft_snapshot_").toString + "/t"

  private def orders = Tables.table(spark, sf, "orders")
    .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")

  private def ckptText(root: String, v: Int): String =
    new String(Files.readAllBytes(Paths.get(s"$root/_graft_log/$v.ckpt.json")),
      "UTF-8")

  /** Commits 0 until n, one small plain append each. */
  private def plainCommits(root: String, n: Int): Unit =
    (0 until n).foreach(g =>
      TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % n === g)))

  test("a current checkpoint answers a key it resolved empty: only the tail is read") {
    val root = newRoot()
    plainCommits(root, 25) // the auto-checkpoint lands at 20
    assert(ckptText(root, 20).contains(""""stats":[]"""))
    val (listings, reads) = logReadsDuring(TimeTravel.statsFor(root, 24))
    assert(listings === 1)
    assert(reads === 4, "read past the checkpoint's tail (commits 21–24)")
  }

  test("every key a JSON checkpoint resolves is written, an empty one as []") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(10))
    TimeTravel.checkpoint(root)
    val txt = ckptText(root, 0)
    Seq("features", "wfeatures", "dvs", "constraints", "props", "colmap",
      "stats", "blooms", "ndvs", "nrows", "txn").foreach(k =>
      assert(txt.contains(s""""$k":["""), s"checkpoint omits $k: $txt"))
    assert(txt.contains(""""props":[]"""))
  }

  test("a checkpoint from before a key existed back-fills it from the commits below") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(10), txn = Some("app|3"))
    TimeTravel.setProperty(spark, root, "k", "v")
    TimeTravel.addConstraint(spark, root, "pos", "o_totalprice > 0")
    TimeTravel.checkpoint(root)
    val p = Paths.get(s"$root/_graft_log/2.ckpt.json")
    val full = new String(Files.readAllBytes(p), "UTF-8")
    // an older build's checkpoint: no txn, props or constraints arrays
    val old = Seq("txn", "props", "constraints").foldLeft(full)((t, k) =>
      t.replaceAll(s""","$k":\\[[^\\]]*\\]""", ""))
    assert(!old.contains("\"txn\"") && !old.contains("\"props\""))
    Files.write(p, old.getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(s"$root/_graft_log/.2.ckpt.json.crc"))
    TimeTravel.invalidateCkptCache()
    assert(TimeTravel.txnsAsOf(root, 2) === Map("app" -> 3L))
    assert(TimeTravel.propsAsOf(root, 2) === Map("k" -> "v"))
    assert(TimeTravel.constraintsAsOf(root, 2).map(_._1) === Seq("pos"))
    // the table still commits, replays idempotently and checkpoints
    assert(TimeTravel.commitTxn(spark, root, orders.limit(5), "app", 3L) === 2)
    assert(TimeTravel.commitTxn(spark, root, orders.limit(5), "app", 4L) === 3)
    assert(TimeTravel.checkpoint(root) === 3)
    assert(TimeTravel.txnsAsOf(root, 3) === Map("app" -> 4L))
    assert(TimeTravel.readAsOf(spark, root, 3).count() === 15)
  }

  test("commitTxn lists the log once to plan and once per claim attempt") {
    val root = newRoot()
    plainCommits(root, 12) // checkpoint at 10, tail 11
    val (listings, reads) = logReadsDuring(
      assert(TimeTravel.commitTxn(spark, root, orders.limit(5), "app", 1L) === 12))
    assert(listings === 2, "one listing to plan, one for the claim")
    // each of the two resolutions reads the one tail commit once
    assert(reads <= 2)
  }

  test("a checkpoint and a read each resolve their version once") {
    val root = newRoot()
    plainCommits(root, 13) // checkpoint at 10, tail 11–12
    val (ckL, ckR) = logReadsDuring(TimeTravel.checkpoint(root, 12))
    assert(ckL === 1)
    assert(ckR <= 2, "a commit file was read twice")
    val (rdL, rdR) = logReadsDuring(TimeTravel.readAsOf(spark, root, 11))
    assert(rdL === 1)
    assert(rdR <= 1)
  }

  test("a torn dvs line refuses the read instead of dropping the vector") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.limit(20))
    val f = TimeTravel.snapshotFiles(root, 0).head
    TimeTravel.commitNames(spark, root, Nil, Nil, flags = Seq("rowdelete"),
      dvs = Seq(s"$f|x.dv|12x"))
    val e = intercept[IllegalStateException](TimeTravel.readAsOf(spark, root, 1))
    assert(e.getMessage.contains(s"$f|x.dv|12x") && e.getMessage.contains(root) &&
      e.getMessage.contains("generation 1"), e.getMessage)
    intercept[IllegalStateException](
      TimeTravel.deleteVectorWhere(spark, root, "o_orderkey", 0L, 1000000L))
    assert(TimeTravel.currentVersion(root) === 1, "a version landed")
  }
}
