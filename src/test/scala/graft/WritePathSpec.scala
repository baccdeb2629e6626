package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TimeTravel

/** The table format's library write path: every write verb runs one
  * prologue (writer features, CHECK constraints, schema enforcement,
  * identity guard, column-map translation) and one staging step. */
class WritePathSpec extends SparkSpec {

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_write_spec_").toString + "/t"

  private def orders = Tables.table(spark, sf, "orders")
    .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")

  /** A root already holding one small commit, so the verb under test
    * runs every prologue check against a live generation. */
  private def seeded(): String = {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") < 100))
    root
  }

  // The counts each verb started with its own copy of the prologue and
  // the staging block: sharing them must start no job of its own.
  test("each write verb starts the same Spark jobs") {
    val o = orders.filter(col("o_orderkey") >= 100)
    val counts = Seq(
      "commit" -> { val r = seeded(); jobsDuring(TimeTravel.commit(spark, r, o)) },
      "commitTxn" -> {
        val r = seeded()
        jobsDuring(TimeTravel.commitTxn(spark, r, o, "app", 1L))
      },
      "commitBucketed" -> {
        val r = seeded()
        jobsDuring(TimeTravel.commitBucketed(spark, r, o, "o_orderkey", 4))
      },
      "commitClustered" -> {
        val r = seeded()
        jobsDuring(TimeTravel.commitClustered(spark, r, o, "o_orderkey", 4))
      },
      "commitZOrderedN" -> {
        val r = seeded()
        jobsDuring(TimeTravel.commitZOrderedN(spark, r, o,
          Seq("o_orderkey", "o_custkey"), 4))
      },
      "commitPartitioned" -> {
        val r = seeded()
        jobsDuring(TimeTravel.commitPartitioned(spark, r, o, "o_orderpriority"))
      },
      "commitBloomed" -> {
        val r = seeded()
        jobsDuring(TimeTravel.commitBloomed(spark, r, o, "o_orderkey", 4))
      },
      "compact" -> {
        val r = seeded()
        TimeTravel.commit(spark, r, o.repartition(3))
        jobsDuring(TimeTravel.compact(spark, r, 1))
      },
      "commit under a CHECK constraint" -> {
        val r = seeded()
        TimeTravel.addConstraint(spark, r, "pos", "o_totalprice > 0")
        jobsDuring(TimeTravel.commit(spark, r, o))
      })
    assert(counts === Seq("commit" -> 1, "commitTxn" -> 1,
      "commitBucketed" -> 2, "commitClustered" -> 6, "commitZOrderedN" -> 7,
      "commitPartitioned" -> 2, "commitBloomed" -> 7, "compact" -> 1,
      "commit under a CHECK constraint" -> 2))
  }

  test("commit on a column-mapped table stores the physical names") {
    val o = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    val root = newRoot()
    TimeTravel.commit(spark, root, o.filter(col("o_orderkey") % 2 === 0))
    TimeTravel.renameColumn(spark, root, "o_totalprice", "total_usd")
    val v = TimeTravel.commit(spark, root, o.filter(col("o_orderkey") % 2 === 1)
      .withColumnRenamed("o_totalprice", "total_usd"))
    val added = TimeTravel.snapshotFiles(root, v).toSet --
      TimeTravel.snapshotFiles(root, v - 1)
    assert(added.nonEmpty)
    added.foreach(f => assert(
      spark.read.parquet(TimeTravel.dataPath(root, f)).columns.toSeq ===
        Seq("o_orderkey", "o_orderpriority", "o_totalprice"), f))
    val back = TimeTravel.readAsOfMapped(spark, root, v)
    assert(back.columns.toSeq === Seq("o_orderkey", "o_orderpriority", "total_usd"))
    assert(back.filter(col("total_usd").isNull).count() === 0,
      "the appended rows read NULL under the mapped name")
    def total(df: DataFrame, c: String) =
      df.agg(sum(col(c).cast("decimal(18,2)"))).head().getDecimal(0)
    assert(total(back, "total_usd").compareTo(total(o, "o_totalprice")) === 0)
  }

  test("a failed stage write leaves no stage directory and no commit") {
    val root = seeded()
    val rest = orders.filter(col("o_orderkey") >= 100)
    val hit = rest.agg(min("o_orderkey")).head().getLong(0)
    val boom = udf { (k: Long) =>
      if (k == hit) throw new IllegalStateException("boom"); k
    }
    val bad = rest.withColumn("o_orderkey", boom(col("o_orderkey")))
    val writes = Seq[DataFrame => Int](
      TimeTravel.commit(spark, root, _),
      TimeTravel.commitBucketed(spark, root, _, "o_custkey", 4))
    for (write <- writes) {
      intercept[Exception](write(bad))
      val debris = new java.io.File(root).list().filter(_.startsWith("stage-"))
      assert(debris.isEmpty, s"staging debris left: ${debris.mkString(", ")}")
      assert(TimeTravel.currentVersion(root) === 0)
    }
  }

  test("a commit carrying every optional array keeps its key order and parses back") {
    val root = seeded()
    val f0 = TimeTravel.snapshotFiles(root, 0).head
    val arrays = Seq(
      "stats" -> Seq("n1|o_orderkey|1|9", "q\"uote|c|back\\slash|x"),
      "flags" -> Seq("nodata"),
      "blooms" -> Seq("n1|o_orderkey|1024|7|AAAA"),
      "ndvs" -> Seq("n1|o_orderkey|AAAA"),
      "nrows" -> Seq("n1|3"),
      "constraints" -> Seq("pos|o_totalprice > 0"),
      "dvs" -> Seq(s"$f0|-|0"),
      "props" -> Seq("graft.k|v"),
      "cdc" -> Seq("c1.parquet"),
      "colmap" -> Seq("o_totalprice|o_totalprice"),
      "txn" -> Seq("app|3"),
      "schemav" -> Seq("o_orderkey BIGINT"))
    val a = arrays.toMap
    val v = TimeTravel.commitNames(spark, root, Seq("n1"), Seq(f0),
      stats = a("stats"), schemaDdl = a("schemav").headOption,
      flags = a("flags"), blooms = a("blooms"), txn = a("txn").headOption,
      nrowsIn = Some(a("nrows")), constraints = a("constraints"),
      dvs = a("dvs"), props = a("props"), cdc = a("cdc"),
      colmap = a("colmap"), ndvs = a("ndvs"))
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_graft_log/$v.json")), "UTF-8")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    def arr(k: String) = json.get(k).elements().asScala.map(_.asText).toSeq
    assert(json.fieldNames().asScala.toSeq === Seq("version", "ts", "added",
      "removed", "stats", "flags", "features", "wfeatures", "blooms", "ndvs",
      "nrows", "constraints", "dvs", "props", "cdc", "colmap", "txn",
      "schemav"))
    assert(json.get("version").asInt === v)
    assert(arr("added") === Seq("n1"))
    assert(arr("removed") === Seq(f0))
    arrays.foreach { case (k, vs) => assert(arr(k) === vs, k) }
    assert(arr("features") === Seq("column-mapping", "deletion-vectors"))
    assert(arr("wfeatures") ===
      Seq("check-constraints", "column-mapping", "deletion-vectors"))
    // the bytes, timestamp and seeded file name aside
    assert(txt.replaceAll("\"ts\":\\[\"\\d+\"\\]", "\"ts\":[\"T\"]").replace(f0, "F0") ===
      """{"version":1,"ts":["T"],"added":["n1"],"removed":["F0"],""" +
      """"stats":["n1|o_orderkey|1|9","q\"uote|c|back\\slash|x"],"flags":["nodata"],""" +
      """"features":["column-mapping","deletion-vectors"],""" +
      """"wfeatures":["check-constraints","column-mapping","deletion-vectors"],""" +
      """"blooms":["n1|o_orderkey|1024|7|AAAA"],"ndvs":["n1|o_orderkey|AAAA"],""" +
      """"nrows":["n1|3"],"constraints":["pos|o_totalprice > 0"],"dvs":["F0|-|0"],""" +
      """"props":["graft.k|v"],"cdc":["c1.parquet"],""" +
      """"colmap":["o_totalprice|o_totalprice"],"txn":["app|3"],""" +
      """"schemav":["o_orderkey BIGINT"]}""")
  }
}
