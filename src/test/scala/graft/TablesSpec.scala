package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** `Tables` resolves a table from one parquet footer read on the driver:
  * the schema must be exactly what Spark's inference reports, resolving
  * must start no Spark job, and `Tables.sql` must register exactly the
  * tables its text reads. */
class TablesSpec extends SparkSpec {

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val prev = spark.conf.getOption(NanosConf)
    spark.conf.set(NanosConf, on.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(NanosConf, v)
      case None => spark.conf.unset(NanosConf)
    }
  }

  private def assertInferredSchema(path: String): Unit = {
    assert(Tables.footerSchema(spark, path).isDefined, s"no footer schema for $path")
    val inferred = spark.read.parquet(path).schema
    assert(Tables.parquet(spark, path).schema == inferred, path)
  }

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("footer schema equals Spark's inferred schema for every fixture table") {
    for (on <- Seq(true, false); n <- Tables.all) withNanosAsLong(on) {
      assertInferredSchema(s"$sf/$n.parquet")
    }
  }

  test("footer schema equals Spark's on a multi-part Spark-written directory") {
    val dir = Files.createTempDirectory("graft_tables_parts_").resolve("orders").toString
    Tables.table(spark, sf, "orders").repartition(3).write.parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == 3)
    assertInferredSchema(dir)
    assert(Tables.parquet(spark, dir).count() == spark.read.parquet(dir).count())
  }

  test("nanosecond timestamps follow the nanosAsLong conf like Spark's inference") {
    val path = Files.createTempDirectory("graft_tables_nanos_").resolve("ev.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message ev { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 3).foreach(i => writer.write(rows.newGroup()
      .append("id", i.toLong).append("ts", 1700000000123456789L + i)))
    finally writer.close()
    withNanosAsLong(true) {
      assertInferredSchema(path)
      assert(Tables.parquet(spark, path).select("ts").collect().map(_.getLong(0)).toSeq ==
        (1 to 3).map(1700000000123456789L + _))
    }
    withNanosAsLong(false) {
      intercept[Exception](spark.read.parquet(path))
      intercept[Exception](Tables.parquet(spark, path))
    }
  }

  test("paths without a top-level data file fall back to Spark's own resolution") {
    val root = Files.createTempDirectory("graft_tables_fallback_")
    val parted = root.resolve("parted").toString
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(parted)
    assert(Tables.footerSchema(spark, parted).isEmpty)
    assert(Tables.parquet(spark, parted).schema == spark.read.parquet(parted).schema)
    assert(Tables.parquet(spark, parted).schema.fieldNames.toSeq == Seq("id", "k"))
    val empty = Files.createDirectory(root.resolve("empty")).toString
    assert(Tables.footerSchema(spark, empty).isEmpty)
    assert(Tables.footerSchema(spark, root.resolve("missing").toString).isEmpty)
    intercept[Exception](Tables.parquet(spark, empty))
  }

  test("building the q01, q05, q23b and q25 frames starts no Spark job") {
    val names = Seq("q01_scan_project", "q05_left_join", "q23b_not_in", "q25_approx_distinct")
    names.foreach(SparkEntry.queries(_)(spark, sf)) // first build: class loading, conf
    names.foreach { n =>
      assert(jobsDuring(SparkEntry.queries(n)(spark, sf)) == 0, n)
    }
    // the counter does see a job when one runs
    assert(jobsDuring(SparkEntry.queries("q25_approx_distinct")(spark, sf).collect()) > 0)
  }

  test("Tables.sql registers exactly the tables its text references, subqueries included") {
    def registered(body: => Unit): Set[String] = {
      Tables.all.foreach(spark.catalog.dropTempView)
      body
      tempViews.intersect(Tables.all.toSet)
    }
    // q23: lineitem only inside EXISTS, orders also in a scalar subquery
    assert(registered(SparkEntry.queries("q23_subquery")(spark, sf)) ==
      Set("orders", "lineitem"))
    assert(registered(SparkEntry.queries("q23b_not_in")(spark, sf)) ==
      Set("customer", "orders"))
    assert(registered(SparkEntry.queries("q12_rollup")(spark, sf)) ==
      Set("orders", "customer", "nation"))
    assert(registered(Tables.sql(spark, sf,
      """WITH p AS (SELECT p_partkey FROM part)
        |SELECT (SELECT count(*) FROM supplier) AS s, count(*) AS n FROM p""".stripMargin)) ==
      Set("part", "supplier"))
    assert(Tables.sql(spark, sf, "SELECT count(*) FROM REGION").head().getLong(0) ==
      spark.read.parquet(s"$sf/region.parquet").count())
  }
}
