package graft

/** Child-JVM main for the cross-process commit-race spec: a second,
  * separate JVM racing `INSERT INTO` the same catalog table as the
  * spec's own session. The in-process `lockFor(root)` mutex cannot
  * serialize these two committers, so the run exercises the claim's
  * cross-process primitive, a hard link that refuses an existing commit
  * file on `file:/`. After its inserts it COMPACTS the table, retiring
  * every file the parent captured before the spawn — the parent's later
  * stale remove-commit must then surface the explicit conflict error.
  *
  * args: warehouse, tableName, tag, nInserts */
object RaceCommitter {
  def main(args: Array[String]): Unit = {
    val Array(wh, table, tag, n) = args
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-race-$tag")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(s"spark.sql.catalog.rcat", "graft.sources.table.GraftCatalog")
      .config(s"spark.sql.catalog.rcat.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      (1 to n.toInt).foreach { i =>
        spark.sql(s"INSERT INTO rcat.$table VALUES ($tag, $i)")
      }
      graft.operators.TimeTravel.compact(spark, s"$wh/$table", 1)
      ()
    } finally spark.stop()
  }
}
