package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Single-query correctness dump — the fast inner loop for iterating on one
  * operator's oracle parity (Verify dumps the whole corpus, ~minutes).
  * Usage: runMain graft.VerifyOne <queryName> <sfDir> <outDir> */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")
    val json = SparkEntry.oracleSql.get(name)
      .map(sql => s"${Verify.jsonString(name)}: ${Verify.jsonString(sql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
