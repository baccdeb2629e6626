package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Catalog bootstrap (SURVEY §3 entry point 1).
  *
  * The reference implies its schemas from INSERT column lists and CSV headers
  * (reference `dimension_tables_mock.py:71,126`, `transactions_mock_data.py:95`);
  * here every driver table is an explicit Parquet dataset. Parquet carries the
  * authoritative schema (see FIXTURES.md §B), so a table's schema is read, not
  * inferred: the driver opens the footer of ONE data file and converts it the
  * way Spark's own inference does with `mergeSchema` off, then hands the
  * schema to the reader. Spark's inference would launch a one-task job per
  * table to read that same footer; here resolving a table starts no job.
  * Views are registered per query, for only the tables its SQL names
  * ([[sql]]).
  */
object Tables {
  /** Driver-provided tables under /root/testdata (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
      // generations and TIMESTAMP(MICROS, tz-naive) in others — adapt by
      // the schema actually read, normalizing to a session-TZ TIMESTAMP at
      // microsecond precision either way (the same floor DuckDB applies to
      // ns, so oracle outputs stay bit-identical across generations):
      //  - NANOS: read as raw longs (legacy conf) and floor-divide; `div`
      //    is integer division (ns values exceed 2^53, a double `/` would
      //    lose precision).
      //  - MICROS tz-naive: arrives as TIMESTAMP_NTZ; a plain cast
      //    reinterprets the same wall-clock in the (UTC-pinned) session
      //    zone — identical micros.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => raw // already a plain TIMESTAMP
      }
    } else {
      parquet(spark, s"$dir/$name.parquet")
    }
  }

  /** `spark.read.parquet(path)` with the schema taken from [[footerSchema]]
    * when there is one, so the read launches no inference job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark infers for `path` with `mergeSchema` off, read on the
    * driver. Spark's inference picks, from the path-sorted leaf files,
    * `_common_metadata`, else `_metadata`, else the first data file, and
    * converts that one footer; this does the same with the same converter.
    * `None` — leave it to Spark's own inference, its partition discovery
    * and its errors — when the path does not exist, is a glob, holds a
    * visible subdirectory (a partitioned layout) or has no data file. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    if (path.exists("{}[]*?\\".contains(_))) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val leaves: Seq[FileStatus] =
      if (!root.isDirectory) Seq(root)
      else {
        // the names Spark's file index lists (its shouldFilterOutPathName)
        val visible = fs.listStatus(p).toSeq.filter { st =>
          val n = st.getPath.getName
          val hidden = (n.startsWith("_") && !n.contains("=")) ||
            n.startsWith(".") || n.endsWith("._COPYING_")
          !hidden || n.startsWith("_common_metadata") || n.startsWith("_metadata")
        }
        if (visible.exists(_.isDirectory)) return None
        visible.sortBy(_.getPath.toString)
      }
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(st => !summaries.contains(st.getPath.getName)))
      .map { st =>
        val reader = openParquet(HadoopInputFile.fromStatus(st, hadoopConf))
        val footer = try new Footer(st.getPath, reader.getFooter)
          finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** A parquet file reader whose read options come from the file's own
    * Hadoop conf. `ParquetFileReader.open(file)` builds its options from
    * a fresh `Configuration`, which re-parses `core-default.xml` on every
    * call. */
  def openParquet(file: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(file, HadoopReadOptions.builder(file.getConfiguration).build())

  /** Run `text`, registering as temp views only the tables of [[all]] it
    * reads — in subqueries and CTE bodies too. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    def relations(p: LogicalPlan): Seq[String] = {
      val here = p match {
        case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
          u.multipartIdentifier.map(_.toLowerCase(java.util.Locale.ROOT))
        case _ => Nil
      }
      // CTE bodies are inner children, not children
      val inner = p.innerChildren.collect { case c: LogicalPlan => c }
      here ++ (p.children ++ inner ++ p.subqueries).flatMap(relations)
    }
    relations(spark.sessionState.sqlParser.parsePlan(text))
      .distinct.filter(all.contains)
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(text)
  }
}
