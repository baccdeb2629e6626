package graft.sources.table

import scala.language.existentials // parquet's Statistics<?> in the footer fold

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering, HasPartitionKey}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TimeTravel
import graft.sources.cdf.CdfPartitionReader

/** SNAPSHOT scan of the q157 commit log as a full DSv2 table — the read
  * path a lakehouse engine points its heaviest queries at, with the four
  * scan-time optimizations that decide whether a 100 TB table is usable:
  *
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`): the
  *    per-file parquet projection reads only requested chunks (the q186
  *    reader, reused).
  *  - '''Stats-based file skipping''' (`SupportsPushDownFilters`):
  *    comparison filters on log-stats-covered columns (the
  *    `commitClustered`/`commitPartitioned` min-max and `=` lines) prune
  *    whole FILES at plan time, from log metadata alone — the scan never
  *    lists or opens a skipped file. Filters are used for skipping ONLY
  *    and all of them are returned as residuals, so Spark re-applies
  *    them row-level: pruning is an optimization, never a semantics
  *    change.
  *  - '''Aggregate pushdown''' (`SupportsPushDownAggregates`): global or
  *    partition-grouped MIN / MAX / COUNT(*) / COUNT(col) are answered
  *    from PARQUET FOOTERS — per-file row counts, null counts and typed
  *    column min/max — without assembling one record. Partial-pushdown
  *    contract: each split emits one pre-aggregated row and Spark's
  *    final aggregation merges them, so the merge itself is distributed
  *    and a 100k-file table needs no driver-side footer pass.
  *  - '''Storage-partitioned joins''' (`SupportsReportPartitioning` +
  *    `HasPartitionKey`): a `commitPartitioned` table reports
  *    `KeyGroupedPartitioning(identity(partCol))`, one input partition
  *    per partition VALUE, so two such tables join (and pre-aggregate)
  *    with NO shuffle on either side under
  *    `spark.sql.sources.v2.bucketing.enabled` — Spark aligns the
  *    partitions by key instead of exchanging 100 TB.
  *  - '''Runtime file pruning''' (`SupportsRuntimeV2Filtering`): a
  *    dynamic-partition-pruning subquery (the IN-set a broadcasted dim
  *    side produces at execution time) drops partition-value groups
  *    before any file is opened — the DSv2 form of Delta/Iceberg dynamic
  *    file skipping.
  *
  * Snapshots with live DELETION VECTORS read straight through them:
  * each split's reader loads its file's sidecar executor-side and skips
  * the masked positions (r13 verdict #1), so a q188 merge-on-read
  * delete composes with every catalog read. Footer-aggregate pushdown
  * refuses under live DVs — footer statistics can't see row masks —
  * and falls back to the (masked) row scan.
  *
  * Reference: Javier009/eCommerce_Data_Pipeline's warehouse queries
  * (Redshift_Queries/&#42;.sql) run against exactly this kind of loaded
  * snapshot; the reference engine's warehouse does the file skipping and
  * metadata-only aggregates server-side — here they are the connector's.
  */
class TableDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = TableDataSource.path(options)
    val gen = TableDataSource.gen(root, options)
    TimeTravel.schemaAsOf(root, gen).getOrElse(
      graft.Tables.parquet(SparkSession.active, s"$root/data").schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = TableDataSource.path(options)
    GraftLogTable(schema, root, TableDataSource.gen(root, options))
  }
}

object TableDataSource {
  val NAME = "graft.sources.table.TableDataSource"

  private[table] def path(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(options.get("root"))
    require(p != null, "table: a 'path' (table root) option is required")
    p
  }

  /** The snapshot generation: the `gen` option, or the log's current
    * version at plan time. A missing log refuses loudly — a snapshot
    * scan of nothing is a caller bug, not an empty table. */
  private[table] def gen(root: String, options: CaseInsensitiveStringMap): Int = {
    val live = TimeTravel.currentVersion(root)
    require(live >= 0, s"table: no commit log under $root")
    val g = Option(options.get("gen")).map(_.toInt).getOrElse(live)
    require(g >= 0 && g <= live,
      s"table: generation $g out of range [0, $live] under $root")
    g
  }
}

/** Per-JVM observability for the specs: which files were row-scanned
  * (record assembly) vs answered footer-only, per scan construction. */
object TableMetrics {
  val openedDataFiles =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val footerOnlyFiles =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { openedDataFiles.clear(); footerOnlyFiles.clear() }
}

/** The `_file` metadata column: the committed file name each row was
  * read from — the DSv2 equivalent of parquet's `_metadata.file_name`. */
object FileMetaColumn extends MetadataColumn {
  val NAME = "_file"
  override def name(): String = NAME
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String = "committed log file this row came from"
}

/** The `_pos` metadata column: the row's PHYSICAL position within its
  * file (deletion-vector-masked rows count — positions are stable under
  * masking), the second half of the merge-on-read row id `(_file,
  * _pos)` that Spark's delta-based row-level operations address rows
  * by (Iceberg's `_pos` / Delta's row index). Filled by the reader's
  * per-row counter — never part of the parquet projection. */
object PosMetaColumn extends MetadataColumn {
  val NAME = "_pos"
  override def name(): String = NAME
  override def dataType(): DataType = LongType
  override def isNullable: Boolean = false
  override def comment(): String = "physical row position within _file"
}

final case class GraftLogTable(tableSchema: StructType, root: String,
    gen: Int, branch: Option[String] = None)
    extends Table with SupportsRead with SupportsMetadataColumns {

  // the snapshot's file set and its log metadata, resolved ONCE per
  // table. With `branch` set this is the BRANCH-HEAD read surface
  // (r19 WAP audit in pure SQL): files come from the branch fold at
  // its BASE generation (`gen` IS the base), so every base-keyed
  // metadatum below — stats, DVs, defaults, widening, mapping — reads
  // exactly as the branch sees the world; branch-staged files simply
  // lack stats/pvals/nrows entries and scan conservatively.
  private[table] val files: Seq[String] = branch match {
    case Some(b) => TimeTravel.branchHeadFiles(root, b)
    case None => TimeTravel.snapshotFiles(root, gen)
  }
  private[table] val stats: Map[(String, String), (Long, Long)] =
    TimeTravel.statsFor(root, gen)
  private[table] val pvals: Map[String, (String, String)] =
    TimeTravel.pvalsFor(root, gen)

  /** Tagged per-file partition values ((file, col) → (tag, value)):
    * identity `=`, generated `~month`/`~day`/`~year`, and `#bucket:n`
    * lines — the multi-term spec's pruning source (r14 verdict #1). */
  private[table] lazy val tvals: Map[(String, String), (String, String)] =
    TimeTravel.tvalsFor(root, gen)

  /** LOGICAL → PHYSICAL column names at this snapshot (the q194 column
    * mapping; empty on unmapped tables). The scan runs entirely under
    * PHYSICAL names — parquet fields, footer statistics, log stats and
    * partition values all carry them — and projects back to the logical
    * schema, so an `ALTER TABLE RENAME COLUMN` moves zero data bytes and
    * the table stays fully readable (and file-skippable) through this
    * source. */
  private[table] val colmap: Map[String, String] = branch match {
    case Some(b) => TimeTravel.branchColmapOf(root, b)
    case None => TimeTravel.colmapAsOf(root, gen)
  }
  private[table] def phys(c: String): String = colmap.getOrElse(c, c)
  private[table] val logicalOf: Map[String, String] = colmap.map(_.swap)

  /** Column DEFAULTS in force at this snapshot (r14 verdict #3), keyed
    * by PHYSICAL name with CATALYST-typed values: a file whose parquet
    * schema lacks the physical field reads the default instead of NULL
    * (Delta's `ADD COLUMN … DEFAULT` for existing rows). Resolved once
    * per table from the `graft.default.*` properties; empty — zero
    * overhead — on default-free tables. */
  private[table] lazy val defaults: Map[String, Any] = {
    val raw = TimeTravel.defaultsFor(root, gen)
    if (raw.isEmpty) Map.empty
    else raw.flatMap { case (phys, v) =>
      val logical = logicalOf.getOrElse(phys, phys)
      tableSchema.fields.find(_.name == logical).map { f =>
        val cv: Any = f.dataType match {
          case LongType => v.toLong
          case IntegerType | DateType => v.toInt
          case DoubleType => v.toDouble
          case FloatType => v.toFloat
          case BooleanType => v.toBoolean
          case StringType => UTF8String.fromString(v)
          case other => throw new IllegalArgumentException(
            s"table: unsupported default type $other for $logical")
        }
        phys -> cv
      }
    }
  }

  /** PHYSICAL names of type-widened columns (Delta's type widening):
    * the footer-aggregate refusal set — pre-widening footers carry
    * narrow-typed statistics. Empty (zero overhead) on never-widened
    * tables. */
  private[table] lazy val widened: Set[String] =
    TimeTravel.widenedFor(root, gen)

  /** Per-file row counts from the commit log's `nrows` lines (empty map
    * entries for pre-nrows commits) — `estimateStatistics`' rowCount
    * source. */
  private[table] lazy val fileRows: Map[String, Long] =
    TimeTravel.nrowsFor(root, gen)

  /** Per-file column-NDV sketches from the log's `ndvs` lines
    * ([[TimeTravel.analyzeNdv]]), decoded once per table — the
    * column-statistics source CBO join estimation feeds on. Empty
    * (zero overhead) on never-analyzed tables. */
  private[table] lazy val ndvSketches: Map[(String, String), Array[Byte]] =
    TimeTravel.ndvsFor(root, gen).map { case (k, b64) =>
      k -> java.util.Base64.getDecoder.decode(b64)
    }

  /** File sizes from ONE `listStatus` of the data directory (absolute
    * shallow-clone references fall back to a per-file stat) — the
    * [[SnapshotScan]]'s `estimateStatistics` source, so Catalyst sees the
    * PRUNED scan size and broadcasts a small (or well-filtered) table
    * without hints. */
  private[table] lazy val fileSizes: Map[String, Long] = {
    val dir = new Path(s"$root/data")
    val fs = dir.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    // a SHALLOW CLONE has no data directory of its own — every
    // reference is absolute into its source, so the per-file fallback
    // below resolves all of them
    val listed =
      if (!fs.exists(dir)) Map.empty[String, Long]
      else fs.listStatus(dir).map(st => st.getPath.getName -> st.getLen).toMap
    files.map { f =>
      f -> listed.getOrElse(f,
        fs.getFileStatus(new Path(TimeTravel.dataPath(root, f))).getLen)
    }.toMap
  }

  /** Deletion vectors in force at this snapshot, restricted to its
    * files: file → (sidecar name, cardinality). Scans READ THROUGH the
    * vectors (r13 verdict #1): each split's reader loads its file's
    * sidecar executor-side and skips the masked row positions — so a
    * merge-on-read DV delete (q188) composes with every catalog read,
    * Delta's contract. Empty on DV-free tables: zero overhead. */
  private[table] val dvs: Map[String, (String, Long)] = {
    val all = TimeTravel.dvsFor(root, gen)
    files.flatMap(f => all.get(f).map(f -> _)).toMap
  }

  /** file → absolute sidecar path, the executor-side mask source. */
  private[table] def dvPaths(of: Seq[String]): Map[String, String] =
    of.flatMap(f => dvs.get(f).map { case (n, _) =>
      f -> TimeTravel.dvSidecarPath(root, n)
    }).toMap

  /** The single column EVERY snapshot file carries a partition value
    * for — the table's reportable identity partitioning (None for
    * unpartitioned / mixed layouts, which scan per-file). PHYSICAL name
    * (what the log recorded); [[partColLogical]] is what Spark sees. */
  private[table] val partCol: Option[String] = {
    val cols = files.map(f => pvals.get(f).map(_._1))
    if (files.nonEmpty && cols.forall(_.isDefined) &&
        cols.flatten.distinct.size == 1) cols.head
    else None
  }
  private[table] val partColLogical: Option[String] =
    partCol.map(p => logicalOf.getOrElse(p, p))

  override def name(): String = s"graft:$root@$gen"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partColLogical.map(c => Expressions.identity(c)).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    if (branch.isEmpty)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    else // a branch head is one moving ref, not an offset log
      java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def metadataColumns(): Array[MetadataColumn] =
    Array(FileMetaColumn, PosMetaColumn)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TableScanBuilder(this,
      !Option(options.get("aggPushdown")).contains("false"),
      Option(options.get("maxGensPerTrigger")).map(_.toInt))
}

final class TableScanBuilder(table: GraftLogTable, aggEnabled: Boolean,
    maxGens: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = table.tableSchema
  private var accepted: Array[Filter] = Array.empty
  private var aggSchema: Option[StructType] = None
  private var aggSpecs: Seq[AggSpec] = Nil
  private var aggGrouped: Boolean = false
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown, PARTIALLY: each split stops emitting — and stops
    * OPENING files — once it has produced `n` rows; Spark still applies
    * the global limit across splits. A `LIMIT 10` over a million-file
    * table opens at most one file per surviving split. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** Accept comparison filters usable for FILE skipping (long-typed
    * range stats; string equality on the partition value); return ALL
    * filters as residual — skipping whole files never changes row
    * semantics, Spark re-applies every predicate. Filters arrive in
    * LOGICAL names; the log's stats carry PHYSICAL ones. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def statable(c: String) = table.stats.keys.exists(_._2 == table.phys(c))
    def pvaled(c: String) = table.partCol.contains(table.phys(c))
    // any tagged value line for the column (identity =, generated
    // month/day/year, bucket) makes its equality — and for date tags
    // its range — usable for file skipping (r14 verdict #1)
    def tvaled(c: String) = table.tvals.keys.exists(_._2 == table.phys(c))
    def dateLit(v: Any) = v.isInstanceOf[java.sql.Date] ||
      v.isInstanceOf[java.time.LocalDate]
    accepted = filters.filter {
      case GreaterThan(c, v) => statable(c) && v.isInstanceOf[java.lang.Long] ||
        tvaled(c) && dateLit(v)
      case GreaterThanOrEqual(c, v) => statable(c) && v.isInstanceOf[java.lang.Long] ||
        tvaled(c) && dateLit(v)
      case LessThan(c, v) => statable(c) && v.isInstanceOf[java.lang.Long] ||
        tvaled(c) && dateLit(v)
      case LessThanOrEqual(c, v) => statable(c) && v.isInstanceOf[java.lang.Long] ||
        tvaled(c) && dateLit(v)
      case EqualTo(c, _: java.lang.Long) => statable(c) || tvaled(c)
      case EqualTo(c, _: java.lang.Integer) => tvaled(c)
      case EqualTo(c, v) if dateLit(v) => tvaled(c)
      case EqualTo(c, _: String) => pvaled(c) || tvaled(c)
      case In(c, vs) => pvaled(c) && vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    filters // every filter stays a post-scan residual
  }

  override def pushedFilters(): Array[Filter] = accepted

  /** The snapshot files surviving the accepted filters — resolved from
    * log metadata alone ([[FileSkip]], under physical names). A file
    * with no stats for a filtered column is kept, conservatively. */
  private def keptFiles: Seq[String] =
    FileSkip.kept(table.files, table.stats, table.pvals,
      FileSkip.mapCols(accepted.toSeq, table.phys), table.tvals)

  /** Partial aggregate pushdown from parquet footers. Supported: no
    * group-by, or group-by exactly the table's partition column;
    * MIN/MAX/COUNT(col) on footer-stats types, COUNT(*). Anything else —
    * or a snapshot already filter-pruned — refuses, and Spark falls back
    * to the row scan. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!aggEnabled || accepted.nonEmpty || limit.isDefined) return false
    // live deletion vectors: footer statistics describe the FILE's rows,
    // not the mask's survivors — a footer answer would count/extreme
    // deleted rows. Refuse; Spark falls back to the row scan, which
    // reads through the vectors.
    if (table.dvs.nonEmpty) return false
    val grouped = aggregation.groupByExpressions() match {
      case Array() => false
      case Array(FieldRef(c)) if table.partColLogical.contains(c) => true
      case _ => return false
    }
    def field(c: String): Option[StructField] =
      table.tableSchema.fields.find(_.name == c)
    def statType(t: DataType) = t match {
      case LongType | IntegerType | DoubleType | FloatType | BooleanType |
           StringType | DateType => true
      case _ => false
    }
    // a DEFAULTED column's footer statistics lie for pre-evolution
    // files (the footer sees a missing field as all-null, but the scan
    // reads the default — r14 verdict #3): refuse and fall back to the
    // row scan, which applies the defaults. A type-WIDENED column
    // refuses the same way: pre-widening footers carry NARROW-typed
    // statistics objects the wide-typed extraction would miscast.
    def defaulted(c: String) = table.defaults.contains(table.phys(c)) ||
      table.widened.contains(table.phys(c))
    // specs carry the PHYSICAL column name (the footer lookup key); the
    // TYPE comes from the logical schema
    val specs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => CountStarSpec
      case cnt: Count if !cnt.isDistinct =>
        cnt.column() match {
          case FieldRef(c) if field(c).isDefined && !defaulted(c) =>
            CountColSpec(table.phys(c))
          case _ => return false
        }
      case mn: Min => mn.column() match {
        case FieldRef(c) if field(c).exists(f => statType(f.dataType)) &&
            !defaulted(c) =>
          MinSpec(table.phys(c), field(c).get.dataType)
        case _ => return false
      }
      case mx: Max => mx.column() match {
        case FieldRef(c) if field(c).exists(f => statType(f.dataType)) &&
            !defaulted(c) =>
          MaxSpec(table.phys(c), field(c).get.dataType)
        case _ => return false
      }
      case _ => return false
    }
    val gFields = if (grouped)
      Seq(StructField(table.partColLogical.get,
        field(table.partColLogical.get).get.dataType)) else Nil
    val aFields = specs.zipWithIndex.map {
      case (CountStarSpec, i) => StructField(s"agg_$i", LongType)
      case (CountColSpec(_), i) => StructField(s"agg_$i", LongType)
      case (MinSpec(_, t), i) => StructField(s"agg_$i", t)
      case (MaxSpec(_, t), i) => StructField(s"agg_$i", t)
    }
    aggSchema = Some(StructType(gFields ++ aFields))
    aggSpecs = specs
    aggGrouped = grouped
    true
  }

  override def build(): Scan = aggSchema match {
    case Some(sch) =>
      new FooterAggScan(table, sch, aggSpecs, aggGrouped, keptFiles)
    case None =>
      new SnapshotScan(table, required, keptFiles,
        limit.getOrElse(Int.MaxValue), maxGens)
  }
}

/** Tri-state classification of a snapshot file against a conjunction of
  * V1 filters, from LOG METADATA alone (per-file min-max stats and `=`
  * partition values):
  *
  *  - `Full`: every row of the file satisfies every filter
  *  - `None_`: no row can satisfy the conjunction
  *  - `Partial`: mixed or unknown (missing stats, unsupported filter)
  *
  * One classification serves three consumers: scan-time FILE SKIPPING
  * keeps everything ≠ `None_`; metadata DELETE / filtered OVERWRITE are
  * legal only when NO file is `Partial` (file-aligned predicates) and
  * then remove exactly the `Full` files; row-level copy-on-write uses
  * `kept` to bound its candidate set. `Full` trusts the recorded stats
  * to describe every row — the log's writers record stats for the
  * layout KEY (range-cell or partition), which places each row by a
  * non-null key, so a stat-covered column carries no nulls; a file with
  * NO stats for a filtered column is `Partial`, never `Full`. */
private[graft] object FileSkip {
  sealed trait State
  case object Full extends State
  case object None_ extends State
  case object Partial extends State

  /** Derived-value classification against TAGGED value lines (r14
    * verdict #1): the filter literal maps through the same
    * [[graft.operators.PartTransforms]] derivation the writer recorded,
    * and a mismatch kills the file. Identity `=` matches are `Full`
    * (every row carries the value) — as is a `~day` match on a DATE
    * column, whose derived value determines the date exactly; month/
    * year/bucket matches stay `Partial` (the file holds OTHER values
    * mapping to the same derived one). Date tags are order-preserving
    * ISO prefixes, so range filters compare lexicographically. */
  private def derivedOne(tvals: Map[(String, String), (String, String)],
      f: String, flt: Filter): State = {
    import graft.operators.PartTransforms
    def localDate(v: Any): Option[java.time.LocalDate] = v match {
      case d: java.sql.Date => Some(d.toLocalDate)
      case d: java.time.LocalDate => Some(d)
      case _ => None
    }
    // the literal rendered at the file's recorded granularity, plus
    // whether an equal derived value pins the row value exactly
    def derive(tag: String, v: Any): Option[(String, Boolean)] = tag match {
      case "=" => v match {
        case s: String => Some((s, true))
        case l: java.lang.Long => Some((l.toString, true))
        case i: java.lang.Integer => Some((i.toString, true))
        case other => localDate(other) // DATE identity: epoch-day string
          .map(d => (d.toEpochDay.toString, true))
      }
      case "~month" => localDate(v).map(d =>
        (PartTransforms.monthStr(d.toEpochDay.toInt), false))
      case "~day" => localDate(v).map(d =>
        (PartTransforms.dayStr(d.toEpochDay.toInt), true))
      case "~year" => localDate(v).map(d =>
        (PartTransforms.yearStr(d.toEpochDay.toInt), false))
      case t if t.startsWith("#bucket:") =>
        val n = t.substring("#bucket:".length).toInt
        (v match {
          case l: java.lang.Long => Some(PartTransforms.bucketOfLong(l, n))
          case i: java.lang.Integer =>
            Some(PartTransforms.bucketOfLong(i.longValue(), n))
          case s: String => Some(PartTransforms.bucketOfString(s, n))
          case _ => None
        }).map(b => (b.toString, false))
      case _ => None
    }
    def eq(c: String, v: Any): State = tvals.get((f, c)) match {
      case Some((tag, rec)) => derive(tag, v) match {
        case Some((lit, exact)) =>
          if (rec != lit) None_
          else if (exact) Full else Partial
        case None => Partial
      }
      case None => Partial
    }
    // range filters only prune on ORDER-PRESERVING date tags; bucket
    // and identity-string tags fall through as Partial
    def rng(c: String, v: Any)(decide: (Int, Boolean) => State): State =
      tvals.get((f, c)) match {
        case Some((tag, rec)) if tag == "~month" || tag == "~day" ||
            tag == "~year" =>
          derive(tag, v) match {
            case Some((lit, exact)) => decide(rec.compareTo(lit), exact)
            case None => Partial
          }
        case _ => Partial
      }
    flt match {
      case EqualTo(c, v) => eq(c, v)
      case EqualNullSafe(c, v) if v != null => eq(c, v)
      // file-granularity g vs literal granularity: rec > lit means every
      // row's value exceeds every value in the literal's granule
      case GreaterThan(c, v) => rng(c, v) { (cmp, exact) =>
        if (cmp > 0) Full else if (cmp < 0) None_
        else if (exact) None_ else Partial
      }
      case GreaterThanOrEqual(c, v) => rng(c, v) { (cmp, exact) =>
        if (cmp > 0) Full else if (cmp < 0) None_
        else if (exact) Full else Partial
      }
      case LessThan(c, v) => rng(c, v) { (cmp, exact) =>
        if (cmp < 0) Full else if (cmp > 0) None_
        else if (exact) None_ else Partial
      }
      case LessThanOrEqual(c, v) => rng(c, v) { (cmp, exact) =>
        if (cmp < 0) Full else if (cmp > 0) None_
        else if (exact) Full else Partial
      }
      case _ => Partial
    }
  }

  private def one(stats: Map[(String, String), (Long, Long)],
      pvals: Map[String, (String, String)], f: String,
      flt: Filter): State = {
    def range(c: String)(full: (Long, Long) => Boolean)
        (none: (Long, Long) => Boolean): State =
      stats.get((f, c)) match {
        case Some((lo, hi)) =>
          if (full(lo, hi)) Full else if (none(lo, hi)) None_ else Partial
        case None => Partial
      }
    def pv(c: String)(matches: String => Boolean): State =
      pvals.get(f) match {
        case Some((pc, v)) if pc == c => if (matches(v)) Full else None_
        case _ => Partial
      }
    flt match {
      case AlwaysTrue() => Full
      case GreaterThan(c, v: java.lang.Long) =>
        range(c)((lo, _) => lo > v)((_, hi) => hi <= v)
      case GreaterThanOrEqual(c, v: java.lang.Long) =>
        range(c)((lo, _) => lo >= v)((_, hi) => hi < v)
      case LessThan(c, v: java.lang.Long) =>
        range(c)((_, hi) => hi < v)((lo, _) => lo >= v)
      case LessThanOrEqual(c, v: java.lang.Long) =>
        range(c)((_, hi) => hi <= v)((lo, _) => lo > v)
      case EqualTo(c, v: java.lang.Long) =>
        range(c)((lo, hi) => lo == v && hi == v)((lo, hi) => v < lo || v > hi)
      case EqualTo(c, v: String) => pv(c)(_ == v)
      // a static PARTITION (c = 'x') overwrite arrives null-safe; for a
      // non-null literal it is EqualTo (partition values are never null)
      case EqualNullSafe(c, v: java.lang.Long) if v != null =>
        range(c)((lo, hi) => lo == v && hi == v)((lo, hi) => v < lo || v > hi)
      case EqualNullSafe(c, v: String) if v != null => pv(c)(_ == v)
      case In(c, vs) if vs.forall(_.isInstanceOf[String]) =>
        val set = vs.collect { case s: String => s }.toSet
        pv(c)(set)
      case _ => Partial
    }
  }

  /** The conjunction's state per file: any `None_` conjunct kills the
    * file; all-`Full` is `Full`; anything else is `Partial`. A filter
    * the range/pvals path leaves `Partial` gets a second look against
    * the tagged derived values when `tvals` is supplied — the stricter
    * of the two classifications wins (None_ > Full > Partial). */
  def classify(files: Seq[String],
      stats: Map[(String, String), (Long, Long)],
      pvals: Map[String, (String, String)],
      filters: Seq[Filter],
      tvals: Map[(String, String), (String, String)] = Map.empty)
      : Map[String, State] =
    files.map { f =>
      val states = filters.map { flt =>
        one(stats, pvals, f, flt) match {
          case Partial if tvals.nonEmpty => derivedOne(tvals, f, flt)
          case s => s
        }
      }
      f -> (if (states.contains(None_)) None_
            else if (states.forall(_ == Full)) Full
            else Partial)
    }.toMap

  /** Scan-time skipping: every file the conjunction might touch. */
  def kept(files: Seq[String], stats: Map[(String, String), (Long, Long)],
      pvals: Map[String, (String, String)], filters: Seq[Filter],
      tvals: Map[(String, String), (String, String)] = Map.empty)
      : Seq[String] = {
    val c = classify(files, stats, pvals, filters, tvals)
    files.filter(c(_) != None_)
  }

  /** File-aligned iff no file is `Partial` — the metadata-DELETE /
    * filtered-OVERWRITE legality test. */
  def aligned(files: Seq[String],
      stats: Map[(String, String), (Long, Long)],
      pvals: Map[String, (String, String)], filters: Seq[Filter],
      tvals: Map[(String, String), (String, String)] = Map.empty): Boolean =
    !classify(files, stats, pvals, filters, tvals).values.exists(_ == Partial)

  /** The files every row of which matches — what an aligned DELETE or
    * OVERWRITE retires. */
  def full(files: Seq[String],
      stats: Map[(String, String), (Long, Long)],
      pvals: Map[String, (String, String)], filters: Seq[Filter],
      tvals: Map[(String, String), (String, String)] = Map.empty)
      : Seq[String] = {
    val c = classify(files, stats, pvals, filters, tvals)
    files.filter(c(_) == Full)
  }

  /** Rewrite the filters' column names (logical → physical, for mapped
    * tables) before classifying against the log's stored names. Shapes
    * outside the supported set pass through — they classify `Partial`
    * either way. */
  def mapCols(filters: Seq[Filter], m: String => String): Seq[Filter] =
    filters.map {
      case GreaterThan(c, v) => GreaterThan(m(c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(m(c), v)
      case LessThan(c, v) => LessThan(m(c), v)
      case LessThanOrEqual(c, v) => LessThanOrEqual(m(c), v)
      case EqualTo(c, v) => EqualTo(m(c), v)
      case EqualNullSafe(c, v) => EqualNullSafe(m(c), v)
      case In(c, vs) => In(m(c), vs)
      case f => f
    }
}

/** `FieldReference` with one name part — the only column shape the log
  * table stores. */
private object FieldRef {
  def unapply(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }
}

sealed trait AggSpec extends Serializable
case object CountStarSpec extends AggSpec
final case class CountColSpec(col: String) extends AggSpec
final case class MinSpec(col: String, dt: DataType) extends AggSpec
final case class MaxSpec(col: String, dt: DataType) extends AggSpec

final case class FilePartition(files: Seq[String]) extends InputPartition

/** A partition-value group: all snapshot files recorded under `value`
  * for the table's partition column — the SPJ unit. */
final case class KeyedPartition(files: Seq[String], key: Any)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(key)
}

final case class AggPartition(files: Seq[String], group: Option[String])
    extends InputPartition

/** The row-scan: per-file splits, or per-partition-value splits
  * reporting `KeyGroupedPartitioning` when the layout supports it.
  * Runtime V2 filters (DPP IN-sets on the partition column) drop value
  * groups before planning. */
final class SnapshotScan(table: GraftLogTable, required: StructType,
    files0: Seq[String], limit: Int = Int.MaxValue,
    maxGens: Option[Int] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering
    with SupportsReportStatistics {

  @volatile private var files: Seq[String] = files0

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft log snapshot ${table.root}@${table.gen}"

  /** `spark.readStream.table(...)` on a catalog log table: the q176
    * change-feed stream from the beginning of the log — offsets are
    * generations, each micro-batch reads exactly one delta's files, and
    * the `maxGensPerTrigger` read option bounds a catch-up batch (the
    * glog admission-control contract). Unsupported pushdowns (limit,
    * aggregates) never reach streaming plans, and metadata columns are
    * a batch-only surface. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(table.branch.isEmpty,
      "table: streaming reads over a branch head are not supported — " +
        "the branch is one moving ref, not an offset log; stream the " +
        "main table or publish first")
    require(!required.fieldNames.contains(FileMetaColumn.NAME) &&
        !required.fieldNames.contains(PosMetaColumn.NAME),
      "table: the _file/_pos metadata columns are batch-only")
    new graft.sources.cdf.CdfMicroBatchStream(required, table.root,
      -1, maxGens)
  }

  /** The PRUNED scan's byte size, from one data-dir listing — what lets
    * Catalyst broadcast a dimension (or a well-filtered fact window)
    * without hints. A DSv2 scan with no statistics defaults to
    * `defaultSizeInBytes` = "never broadcast", which at 100 TB turns
    * every dim join into a shuffle. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.iterator.map(table.fileSizes).sum
    // rowCount is exact when every kept file has a logged `nrows` line;
    // any pre-nrows file makes it unknown rather than under-counted.
    // DV-masked rows never surface, so the logged cardinalities come off
    private val rows: Option[Long] = {
      val counts = files.map(table.fileRows.get)
      if (files.nonEmpty && counts.forall(_.isDefined))
        Some(counts.flatten.sum -
          files.iterator.flatMap(table.dvs.get).map(_._2).sum)
      else None
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    // COLUMN statistics (ANALYZE-style NDV — r19): per-file HLL
    // sketches from the log UNION over exactly the PRUNED file set, so
    // the distinct count tracks the scan Catalyst is actually costing;
    // a column any surviving file lacks a sketch for reports nothing
    // (conservative, never wrong). This is the cardinality food
    // CBO join estimation wants beyond row/byte counts.
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (table.ndvSketches.nonEmpty) required.fieldNames.foreach { n =>
        val p = table.phys(n)
        val sketches = files.map(f => table.ndvSketches.get((f, p)))
        if (files.nonEmpty && sketches.forall(_.isDefined)) {
          val u = new org.apache.datasketches.hll.Union(12)
          sketches.flatten.foreach(b =>
            u.update(org.apache.datasketches.hll.HllSketch.heapify(b)))
          val ndv = math.max(1L, math.round(u.getEstimate))
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(n),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(ndv)
            })
        }
      }
      out
    }
  }

  /** Partition-value groups, sorted by value — stable split planning. */
  private def groups: Seq[(String, Seq[String])] =
    files.groupBy(f => table.pvals(f)._2).toSeq.sortBy(_._1)

  private def keyVal(v: String): Any =
    table.tableSchema.fields.find(_.name == table.partColLogical.get)
      .map(_.dataType) match {
      case Some(StringType) => UTF8String.fromString(v)
      case Some(LongType) => v.toLong
      // DATE partition values are logged as the epoch-day int string (the
      // writer's valueOf), and DateType is epoch-day int in catalyst —
      // same representation (r14 ADVICE: write accepted, scan threw)
      case Some(IntegerType) | Some(DateType) => v.toInt
      case other => throw new IllegalArgumentException(
        s"table: unsupported partition key type $other")
    }

  override def planInputPartitions(): Array[InputPartition] =
    table.partCol match {
      case Some(_) =>
        groups.map { case (v, fs) =>
          KeyedPartition(fs.sorted, keyVal(v)): InputPartition
        }.toArray
      case None => files.sorted.map(f =>
        FilePartition(Seq(f)): InputPartition).toArray
    }

  override def outputPartitioning(): Partitioning = table.partColLogical match {
    case Some(c) =>
      new KeyGroupedPartitioning(Array(Expressions.identity(c)), groups.size)
    case None => new UnknownPartitioning(files.size)
  }

  override def filterAttributes(): Array[NamedReference] =
    table.partColLogical.map(c => Expressions.column(c)).toArray

  /** Runtime group filtering: the DPP subquery's IN-set (or equality)
    * on the partition column prunes value groups — files of an excluded
    * value are never opened. Unrecognized predicates are ignored
    * (pruning is optional, Spark re-filters rows). */
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val c = table.partColLogical.getOrElse(return)
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Some(String.valueOf(l.value()))
      case _ => None
    }
    predicates.foreach { p =>
      val kids = p.children()
      p.name() match {
        case "IN" if kids.length >= 2 && FieldRef.unapply(kids(0)) == Some(c) =>
          val vals = kids.drop(1).flatMap(lit).toSet
          if (vals.size == kids.length - 1)
            files = files.filter(f => vals(table.pvals(f)._2))
        case "=" if kids.length == 2 =>
          (FieldRef.unapply(kids(0)), lit(kids(1))) match {
            case (Some(`c`), Some(v)) =>
              files = files.filter(f => table.pvals(f)._2 == v)
            case _ => ()
          }
        case _ => ()
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotReaderFactory(required, table.root, limit,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()), table.colmap,
      table.dvPaths(files), table.defaults)
}

final case class SnapshotReaderFactory(schema: StructType, root: String,
    limit: Int,
    conf: org.apache.spark.util.SerializableConfiguration,
    colmap: Map[String, String] = Map.empty,
    dvs: Map[String, String] = Map.empty,
    defaults: Map[String, Any] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val fs = partition match {
      case FilePartition(fl) => fl
      case KeyedPartition(fl, _) => fl
      case other => throw new IllegalArgumentException(s"table: $other")
    }
    new ChainedReader(fs, schema, root, limit, conf.value, colmap, dvs,
      defaults)
  }
}

/** Sequential per-file readers (the q186 parquet record reader), chained
  * over one split's files. A pushed LIMIT stops the chain — files past
  * the limit are never opened. The `_file` metadata column, when
  * requested, rides the reader's constant-fill path: it costs nothing
  * and is never part of the parquet projection.
  *
  * DELETION VECTORS read through here (r13 verdict #1): a file with a
  * live DV loads its sidecar ONCE, executor-side (per-task memory = one
  * file's positions, the bound Delta's DV reader has), and the chain
  * skips masked row positions as it pulls — records arrive in file
  * order, so one forward pointer over the sorted positions masks in
  * O(rows + deletes). The empty-projection (count-star) path is
  * positionally uniform, so skipping any |mask| rows is exact there
  * too. */
final class ChainedReader(names: Seq[String], schema: StructType,
    root: String, limit: Int, conf: org.apache.hadoop.conf.Configuration,
    colmap: Map[String, String] = Map.empty,
    dvs: Map[String, String] = Map.empty,
    defaults: Map[String, Any] = Map.empty)
    extends PartitionReader[InternalRow] {
  private val wantsFile = schema.fieldNames.contains(FileMetaColumn.NAME)
  // `_pos` (merge-on-read row id): filled from the PHYSICAL row counter
  // below — rowPos counts masked rows too, so positions are stable under
  // deletion vectors and address the file's rows exactly
  private val posIdx = schema.fieldNames.indexOf(PosMetaColumn.NAME)
  private val it = names.iterator
  private var cur: CdfPartitionReader = _
  private var emitted = 0L
  private var mask: Array[Long] = _ // sorted deleted positions, or null
  private var maskIdx = 0
  private var rowPos = 0L
  private var curPos = 0L // physical position of the row get() serves

  override def next(): Boolean = {
    if (emitted >= limit) return false
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        val f = it.next()
        val p = TimeTravel.dataPath(root, f)
        TableMetrics.openedDataFiles.add(p)
        val fill =
          if (wantsFile) Map(FileMetaColumn.NAME -> f) else Map.empty[String, String]
        cur = new CdfPartitionReader(p, schema, conf, fill, colmap,
          defaults)
        mask = dvs.get(f).map(TimeTravel.readPositions(_, conf)).orNull
        maskIdx = 0
        rowPos = 0L
      }
      if (cur.next()) {
        val pos = rowPos
        rowPos += 1
        if (mask == null) { curPos = pos; emitted += 1; return true }
        while (maskIdx < mask.length && mask(maskIdx) < pos) maskIdx += 1
        if (maskIdx < mask.length && mask(maskIdx) == pos) {
          maskIdx += 1 // masked row: skip, keep pulling
        } else { curPos = pos; emitted += 1; return true }
      } else { cur.close(); cur = null } // fall through to the next file
    }
    false // unreachable
  }
  override def get(): InternalRow = {
    val r = cur.get()
    if (posIdx >= 0) r match {
      case g: org.apache.spark.sql.catalyst.expressions.GenericInternalRow =>
        g.update(posIdx, curPos)
      case other => throw new IllegalStateException(
        s"table: _pos injection expects a generic row, got ${other.getClass}")
    }
    r
  }
  override def close(): Unit = if (cur != null) cur.close()
}

/** The footer-only aggregate scan: each split merges its files' parquet
  * footer statistics into ONE pre-aggregated row — no record assembly,
  * no data pages. Spark's final aggregation merges the splits. */
final class FooterAggScan(table: GraftLogTable, aggSchema: StructType,
    specs: Seq[AggSpec], grouped: Boolean, files: Seq[String])
    extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft log footer aggregate ${table.root}@${table.gen}"

  override def planInputPartitions(): Array[InputPartition] =
    if (grouped)
      files.groupBy(f => table.pvals(f)._2).toSeq.sortBy(_._1)
        .map { case (v, fs) =>
          AggPartition(fs.sorted, Some(v)): InputPartition
        }.toArray
    else files.sorted.map(f =>
      AggPartition(Seq(f), None): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    FooterAggReaderFactory(table.root, aggSchema, specs,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))
}

final case class FooterAggReaderFactory(root: String, aggSchema: StructType,
    specs: Seq[AggSpec],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AggPartition]
    new FooterAggReader(p.files.map(f => TimeTravel.dataPath(root, f)),
      p.group, aggSchema, specs, conf.value)
  }
}

/** Executor-side footer fold: opens each file's FOOTER (never a data
  * page), merges per-block row counts, null counts and typed min/max
  * into the split's single output row. A file that predates a column
  * contributes all-nulls for it — the same schema-on-read contract the
  * row path applies. Unusable statistics refuse loudly (re-run with
  * option aggPushdown=false) — loud beats silently wrong. */
final class FooterAggReader(paths: Seq[String], group: Option[String],
    aggSchema: StructType, specs: Seq[AggSpec],
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private var done = false

  /** Per-column fold of the split's footers: null count plus every
    * row-group's (min, max) pair. */
  private final class ColAcc {
    var nulls = 0L
    val mms = Seq.newBuilder[(Any, Any)]
  }

  /** ONE footer pass over the split's files — every spec is answered
    * from this fold, so a file's footer is opened exactly once no matter
    * how many aggregates the query carries. A file that predates a
    * column contributes all-nulls for it — the same schema-on-read
    * contract the row path applies. */
  private lazy val folded: (Long, Map[String, (Long, Seq[(Any, Any)])]) = {
    val needCols = specs.collect {
      case CountColSpec(c) => c
      case MinSpec(c, _) => c
      case MaxSpec(c, _) => c
    }.distinct
    var rows = 0L
    val accs = needCols.map(c => c -> new ColAcc).toMap
    paths.foreach { p =>
      TableMetrics.footerOnlyFiles.add(p)
      val r = graft.Tables.openParquet(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(p), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.foreach { b =>
          rows += b.getRowCount
          accs.foreach { case (col, acc) =>
            b.getColumns.asScala.find(_.getPath.toDotString == col) match {
              case None => acc.nulls += b.getRowCount // pre-column file
              case Some(cc) =>
                val st = cc.getStatistics
                require(st != null && st.isNumNullsSet,
                  s"table: $p has no usable statistics for $col — " +
                    "re-run with option aggPushdown=false")
                acc.nulls += st.getNumNulls
                if (st.hasNonNullValue)
                  acc.mms += ((st.genericGetMin, st.genericGetMax))
                else require(st.getNumNulls == b.getRowCount,
                  s"table: $p statistics for $col carry no min/max — " +
                    "re-run with option aggPushdown=false")
            }
          }
        }
      } finally r.close()
    }
    (rows, accs.map { case (c, a) => c -> (a.nulls, a.mms.result()) })
  }

  private def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (x: java.lang.Long, LongType) => x.longValue()
    case (x: java.lang.Integer, IntegerType | DateType) => x.intValue()
    case (x: java.lang.Double, DoubleType) => x.doubleValue()
    case (x: java.lang.Float, FloatType) => x.floatValue()
    case (x: java.lang.Boolean, BooleanType) => x.booleanValue()
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      UTF8String.fromBytes(b.getBytes)
    case other => throw new IllegalArgumentException(
      s"table: unsupported footer statistic $other")
  }

  private def ord(dt: DataType): Ordering[Any] = (dt match {
    case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case IntegerType | DateType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    case DoubleType => Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
    case FloatType => Ordering.Float.TotalOrdering.on[Any](_.asInstanceOf[Float])
    case BooleanType => Ordering.Boolean.on[Any](_.asInstanceOf[Boolean])
    case StringType => Ordering.comparatorToOrdering(
      (a: Any, b: Any) => a.asInstanceOf[UTF8String]
        .compareTo(b.asInstanceOf[UTF8String]))
    case other => throw new IllegalArgumentException(s"table: $other")
  })

  private lazy val row: InternalRow = {
    val (totalRows, byCol) = folded
    val vals = specs.map {
      case CountStarSpec => totalRows: Any
      case CountColSpec(c) => (totalRows - byCol(c)._1): Any
      case MinSpec(c, dt) =>
        val mms = byCol(c)._2
        if (mms.isEmpty) null
        else mms.map { case (mn, _) => toCatalyst(mn, dt) }.min(ord(dt))
      case MaxSpec(c, dt) =>
        val mms = byCol(c)._2
        if (mms.isEmpty) null
        else mms.map { case (_, mx) => toCatalyst(mx, dt) }.max(ord(dt))
    }
    val g = group.map(v =>
      toCatalystKey(v, aggSchema.fields.head.dataType)).toSeq
    InternalRow.fromSeq(g ++ vals)
  }

  private def toCatalystKey(v: String, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(v)
    case LongType => v.toLong
    case IntegerType | DateType => v.toInt // DATE: epoch-day int string
    case other => throw new IllegalArgumentException(
      s"table: unsupported partition key type $other")
  }

  override def next(): Boolean =
    if (done) false else { done = true; row; true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
